"""Dictionary file-format loaders (S3-S9) — format parity with the
reference parsers (detector.py:157-208, corrector.py:48-109,
proper_corrector.py:38-60, en_spell_corrector.py:44-56)."""

import gzip
import json
import os

import pytest

from pycorrector_spark.dictio import (
    data_dir,
    full_dims,
    load_confusion_dict,
    load_json_gz_freq,
    load_kv_dict,
    load_same_pinyin,
    load_same_stroke,
    load_set_file,
    load_word_freq_dict,
)


def _write(tmp_path, name, text):
    p = tmp_path / name
    p.write_text(text, encoding="utf-8")
    return str(p)


def test_word_freq_dict_format(tmp_path):
    p = _write(
        tmp_path,
        "wf.txt",
        "# comment line\n我们 1243\n单词\n  \nword 7 extra-col-ignored\n",
    )
    wf = load_word_freq_dict(p)
    # freq defaults to 1 when absent; extra columns ignored; blank + comment skipped
    assert wf == {"我们": 1243, "单词": 1, "word": 7}


def test_word_freq_dict_missing_file():
    assert load_word_freq_dict("/nonexistent/path.txt") == {}
    assert load_word_freq_dict(None) == {}


def test_confusion_dict_side_effect_updates_word_freq(tmp_path):
    p = _write(tmp_path, "conf.txt", "#c\n因该 应该 100\n让坐 让座\nshort\n")
    wf = {}
    conf = load_confusion_dict(p, wf)
    assert conf == {"因该": "应该", "让坐": "让座"}
    # freq column registers the TRUTH into word_freq (detector.py:183-208)
    assert wf == {"应该": 100, "让座": 1}


def test_set_file(tmp_path):
    p = _write(tmp_path, "s.txt", "# header\n甘拜下风\n\n自暴自弃\n")
    assert load_set_file(p) == {"甘拜下风", "自暴自弃"}


def test_same_pinyin_unions_both_tone_columns(tmp_path):
    p = _write(
        tmp_path,
        "sp.txt",
        "#汉字\t同音同调\t同音异调\n一\t壹\t漪\n乙\t已\t亿艺\nskip-2col\tx\n",
    )
    sp = load_same_pinyin(p)
    assert sp == {"一": {"壹", "漪"}, "乙": {"已", "亿", "艺"}}


def test_same_stroke_symmetric_accumulation(tmp_path):
    p = _write(tmp_path, "ss.txt", "龚\t龛\t垄\n龙\t垄\n")
    ss = load_same_stroke(p)
    assert ss["龚"] == {"龛", "垄"}
    assert ss["龛"] == {"龚", "垄"}
    # 垄 appears in both rows: union across rows
    assert ss["垄"] == {"龚", "龛", "龙"}
    assert ss["龙"] == {"垄"}


def test_kv_dict(tmp_path):
    p = _write(tmp_path, "kv.txt", "# 笔划\n一\th\n丁\ths\nonlykey\n")
    assert load_kv_dict(p) == {"一": "h", "丁": "hs"}


def test_json_gz_freq_filter(tmp_path):
    p = tmp_path / "en.json.gz"
    with gzip.open(str(p), "wb") as f:
        f.write(json.dumps({"the": 5000, "rare": 400, "ok": 401}).encode())
    # strict freq > 400 (en_spell_corrector.py:49-51)
    assert load_json_gz_freq(str(p)) == {"the": 5000, "ok": 401}


@pytest.mark.skipif(data_dir() is None, reason="reference data files not staged")
def test_full_dims_reference_scale():
    dims = full_dims()
    # sizes from the public data files (VERDICT.md missing-item 1)
    assert len(dims["common_chars"]) == 3502
    assert len(dims["same_pinyin"]) > 3000
    assert len(dims["stroke_codes"]) > 12000
    assert len(dims["person_names"]) > 13000
    assert len(dims["place_names"]) > 40000
    assert len(dims["en_word_freq"]) > 29000
    # spot values
    assert "的" in dims["common_chars"]
    assert dims["stroke_codes"]["一"] == "h"


@pytest.mark.skipif(data_dir() is None, reason="reference data files not staged")
def test_full_artifacts_build_and_correct():
    from pycorrector_spark.operators.score import build_full_artifacts, make_workers

    art = build_full_artifacts()
    zh, en = make_workers(art)
    # full similar-char union: same_pinyin ∪ same_stroke per char
    assert len(art.similar) > 3000
    # english: real dict word corrected via the 30k vocabulary
    res = en.correct("this sentense has a mistake")
    assert res["target"] == "this sentence has a mistake"
    # reference wiring (detector.py:133-150): the 58k person/place names
    # merge into the WORD-FREQ dict (segmentation vocabulary + OOV
    # whitelist), NOT the proper corrector — which gets only the curated
    # proper_name.txt list, so common words are never force-rewritten
    # into person names
    assert len(zh.word_freq) > 55_000
    assert "毛泽东" in zh.word_freq          # person_name.txt row
    assert zh.proper is not None
    assert len(zh.proper.names) == 13        # proper_name.txt entries
    # C1 same-pinyin machinery at reference structure: polyphone-correct
    # reading SETS (no union-find transitive merge)
    assert len(zh.pinyin_readings) > 3000
    assert len(zh._char_universe) == 3502    # common_char_set.txt
    # polyphone sanity: 长 (chang2/zhang3) must NOT be a homophone of a
    # char it only reaches through a multi-hop class merge; it IS its own
    # homophone and shares a reading with 常 (chang2)
    assert zh._same_char_pinyin("长", "长")
    assert zh._same_char_pinyin("长", "常")
    # a clean sentence must come back untouched (the old over-wired
    # proper stage rewrote 老人 into a person name)
    assert zh.correct("少先队员应该为老人让座")["errors"] == []


def test_toy_dims_fallback_warns(monkeypatch):
    import pycorrector_spark.dictio as dictio
    from pycorrector_spark.operators.score import build_full_artifacts

    monkeypatch.setattr(dictio, "data_dir", lambda: None)
    with pytest.warns(UserWarning, match="embedded toy dims") as rec:
        build_full_artifacts()
    assert len(rec) == 1
    msg = str(rec[0].message)
    assert "reference dims not found" in msg
    assert "PYCORRECTOR_SPARK_DATA_DIR" in msg

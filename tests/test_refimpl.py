"""Behavioral tests of the serial reference-semantics oracle (refimpl.core).

Models the reference's own golden tests: tests/test_confusion.py,
tests/detector_test.py, tests/en_spell_correct_test.py — same contract
shapes, same kinds of asserts, on our deterministic fixture dictionaries.
"""

import pytest

from pycorrector_spark.refimpl.core import ConfusionCorrector


# -- detector --

def test_detect_confusion_variant(zh):
    errs = zh.detect("少先队员因该为老人让座")
    words = [e[0] for e in errs]
    assert "因该" in words
    e = next(e for e in errs if e[0] == "因该")
    assert (e[1], e[2], e[3]) == (4, 6, "confusion")


def test_detect_clean_sentence_has_no_confusion_errors(zh):
    errs = zh.detect("少先队员应该为老人让座")
    assert all(e[3] != "confusion" for e in errs)


def test_detect_empty_and_junk(zh):
    assert zh.detect("") == []
    assert zh.detect("   ") == []
    zh.detect(" _ ,")  # degenerate row (reference detector_test.py:65) — no crash


def test_detect_positions_are_global(zh):
    # error in the second fragment: begin/end offsets must include the
    # first fragment + separator (reference keeps global spans via start_idx)
    text = "你好！少先队员因该为老人让座"
    errs = zh.detect(text)
    e = next(e for e in errs if e[0] == "因该")
    assert text[e[1]:e[2]] == "因该"


def test_detect_sorted_by_begin(zh):
    errs = zh.detect("少先队员因该为老人让坐，化学成份测量")
    begins = [e[1] for e in errs]
    assert begins == sorted(begins)


def test_detect_applies_uniform(zh):
    # fullwidth letters are width-folded before detection (detector.py:490)
    errs_full = zh.detect("少先队员因该为老人让座ＡＢＣ")
    assert any(e[0] == "因该" for e in errs_full)


# -- corrector --

def test_correct_confusion_pair(zh):
    res = zh.correct("少先队员因该为老人让座")
    assert res["target"] == "少先队员应该为老人让座"
    assert ("因该", "应该", 4) in res["errors"]
    assert res["source"] == "少先队员因该为老人让座"


def test_correct_similar_char_swap(zh):
    # 平净 -> 平静 via LM outlier + similar-char candidates
    res = zh.correct("一只小渔船浮在平净的河面上")
    assert res["target"] == "一只小渔船浮在平静的河面上"


def test_correct_clean_is_identity(zh):
    for s in ["少先队员应该为老人让座", "我的家乡是有名的鱼米之乡"]:
        res = zh.correct(s)
        assert res["target"] == s and res["errors"] == []


def test_correct_result_contract(zh):
    # result dict contract {'source','target','errors'} — reference
    # tests/test_confusion.py asserts exactly these keys
    res = zh.correct("想不想在来一次比赛")
    assert set(res) == {"source", "target", "errors"}
    for err, corr, pos in res["errors"]:
        assert isinstance(err, str) and isinstance(corr, str) and isinstance(pos, int)


def test_correct_preserves_symbols(zh):
    text = "你好！少先队员因该为老人让座。"
    res = zh.correct(text)
    assert res["target"] == "你好！少先队员应该为老人让座。"


def test_correct_no_uniform_asymmetry(zh):
    # correct() must NOT width-fold/lowercase its output (corrector.py:285
    # vs detector.py:490): fullwidth chars survive in target
    text = "ＡＢＣ少先队员应该为老人让座"
    res = zh.correct(text)
    assert res["target"].startswith("ＡＢＣ")


DETECT_AND_CORRECT_TEXTS = [
    "你好，少先队员因该为老人让座！（化学成份）测量。",   # full-width ，！（）
    "ＡＢ１少先队员因该为老人让座",                        # full-width letters/digits
    "少先队员USB因该为老人让座，GPU测量",                  # uppercase Latin
    "İ少先队员因该为老人让座",                              # lower() changes length
    "少先队员İ因该为老人让座。İİ一只小渔船浮在平净的河面上",
    "",
    " \t\n ",
    "，。！？@#%",
]


def _zh_texts_of_make_docs():
    from pycorrector_spark.fixtures import make_docs

    docs = make_docs(200)
    return docs.loc[docs["lang"] == "zh", "text"].tolist()


@pytest.mark.parametrize("workers", ["zh", "full_workers"])
def test_detect_and_correct_matches_separate_calls(workers, request):
    zh = request.getfixturevalue(workers)
    if workers == "full_workers":
        zh = zh[0]
    texts = DETECT_AND_CORRECT_TEXTS + _zh_texts_of_make_docs()
    assert len(texts) > 100
    got = zh.detect_and_correct_batch(texts)
    assert len(got) == len(texts)
    for t, pair in zip(texts, got):
        assert pair == (zh.detect(t), zh.correct(t)), t


# -- forced confusion corrector --

def test_confusion_corrector_forced_replace():
    cc = ConfusionCorrector({"因该": "应该", "让坐": "让座"})
    res = cc.correct("少先队员因该为老人让坐")
    assert res["target"] == "少先队员应该为老人让座"
    assert ("因该", "应该", 4) in res["errors"]
    assert ("让坐", "让座", 9) in res["errors"]


def test_confusion_corrector_no_match_identity():
    cc = ConfusionCorrector({"因该": "应该"})
    res = cc.correct("万事如意")
    assert res["target"] == "万事如意" and res["errors"] == []


# -- english Norvig corrector --

@pytest.mark.parametrize("wrong,right", [
    ("speling", "spelling"),
    ("corect", "correct"),
    ("bycycle", "bicycle"),
    ("arrainged", "arranged"),
])
def test_en_spell_golden_pairs(en, wrong, right):
    # reference tests/en_spell_correct_test.py:19-36 golden pairs
    assert en.correct_word(wrong) == right


def test_en_spell_known_word_unchanged(en):
    assert en.correct_word("the") == "the"
    assert en.correct_word("data") == "data"


def test_en_spell_sentence_splice(en):
    res = en.correct("this speling is corect")
    assert res["target"] == "this spelling is correct"
    assert [(e[0], e[1]) for e in res["errors"]] == [("speling", "spelling"), ("corect", "correct")]
    # positions are offsets into the source
    for err, corr, pos in res["errors"]:
        assert res["source"][pos:pos + len(err)] == err


def test_en_spell_skips_single_letters_and_digits(en):
    res = en.correct("a 1 22 b")
    assert res["target"] == "a 1 22 b"


def test_en_candidates_edit_distance_order(en):
    # known([word]) wins over edits1 over edits2 (en_spell_corrector.py:98-104)
    assert en.candidates("the") == {"the"}
    c1 = en.candidates("thw")
    assert "the" in c1


def test_same_pinyin_word_candidates(zh):
    # 权利 (not a dict word) -> 权力 (dict word, identical toneless pinyin,
    # one replacement away) via the same-pinyin word set
    assert "权力" in zh.generate_items("权利")
    # exact candidate set: ONLY the same-pinyin dict word — any extra
    # entry (spurious transpose, input echo) fails, which is the actual
    # no-spurious-candidates invariant
    assert zh.generate_items("权利") == ["权力"]

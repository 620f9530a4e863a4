"""Traditional->simplified (P7), homophones (P8) and the CLI entry point
(S1/S2 file->TSV flow)."""

from __future__ import annotations

import glob

import pandas as pd

from pycorrector_spark.dicts import PINYIN_ZH, T2S_CHARS
from pycorrector_spark.textops import longest_match_rewrite, t2s, t2s_series


def test_t2s_single_chars():
    assert t2s("東風與馬") == "东风与马"
    # untouched: already-simplified + non-CJK
    assert t2s("abc 已经。") == "abc 已经。"


def test_t2s_series_matches_scalar():
    s = pd.Series(["學習時間", "", None, "買賣東西 ok"])
    out = t2s_series(s)
    assert out.tolist() == [t2s("學習時間"), "", "", t2s("買賣東西 ok")]


def test_t2s_table_is_injective_enough_for_translate():
    # translate() is a codepoint map: every key must be exactly one char
    assert all(len(k) == 1 and len(v) == 1 for k, v in T2S_CHARS.items())


def test_longest_match_prefers_longer_key():
    table = {"臺": "台", "臺灣": "台湾", "灣": "湾"}
    # 與 not in the table -> passes through
    assert longest_match_rewrite("臺灣與臺", table) == "台湾與台"


def test_longest_match_empty_and_missing():
    assert longest_match_rewrite("", {"a": "b"}) == ""
    assert longest_match_rewrite("xyz", {}) == "xyz"
    assert longest_match_rewrite("xyz", {"a": "b"}) == "xyz"


def test_pinyin_dict_shape():
    assert all(len(k) == 1 for k in PINYIN_ZH)
    # similar-char groups share readings (the same-pinyin candidate basis)
    assert PINYIN_ZH["座"] == PINYIN_ZH["坐"] == "zuo"


def test_cli_text_mode(spark, tmp_path):
    inp = tmp_path / "docs.txt"
    inp.write_text(
        "this is a perfectly normal english sentence for the pipeline\n"
        "!!!???***###\n",
        encoding="utf-8",
    )
    out = tmp_path / "out"
    from pycorrector_spark.__main__ import main

    main(["--input", str(inp), "--output", str(out), "--format", "text"])
    parts = glob.glob(str(out / "part-*"))
    assert parts
    lines = []
    for p in parts:
        with open(p, encoding="utf-8") as f:
            lines += [ln.rstrip("\n") for ln in f if ln.strip()]
    assert len(lines) == 2
    decisions = {ln.split("\t")[1] for ln in lines}
    assert decisions == {"true", "false"}


def test_cli_parquet_resume_mode(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            ("u1", "a quiet morning walk is good for the mind and body", "en"),
            ("u2", "###", "und"),
        ],
        "url string, text string, lang string",
    ).selectExpr(
        "url", "current_timestamp() AS warc_ts",
        "encode(text, 'utf-8') AS html", "text", "lang",
    )
    src = tmp_path / "in"
    docs.write.parquet(str(src))
    out = tmp_path / "out"
    from pycorrector_spark.__main__ import main

    main(["--input", str(src), "--output", str(out), "--format", "parquet"])
    got = spark.read.parquet(str(out / "docs_out"))
    assert got.count() == 2
    # second run is a no-op (resume anti-join)
    main(["--input", str(src), "--output", str(out), "--format", "parquet"])
    assert spark.read.parquet(str(out / "docs_out")).count() == 2
    # audit: per-partition rows cover every processed doc exactly once
    # (the second run processed zero rows -> no per-partition rows), and
    # the partition_id=-1 summary markers record one run_id PER run —
    # including the empty resume
    audit = spark.read.parquet(str(out / "audit"))
    per_part = audit.filter("partition_id >= 0")
    assert per_part.agg({"n_rows": "sum"}).first()[0] == 2
    assert audit.filter("partition_id = -1").count() == 2


def test_confusion_pool_oracle_matches_serial_corrector():
    """The zh_confusion oracle is now a generated VALUES table of expected
    targets per pool index (round 1's chained-replace oracle was only
    valid while fixture sentences avoided overlapping variant
    occurrences). Verify the generated SQL end-to-end in DuckDB against
    the serial corrector on every pool sentence."""
    import duckdb

    from __spark_entry__ import _zh_confusion_oracle_sql
    from pycorrector_spark.dicts import CONFUSION_DICT
    from pycorrector_spark.fixtures import ZH_POOL
    from pycorrector_spark.refimpl.core import ConfusionCorrector

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT unnest(range(%d)) AS doc_id"
        % len(ZH_POOL)
    )
    rows = dict(con.execute(_zh_confusion_oracle_sql()).fetchall())
    cc = ConfusionCorrector(dict(CONFUSION_DICT))
    assert len(rows) == len(ZH_POOL)
    for i, sent in enumerate(ZH_POOL):
        assert rows[i] == cc.correct(sent)["target"]


def test_proper_char_sim_consistent_with_word_similarity():
    from pycorrector_spark.dicts import PROPER_NAMES
    from pycorrector_spark.refimpl.proper import ProperCorrector

    pc = ProperCorrector(PROPER_NAMES)
    for a, b in [("两", "亮"), ("只", "智"), ("马", "鸟"), ("云", "去")]:
        assert pc.char_sim(a, b) == pc.word_similarity(a, b)
    assert pc.char_sim("亮", "亮") == 1.0

"""HTML round-trip, toxicity filter, url normalization (operators/htmlx.py).

Hand-computed expectations on adversarial inputs; sf-scale Spark-vs-DuckDB
value parity runs through the driver oracle gate (qf_html_extract /
qf_toxicity / qf_url_filter)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pycorrector_spark.operators.htmlx import (
    BLOCKED_HOSTS,
    extract_text_expr,
    normalize_url_expr,
    synth_html_expr,
    synth_url_expr,
    with_html_roundtrip,
    with_toxicity,
    with_url_filter,
)


def _rt(spark, rows):
    df = spark.createDataFrame(rows, "doc_id: long, page_text: string")
    return with_html_roundtrip(df).select(
        "doc_id", "page_text", "extracted_text", "byte_identical"
    ).collect()


# ---------------------------------------------------------------------------
# html round-trip
# ---------------------------------------------------------------------------


def test_roundtrip_adversarial_text(spark):
    pages = [
        (0, "plain words only"),
        (1, "line one\nline two\n\npara two line"),          # br + p structure
        (2, "a < b && b > c\n\n<script>not a tag</script>"),  # entity escaping
        (3, ""),                                              # empty page
        (4, "unicode 中文 héllo €42\n\nsecond ¶ paragraph"),   # multibyte
        (5, "&amp; pre-escaped & raw"),                       # nested entities
    ]
    for row in _rt(spark, pages):
        assert row.byte_identical, (row.doc_id, row.extracted_text)
        assert row.extracted_text == (row.page_text or "")


def test_extractor_drops_head_scripts_comments(spark):
    html = (
        "<html><head><title>SEO junk</title><style>p{}</style></head>"
        "<body><!-- hidden -->Hello <b>world</b>."
        "<script>alert('x')</script> Bye.</body></html>"
    )
    df = spark.createDataFrame([(html,)], "h: string")
    out = df.select(extract_text_expr(F.col("h")).alias("t")).head().t
    assert out == "Hello world. Bye."
    assert "SEO" not in out and "alert" not in out and "hidden" not in out


def test_synth_html_contains_markup(spark):
    df = spark.createDataFrame([(7, "one two")], "doc_id: long, page_text: string")
    html = df.select(
        synth_html_expr(F.col("doc_id"), F.col("page_text")).alias("h")
    ).head().h
    assert html.startswith("<!DOCTYPE html>")
    assert "<title>doc 7</title>" in html and "crawl-id:7" in html
    assert "<p>one two</p>" in html


# ---------------------------------------------------------------------------
# toxicity
# ---------------------------------------------------------------------------


def test_toxicity_counts_and_keep(spark):
    df = spark.createDataFrame(
        [
            (0, "a perfectly clean sentence about spark"),
            (1, "buy viagra at the casino now " + "pad " * 20),
            (2, None),
        ],
        "doc_id: long, text: string",
    )
    rows = {r.doc_id: r for r in with_toxicity(df).collect()}
    assert rows[0].toxic_hits == 0 and rows[0].toxicity_keep
    assert rows[1].toxic_hits == 2 and not rows[1].toxicity_keep
    assert rows[2].n_words == 0 and rows[2].toxic_frac == 0.0 and rows[2].toxicity_keep
    # case-insensitive match
    df2 = spark.createDataFrame([(3, "VIAGRA!")], "doc_id: long, text: string")
    assert with_toxicity(df2).head().toxic_hits == 0  # punctuation-attached: not a word match
    df3 = spark.createDataFrame([(4, "VIAGRA deal")], "doc_id: long, text: string")
    assert with_toxicity(df3).head().toxic_hits == 1


# ---------------------------------------------------------------------------
# url normalization + blocklist
# ---------------------------------------------------------------------------


def test_normalize_url_cases(spark):
    cases = [
        ("HTTP://Example.COM:80/p/1?id=1#frag", "http://example.com/p/1?id=1"),
        ("https://Host.IO:443/A/B?x=1", "https://host.io/A/B?x=1"),  # path case kept
        ("https://h.io/p?utm_source=a&id=2", "https://h.io/p?id=2"),
        ("https://h.io/p?id=3&utm_campaign=x&ref=r", "https://h.io/p?id=3&ref=r"),
        ("https://h.io/p?id=4&utm_medium=cpc", "https://h.io/p?id=4"),
        ("https://h.io/p?utm_only=v", "https://h.io/p"),
        ("https://h.io:8080/p", "https://h.io:8080/p"),  # non-default port kept
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url: string")
    got = [r.n for r in df.select(normalize_url_expr(F.col("url")).alias("n")).collect()]
    for (u, want), g in zip(cases, got):
        assert g == want, (u, g, want)


def test_url_filter_blocklist(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "doc_id: long")
    out = with_url_filter(
        df.select("doc_id", synth_url_expr(F.col("doc_id")).alias("url"))
    ).collect()
    for r in out:
        assert (r.host in BLOCKED_HOSTS) == (not r.url_keep)
        assert "#" not in r.norm_url and "utm_" not in r.norm_url
        assert r.host == r.host.lower()
    # residues 2 and 4 of doc_id % 5 are the blocklisted hosts
    assert sum(not r.url_keep for r in out) == 4


# ---------------------------------------------------------------------------
# composed web pipeline (driver query)
# ---------------------------------------------------------------------------


def test_web_pipeline_precedence_and_contract(spark):
    import os

    import __spark_entry__ as entry_mod

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        import pytest

        pytest.skip("driver testdata not present")
    rows = entry_mod.queries()["qf_web_pipeline"](spark, sf).collect()
    reasons = {r.drop_reason for r in rows}
    assert reasons <= {"", "url", "lang", "gopher", "c4", "toxicity"}
    assert "" in reasons and "url" in reasons  # both outcomes non-vacuous
    for r in rows:
        assert r.keep == (r.drop_reason == "")
        # url curation is the first gate: blocklisted hosts (doc_id%5 in
        # {2,4}) must fail as 'url' regardless of downstream stages
        if r.doc_id % 5 in (2, 4):
            assert r.drop_reason == "url"
        assert "utm_" not in r.norm_url and "#" not in r.norm_url


def test_url_dedup_latest_keeps_newest_crawl(spark):
    """url_dedup_latest: 3 synthesized crawls of one page collapse to one
    row carrying the LATEST warc_ts; ties break toward the larger id; the
    plan is a hash aggregation (no window, no SortAggregate)."""
    from pyspark.sql import functions as F

    from pycorrector_spark.operators.htmlx import (
        synth_recrawl_url_expr,
        url_dedup_latest,
    )

    crawls = spark.range(9).select(
        F.col("id").alias("doc_id"),
        synth_recrawl_url_expr(F.expr("id DIV 3"), F.col("id")).alias("url"),
        (
            F.to_timestamp(F.lit("2026-01-01 00:00:00"))
            + F.make_interval(secs=F.col("id") * 17)
        ).alias("warc_ts"),
    )
    out = url_dedup_latest(crawls)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan and "Window" not in plan
    rows = {r.norm_url: r for r in out.collect()}
    assert len(rows) == 3                       # 9 crawls -> 3 pages
    for r in rows.values():
        assert r.n_crawls == 3
        assert r.doc_id % 3 == 2                # latest crawl of its page
        assert "utm_" not in r.norm_url and ":443" not in r.norm_url
        assert r.norm_url.startswith("https://")

    # tie on warc_ts -> larger doc_id wins, deterministically
    tied = spark.createDataFrame(
        [(1, "https://a/x"), (2, "https://a/x")], "doc_id long, url string"
    ).withColumn("warc_ts", F.to_timestamp(F.lit("2026-01-01 00:00:00")))
    (w,) = url_dedup_latest(tied).collect()
    assert w.doc_id == 2 and w.n_crawls == 2


def test_url_dedup_latest_null_timestamps(spark):
    """A norm_url whose warc_ts are all NULL still yields one row (largest
    id), and a NULL ts never beats a real one in a mixed group — the
    same winners as the oracle's ROW_NUMBER() OVER (ORDER BY warc_ts
    DESC, doc_id DESC) with DuckDB's NULLS LAST."""
    import datetime as dt

    import duckdb
    import pandas as pd

    from pycorrector_spark.operators.htmlx import url_dedup_latest

    t0, t1 = dt.datetime(2026, 1, 1), dt.datetime(2026, 1, 2)
    rows = [
        (1, "https://a.example/x", None),   # all-NULL group
        (2, "https://a.example/x", None),
        (3, "https://b.example/y", t1),     # mixed group: newest ts wins
        (5, "https://b.example/y", t0),
        (6, "https://b.example/y", None),   # largest id, but NULL ts
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, warc_ts timestamp")
    got = {
        r.doc_id: (r.warc_ts, r.n_crawls) for r in url_dedup_latest(df).collect()
    }
    assert got == {2: (None, 2), 3: (t1, 3)}

    crawls = pd.DataFrame(rows, columns=["doc_id", "url", "warc_ts"])
    want = duckdb.sql("""
        SELECT doc_id, n_crawls FROM (
          SELECT doc_id,
                 ROW_NUMBER() OVER (PARTITION BY url
                                    ORDER BY warc_ts DESC, doc_id DESC) AS rn,
                 COUNT(*) OVER (PARTITION BY url) AS n_crawls
          FROM crawls)
        WHERE rn = 1
    """).fetchall()
    assert sorted(want) == sorted((k, v[1]) for k, v in got.items())

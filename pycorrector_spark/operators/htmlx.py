"""HTML text extraction + URL hygiene + toxicity list filter.

The pipeline's input contract is an Iceberg/parquet table of
Common-Crawl-style pages ``(url, warc_ts, html binary, text, lang)`` with
the invariant *byte-identical extracted text per url*: the ``text``
column must be exactly what the extractor recovers from ``html``. This
module provides both directions as pure JVM column expressions:

- :func:`synth_html_expr` — deterministic page markup around a text body
  (head/title/style/script, body scripts, comments, escaped entities,
  ``<p>``/``<br/>`` block structure). Used to synthesize realistic
  ``html`` bytes from the test corpus; at production scale this column
  comes from the WARC payload instead.
- :func:`extract_text_expr` — the extractor: drop ``<head>``, scripts and
  comments, map block tags to newlines, strip remaining tags, decode
  entities, trim. A chain of ``regexp_replace``/``replace`` inside
  whole-stage codegen — zero Python workers — and exactly invertible
  over :func:`synth_html_expr` output, which is what the driver's
  ``qf_html_extract`` query asserts per row (``byte_identical``).

Also here, the remaining web-hygiene stages the north-rule pipeline runs
before content scoring:

- URL normalization + host blocklist (:func:`normalize_url_expr`,
  :func:`with_url_filter`) — lowercase scheme/authority, strip default
  ports, fragments and ``utm_*`` tracking params; drop blocklisted hosts.
  Normalized urls are the dedup/partition key at crawl scale, so this
  runs FIRST (RefinedWeb §3.1 runs the same url curation before any
  content fetch).
- Toxicity word-list filter (:func:`with_toxicity`) — fraction of words
  in a frozen blocklist; crude by design (the published C4 badwords
  filter is the same shape, just a longer list).

Every constant is frozen at module level and interpolated into both the
Spark expressions and the DuckDB oracle SQL, so the two sides cannot
drift independently. All regexes are in the Java∩RE2 common subset (no
backreferences, no lookaround; inline ``(?i)`` only) and every
replacement string is backref-free, so Java's ``$1`` vs RE2's ``\\1``
replacement-syntax divergence can never bite.

Scale notes (100 TB): everything is a per-row map expression fused into
the scan — no shuffle, no Python. Extraction cost is a handful of regex
passes over the page; at 1000 executors this stage is I/O bound on the
WARC scan, which is the right place to be.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..textops import WORD_SPLIT_PATTERN

# ---------------------------------------------------------------------------
# frozen constants (shared by Spark expressions and DuckDB oracles)
# ---------------------------------------------------------------------------

# (pattern, replacement) extraction chain — order matters: head before
# generic tags (kills title/style), scripts/comments before tag strip,
# block tags to newlines before tag strip, entities decoded LAST with
# &amp; last of all (exact inverse of the &-first escape).
EXTRACT_REGEX_STEPS = (
    (r"(?i)<head[^>]*>[\s\S]*?</head>", ""),
    (r"(?i)<script[^>]*>[\s\S]*?</script>", ""),
    (r"<!--[\s\S]*?-->", ""),
    (r"(?i)<br[^>]*>", "\n"),
    (r"(?i)</p>", "\n\n"),
    (r"<[^>]*>", ""),
)
ENTITY_DECODE_STEPS = (("&lt;", "<"), ("&gt;", ">"), ("&amp;", "&"))
TRIM_RE = r"^[\s]+|[\s]+$"

# toxicity blocklist (C4-badwords shape; deliberately tiny + frozen)
TOXIC_WORDS = (
    "fuck", "shit", "bitch", "cunt", "porn", "xxx",
    "viagra", "casino", "nazi", "rape",
)
TOXICITY_MAX_FRAC = 0.01

# url hygiene
BLOCKED_HOSTS = ("ads.tracker.net", "malware.bad.site", "spam.example.xyz")
# synthesis residue tables (host index = doc_id % 5, see synth_url_expr)
SYNTH_HOSTS = (
    "Example.COM", "news.example.org", "ads.tracker.net",
    "WWW.Blog.Example.IO", "malware.bad.site",
)


# ---------------------------------------------------------------------------
# HTML synthesis (deterministic markup around a page text)
# ---------------------------------------------------------------------------


def escape_html_expr(text: Column) -> Column:
    """``&`` FIRST, then ``<``/``>`` — inverse of ENTITY_DECODE_STEPS."""
    return F.replace(
        F.replace(F.replace(text, F.lit("&"), F.lit("&amp;")), F.lit("<"), F.lit("&lt;")),
        F.lit(">"), F.lit("&gt;"),
    )


def synth_html_expr(doc_id: Column, page_text: Column) -> Column:
    """Deterministic HTML document whose extractable text is exactly
    ``page_text``: paragraphs (split on blank lines) become ``<p>`` blocks
    with ``<br/>`` line breaks; head (title/style/script), body scripts
    and comments carry doc-keyed junk the extractor must drop."""
    did = doc_id.cast("string")
    esc = escape_html_expr(F.coalesce(page_text, F.lit("")))
    body = F.array_join(
        F.transform(
            F.split(esc, "\n\n"),
            lambda p: F.concat(
                F.lit("<p>"),
                F.replace(p, F.lit("\n"), F.lit("<br/>")),
                F.lit("</p>"),
            ),
        ),
        "",
    )
    return F.concat(
        F.lit('<!DOCTYPE html><html><head><meta charset="utf-8"/><title>doc '),
        did,
        F.lit("</title><style>body{margin:0;font:14px sans-serif}</style>"),
        F.lit('<script type="text/javascript">var p='),
        did,
        F.lit(";track(p);</script></head><body><!-- crawl-id:"),
        did,
        F.lit(" -->"),
        body,
        F.lit("<script>emit("),
        did,
        F.lit(")</script><!-- end --></body></html>"),
    )


def synth_html_sql(doc_id: str = "doc_id", page_text: str = "page_text") -> str:
    """DuckDB expression mirroring :func:`synth_html_expr`."""
    esc = (
        f"replace(replace(replace(coalesce({page_text}, ''),"
        " '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"
    )
    body = (
        "array_to_string(list_transform("
        f"string_split_regex({esc}, chr(10) || chr(10)),"
        " p -> '<p>' || replace(p, chr(10), '<br/>') || '</p>'), '')"
    )
    return (
        "'<!DOCTYPE html><html><head><meta charset=\"utf-8\"/><title>doc '"
        f" || CAST({doc_id} AS VARCHAR)"
        " || '</title><style>body{{margin:0;font:14px sans-serif}}</style>'"
        " || '<script type=\"text/javascript\">var p='"
        f" || CAST({doc_id} AS VARCHAR)"
        " || ';track(p);</script></head><body><!-- crawl-id:'"
        f" || CAST({doc_id} AS VARCHAR) || ' -->' || {body}"
        f" || '<script>emit(' || CAST({doc_id} AS VARCHAR)"
        " || ')</script><!-- end --></body></html>'"
    ).replace("{{", "{").replace("}}", "}")


# ---------------------------------------------------------------------------
# extraction (the production direction: html bytes -> text)
# ---------------------------------------------------------------------------


def extract_text_expr(html_str: Column) -> Column:
    """Extract visible text from an HTML string column (JVM codegen)."""
    t = html_str
    for pat, rep in EXTRACT_REGEX_STEPS:
        t = F.regexp_replace(t, pat, rep)
    for ent, ch in ENTITY_DECODE_STEPS:
        t = F.replace(t, F.lit(ent), F.lit(ch))
    return F.regexp_replace(t, TRIM_RE, "")


def extract_text_sql(html_str: str) -> str:
    """DuckDB expression mirroring :func:`extract_text_expr`. Patterns are
    interpolated raw (standard SQL strings: backslashes stay literal);
    newline replacements go through chr(10)."""
    t = html_str
    for pat, rep in EXTRACT_REGEX_STEPS:
        sql_rep = {"": "''", "\n": "chr(10)", "\n\n": "chr(10) || chr(10)"}[rep]
        t = f"regexp_replace({t}, '{pat}', {sql_rep}, 'g')"
    for ent, ch in ENTITY_DECODE_STEPS:
        t = f"replace({t}, '{ent}', '{ch}')"
    return f"regexp_replace({t}, '{TRIM_RE}', '', 'g')"


def with_html_roundtrip(df: DataFrame, doc_id: str = "doc_id",
                        text_col: str = "page_text") -> DataFrame:
    """html bytes + extracted text + the per-row byte-identity invariant."""
    html = synth_html_expr(F.col(doc_id), F.col(text_col))
    return (
        df.withColumn("html", F.encode(html, "utf-8"))
        .withColumn("n_html_bytes", F.length("html").cast("long"))
        .withColumn("extracted_text", extract_text_expr(F.decode(F.col("html"), "utf-8")))
        .withColumn(
            "byte_identical",
            F.encode("extracted_text", "utf-8") == F.encode(F.coalesce(F.col(text_col), F.lit("")), "utf-8"),
        )
    )


# ---------------------------------------------------------------------------
# toxicity word-list filter
# ---------------------------------------------------------------------------


def with_toxicity(df: DataFrame, text_col: str = "text") -> DataFrame:
    """toxic_hits / toxic_frac / toxicity_keep over whitespace words."""
    words = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), WORD_SPLIT_PATTERN),
        lambda x: x != F.lit(""),
    )
    nw = F.size(words)
    hits = F.size(F.filter(words, lambda w: F.lower(w).isin(*TOXIC_WORDS)))
    frac = F.when(nw > 0, hits / nw).otherwise(F.lit(0.0))
    return (
        df.withColumn("n_words", nw.cast("long"))
        .withColumn("toxic_hits", hits.cast("long"))
        .withColumn("toxic_frac", frac)
        .withColumn("toxicity_keep", frac <= F.lit(TOXICITY_MAX_FRAC))
    )


# ---------------------------------------------------------------------------
# url normalization + blocklist
# ---------------------------------------------------------------------------


def synth_url_expr(doc_id: Column) -> Column:
    """Deterministic messy url per doc: residue-keyed host (two of five
    blocklisted), upper/lower scheme mix, default ports, utm params in
    first/middle/last query positions, fragments."""
    did = doc_id.cast("string")
    host = F.element_at(
        F.array(*[F.lit(h) for h in SYNTH_HOSTS]), (doc_id % 5).cast("int") + 1
    )
    scheme = F.when(doc_id % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https"))
    port = F.when(doc_id % 3 == 0, F.lit(":80")).otherwise(F.lit(""))
    query = (
        F.when(doc_id % 4 == 0, F.concat(F.lit("?utm_source=feed&id="), did))
        .when(doc_id % 4 == 1, F.concat(F.lit("?id="), did, F.lit("&utm_campaign=x&ref=r")))
        .when(doc_id % 4 == 2, F.concat(F.lit("?id="), did, F.lit("&utm_medium=cpc")))
        .otherwise(F.concat(F.lit("?id="), did))
    )
    frag = F.when(doc_id % 5 == 0, F.lit("#section2")).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, port, F.lit("/p/"), did, query, frag)


def synth_url_sql(doc_id: str = "doc_id") -> str:
    hosts = "[" + ", ".join("'" + h + "'" for h in SYNTH_HOSTS) + "]"
    d = f"CAST({doc_id} AS VARCHAR)"
    return (
        f"(CASE WHEN {doc_id} % 2 = 0 THEN 'HTTP' ELSE 'https' END"
        f" || '://' || list_extract({hosts}, CAST({doc_id} % 5 AS INT) + 1)"
        f" || CASE WHEN {doc_id} % 3 = 0 THEN ':80' ELSE '' END"
        f" || '/p/' || {d}"
        f" || CASE WHEN {doc_id} % 4 = 0 THEN '?utm_source=feed&id=' || {d}"
        f"         WHEN {doc_id} % 4 = 1 THEN '?id=' || {d} || '&utm_campaign=x&ref=r'"
        f"         WHEN {doc_id} % 4 = 2 THEN '?id=' || {d} || '&utm_medium=cpc'"
        f"         ELSE '?id=' || {d} END"
        f" || CASE WHEN {doc_id} % 5 = 0 THEN '#section2' ELSE '' END)"
    )


# normalization chain regexes (Java∩RE2, backref-free replacements)
URL_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://.*$"
URL_AUTH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*).*$"
URL_PATHQ_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*).*$"
URL_PORT_STRIP_RE = r":(80|443)$"
UTM_MID_RE = r"&utm_[a-z]+=[^&#]*"
UTM_FIRST_KEEP_RE = r"\?utm_[a-z]+=[^&#]*&"
UTM_ONLY_RE = r"\?utm_[a-z]+=[^&#]*$"


def normalize_url_expr(url: Column) -> Column:
    """Lowercased scheme+authority, default ports / fragment / ``utm_*``
    params stripped; path+query case preserved."""
    scheme = F.lower(F.regexp_extract(url, URL_SCHEME_RE, 1))
    auth = F.regexp_replace(
        F.lower(F.regexp_extract(url, URL_AUTH_RE, 1)), URL_PORT_STRIP_RE, ""
    )
    pathq = F.regexp_extract(url, URL_PATHQ_RE, 1)
    pathq = F.regexp_replace(pathq, UTM_MID_RE, "")
    pathq = F.regexp_replace(pathq, UTM_FIRST_KEEP_RE, "?")
    pathq = F.regexp_replace(pathq, UTM_ONLY_RE, "")
    return F.concat(scheme, F.lit("://"), auth, pathq)


def normalize_url_sql(url: str) -> str:
    scheme = f"lower(regexp_extract({url}, '{URL_SCHEME_RE}', 1))"
    auth = (
        f"regexp_replace(lower(regexp_extract({url}, '{URL_AUTH_RE}', 1)),"
        f" '{URL_PORT_STRIP_RE}', '', 'g')"
    )
    pathq = f"regexp_extract({url}, '{URL_PATHQ_RE}', 1)"
    pathq = f"regexp_replace({pathq}, '{UTM_MID_RE}', '', 'g')"
    pathq = f"regexp_replace({pathq}, '{UTM_FIRST_KEEP_RE}', '?', 'g')"
    pathq = f"regexp_replace({pathq}, '{UTM_ONLY_RE}', '', 'g')"
    return f"({scheme} || '://' || {auth} || {pathq})"


def host_of_normalized_expr(norm_url: Column) -> Column:
    return F.regexp_extract(norm_url, URL_AUTH_RE, 1)


def with_url_filter(df: DataFrame, url_col: str = "url") -> DataFrame:
    """norm_url + host + ``url_keep`` (host not blocklisted)."""
    norm = normalize_url_expr(F.col(url_col))
    host = host_of_normalized_expr(norm)
    return (
        df.withColumn("norm_url", norm)
        .withColumn("host", host)
        .withColumn("url_keep", ~host.isin(*BLOCKED_HOSTS))
    )


def synth_recrawl_url_expr(page_id: Column, crawl_id: Column) -> Column:
    """Messy RE-CRAWL url: the page identity (host, path, id param) is
    keyed on ``page_id``; the crawl-to-crawl mess (scheme case, default
    port, utm position, fragment) is keyed on ``crawl_id`` — so every
    crawl of one page normalizes to the same canonical url, which is the
    invariant url-level dedup exploits. Only normalization-removable
    variation is applied (no extra non-utm params)."""
    pid = page_id.cast("string")
    host = F.element_at(
        F.array(*[F.lit(h) for h in SYNTH_HOSTS]), (page_id % 5).cast("int") + 1
    )
    # case-only scheme variation (HTTPS vs https): varying the PROTOCOL
    # would be a different resource, not a re-crawl
    scheme = F.when(crawl_id % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("https"))
    port = F.when(crawl_id % 3 == 0, F.lit(":443")).otherwise(F.lit(""))
    query = (
        F.when(crawl_id % 4 == 0, F.concat(F.lit("?utm_source=feed&id="), pid))
        .when(crawl_id % 4 == 1, F.concat(F.lit("?id="), pid, F.lit("&utm_campaign=x")))
        .when(crawl_id % 4 == 2, F.concat(F.lit("?id="), pid, F.lit("&utm_medium=cpc")))
        .otherwise(F.concat(F.lit("?id="), pid))
    )
    frag = F.when(crawl_id % 5 == 0, F.lit("#section2")).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, port, F.lit("/p/"), pid, query, frag)


def synth_recrawl_url_sql(page_id: str, crawl_id: str) -> str:
    hosts = "[" + ", ".join("'" + h + "'" for h in SYNTH_HOSTS) + "]"
    p = f"CAST({page_id} AS VARCHAR)"
    return (
        f"(CASE WHEN {crawl_id} % 2 = 0 THEN 'HTTPS' ELSE 'https' END"
        f" || '://' || list_extract({hosts}, CAST({page_id} % 5 AS INT) + 1)"
        f" || CASE WHEN {crawl_id} % 3 = 0 THEN ':443' ELSE '' END"
        f" || '/p/' || {p}"
        f" || CASE WHEN {crawl_id} % 4 = 0 THEN '?utm_source=feed&id=' || {p}"
        f"         WHEN {crawl_id} % 4 = 1 THEN '?id=' || {p} || '&utm_campaign=x'"
        f"         WHEN {crawl_id} % 4 = 2 THEN '?id=' || {p} || '&utm_medium=cpc'"
        f"         ELSE '?id=' || {p} END"
        f" || CASE WHEN {crawl_id} % 5 = 0 THEN '#section2' ELSE '' END)"
    )


def url_dedup_latest(
    df: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    id_col: str = "doc_id",
) -> DataFrame:
    """URL-level exact dedup: keep the LATEST crawl per canonical url
    (RefinedWeb/CCNet run this before any text dedup — re-crawls of one
    page dominate raw Common Crawl).

    Scale shape: winner-join, all primitive-typed hash aggregations —
    ``max(struct(ts, id))`` would be exact in one pass but structs are
    not mutable hash-agg buffer types (SortAggregate), and a single
    packed BIGINT cannot hold (micros ts, 10^12-range id) exactly. So:
    (1) hash-agg max(ts) + count per norm_url (map-side combinable — a
    page re-crawled millions of times collapses per partition before the
    shuffle), (2) same-key join back (exchange-reused partitioning) and
    a second hash agg taking max(id) among the max-ts rows, which is the
    deterministic tie-break. No window, no sort aggregate. Returns
    (id, norm_url, ts, n_crawls).

    NULL ts sorts last: a norm_url with any non-NULL ts keeps its newest
    one, and one whose ts are all NULL keeps its largest id with a NULL
    ts (the null-safe match against the NULL max). n_crawls counts the
    NULL-ts crawls too."""
    norm = normalize_url_expr(F.col(url_col))
    base = df.select(norm.alias("norm_url"), F.col(ts_col), F.col(id_col))
    tops = base.groupBy("norm_url").agg(
        F.max(ts_col).alias("_ts_max"), F.count("*").alias("n_crawls")
    )
    return (
        base.join(tops, "norm_url")
        .where(F.col(ts_col).eqNullSafe(F.col("_ts_max")))
        .groupBy("norm_url")
        .agg(
            F.max(id_col).alias(id_col),
            F.max(ts_col).alias(ts_col),
            F.max("n_crawls").alias("n_crawls"),
        )
        .select(id_col, "norm_url", ts_col, "n_crawls")
    )

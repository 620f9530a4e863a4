"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: full quality-filter pipeline over sf0.001 docs.
queries()      — one entry per implemented operator (SURVEY.md §2 + the
                 training-data ops); each callable (spark, sf_dir) -> DataFrame.
oracle_sql()   — DuckDB SQL for every query; for LM/minhash/pipeline ops it
                 is serial Python output (golden_row, the numpy MinHash
                 kernel) frozen into VALUES.
"""

from __future__ import annotations

import functools
import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF_DEFAULT = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_as_webpages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the documents table into the pipeline's web-page schema."""
    d = _docs(spark, sf_dir)
    return d.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        (F.to_timestamp(F.lit("2026-01-01 00:00:00")) + F.make_interval(secs=F.col("doc_id") * 17)).alias("warc_ts"),
        F.encode("text", "utf-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def _pool_docs(spark: SparkSession, sf_dir: str, pool) -> DataFrame:
    """doc_ids from {sf_dir} mapped onto a fixed sentence pool.

    Input scales with the table (every doc_id produces a row) while the
    text domain stays finite, so per-document expected outputs of
    non-SQL-expressible operators (detect/correct/segment/minhash/ppl) can
    be precomputed per pool index and joined in the DuckDB oracle on
    ``doc_id % len(pool)``. See fixtures.py pool section."""
    arr = F.array(*[F.lit(s) for s in pool])
    return (
        _docs(spark, sf_dir)
        .select("doc_id")
        .withColumn(
            "text",
            F.element_at(arr, (F.col("doc_id") % len(pool)).cast("int") + 1),
        )
    )


@functools.lru_cache(maxsize=None)
def _artifacts_cached():
    """One deterministic Artifacts bundle per process — shared by query
    broadcasts and driver-side oracle precompute (identical by construction)."""
    from pycorrector_spark.operators.score import build_artifacts

    return build_artifacts()


@functools.lru_cache(maxsize=None)
def _full_artifacts_cached():
    """Reference-scale Artifacts (dictio loaders: real same_pinyin/stroke
    tables, 30k-word English dict, 58k proper names + 12k stroke codes)."""
    from pycorrector_spark.operators.score import build_full_artifacts

    return build_full_artifacts()


# one broadcast per (Spark application, artifact flavor): a fresh broadcast
# per query invocation would give every run a new worker-cache key, so
# executors would rebuild correctors and re-warm similarity/spell caches
# on EVERY call — a production job builds its broadcast once, and repeated
# driver-gate/bench invocations should measure that steady state
_BC_CACHE: dict = {}


def _artifacts_bc(spark: SparkSession, full: bool = False):
    key = (spark.sparkContext.applicationId, full)
    if key not in _BC_CACHE:
        art = _full_artifacts_cached() if full else _artifacts_cached()
        _BC_CACHE[key] = spark.sparkContext.broadcast(art)
    return _BC_CACHE[key]


def _cached_bc(spark: SparkSession, key: str, build):
    """One broadcast per (application, key) for the standalone dimension
    queries (t2s tables, proper corrector, confusion corrector) — a fresh
    broadcast per invocation would rebuild worker state and accumulate
    broadcast blocks across repeated driver-gate/bench loops (round-2
    verdict item 7)."""
    k = (spark.sparkContext.applicationId, key)
    if k not in _BC_CACHE:
        _BC_CACHE[k] = spark.sparkContext.broadcast(build())
    return _BC_CACHE[k]


def _doc_map(df: DataFrame, ddl: str, make) -> DataFrame:
    """(doc_id, computed columns) over ``df``'s doc_id/text in one Python
    stage, one partition per core at least. ``make()`` runs once per task
    on the worker (broadcast reads, per-task tables) and returns
    ``texts -> {col: values}``; null text arrives as ""."""
    import pandas as pd

    from pycorrector_spark.stage import ensure_parallelism, python_stage

    def fn(it):
        cols = make()
        for pdf in it:
            yield pd.DataFrame({"doc_id": pdf["doc_id"], **cols(pdf["text"].fillna(""))})

    return python_stage(ensure_parallelism(df.select("doc_id", "text")), fn, ddl)


def _ppl_map(spark: SparkSession, sf_dir: str, bins: bool = False) -> DataFrame:
    """(doc_id, ppl[, bin]) over the sf-scaled PPL pool: one ``ppl_batch``
    probe per batch of uniform()ed text, with the full-flavor artifacts' LM
    (identical in both flavors; sharing the broadcast keeps a single
    artifact generation alive across the driver-gate run); ``bins`` adds
    curation.ppl_bin's log-space integer bins from the same batch."""
    from pycorrector_spark.fixtures import PPL_POOL

    bc = _artifacts_bc(spark, full=True)

    def make():
        from pycorrector_spark.operators.curation import ppl_bin
        from pycorrector_spark.textops import uniform

        lm = bc.value.lm

        def cols(texts):
            ppl = lm.ppl_batch([uniform(t) for t in texts])
            return {"ppl": ppl, "bin": ppl_bin(ppl)} if bins else {"ppl": ppl}

        return cols

    ddl = "doc_id long, ppl double" + (", bin long" if bins else "")
    return _doc_map(_pool_docs(spark, sf_dir, PPL_POOL), ddl, make)


def _translate_map(spark: SparkSession, sf_dir: str, key: str, build, col: str) -> DataFrame:
    """(doc_id, col): vectorized str.translate of the documents through the
    char table ``build()`` returns, built driver-side and broadcast once."""
    bc = _cached_bc(spark, key, build)

    def make():
        table = str.maketrans(bc.value)
        return lambda texts: {col: texts.str.translate(table)}

    return _doc_map(_docs(spark, sf_dir), f"doc_id long, {col} string", make)


def _rewrite_map(spark: SparkSession, sf_dir: str, pool, key: str, build, col: str) -> DataFrame:
    """(doc_id, col) over a sentence pool through the phrase rewriter
    ``build()`` returns, built driver-side and broadcast once."""
    bc = _cached_bc(spark, key, build)

    def make():
        rw = bc.value
        return lambda texts: {col: [rw(t) for t in texts]}

    return _doc_map(_pool_docs(spark, sf_dir, pool), f"doc_id long, {col} string", make)


def _en_spell_map(spark: SparkSession, sf_dir: str, full: bool) -> DataFrame:
    """(doc_id, corrected_text, n_fixes) over the sf-scaled English typo
    pool with the toy (``full=False``) or reference-scale en dict."""
    from pycorrector_spark.fixtures import EN_POOL
    from pycorrector_spark.operators.score import _get_workers

    bc = _artifacts_bc(spark, full=full)

    def make():
        _, _, en = _get_workers(bc)

        def cols(texts):
            res = en.correct_batch(texts)
            return {
                "corrected_text": [r["target"] for r in res],
                "n_fixes": [len(r["errors"]) for r in res],
            }

        return cols

    ddl = "doc_id long, corrected_text string, n_fixes int"
    return _doc_map(_pool_docs(spark, sf_dir, EN_POOL), ddl, make)


def _segment_map(spark: SparkSession, sf_dir: str, hmm: bool) -> DataFrame:
    """(doc_id, tokens) over the sf-scaled CJK pool: jieba's cut(HMM=hmm)
    over the broadcast frequency dict, tokens pipe-joined."""
    from pycorrector_spark.fixtures import ZH_POOL

    bc = _artifacts_bc(spark, full=True)

    def make():
        from pycorrector_spark.fixtures import fmt_tokens
        from pycorrector_spark.textops import (dag_hmm_tokens, dag_max_prob_tokens,
                                               hmm_tables_from_freq, log_prob_table)

        wf = bc.value.word_freq
        # deterministic; once per task
        logp = log_prob_table(wf)
        tables = hmm_tables_from_freq(wf) if hmm else None

        def tokens(t):
            if hmm:
                return dag_hmm_tokens(t, wf, tables=tables, logp_table=logp)
            return dag_max_prob_tokens(t, wf, logp_table=logp)

        return lambda texts: {"tokens": [fmt_tokens(tokens(t)) for t in texts]}

    return _doc_map(_pool_docs(spark, sf_dir, ZH_POOL), "doc_id long, tokens string", make)


def _correct_map(spark: SparkSession, sf_dir: str, corrector_of, errors_col=None) -> DataFrame:
    """(doc_id, target[, errors_col]) over the sf-scaled CJK pool, corrected
    by the corrector ``corrector_of()`` returns on the worker; corrections
    pipe-joined into ``errors_col`` when one is named."""
    from pycorrector_spark.fixtures import ZH_POOL

    def make():
        from pycorrector_spark.fixtures import fmt_corrections

        corrector = corrector_of()

        def cols(texts):
            res = [corrector.correct(t) for t in texts]
            out = {"target": [r["target"] for r in res]}
            if errors_col:
                out[errors_col] = [fmt_corrections(r["errors"]) for r in res]
            return out

        return cols

    ddl = "doc_id long, target string" + (f", {errors_col} string" if errors_col else "")
    return _doc_map(_pool_docs(spark, sf_dir, ZH_POOL), ddl, make)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: langid + heuristics + LM ppl + detect/correct + scrub +
    keep/drop over the sf0.001 documents table — FULL reference-scale
    dims (the production default), broadcast once per application."""
    from pycorrector_spark.pipeline import run_quality_pipeline

    docs = _docs_as_webpages(spark, SF_DEFAULT)
    scored = run_quality_pipeline(spark, docs, bc=_artifacts_bc(spark, full=True))
    return scored.select(
        "url", "lang_id", "n_chars", "symbol_ratio", "rep_ratio", "ppl",
        "n_errors", "keep", "drop_reason", "scrubbed_text",
    )


# frozen query parameters shared by Spark queries and their oracles
JACCARD_MAX_DF = 100      # shingle document-frequency cap (dedup_jaccard)
HOST_CAP_N = 20           # per-domain quota (qf_host_cap)
SAMPLE_RATE = 0.1         # deterministic md5-bucket sample rate (qf_sample)
NB_MIN_COUNT = 2          # NB classifier vocabulary prune (nb_langid)
TOKEN_BUDGET = 15_000     # corpus token budget (qf_token_budget)

# scratch output dirs (docs_out + audit) created by q_resume_pipeline in
# this process (reaped on its next call; the final survivor is removed at
# interpreter exit)
_TMP_DIRS: set = set()


def _reap_tmp_dirs():
    import shutil

    for old in list(_TMP_DIRS):
        shutil.rmtree(old, ignore_errors=True)
        _TMP_DIRS.discard(old)


import atexit  # noqa: E402

atexit.register(_reap_tmp_dirs)


# ---------------------------------------------------------------------------
# frozen SQL fragments shared by several oracles (DuckDB dialect)
# ---------------------------------------------------------------------------

_WS = "' ' || chr(9) || chr(10) || chr(13)"
_SYM_PAT = "[^一-龥a-zA-Z0-9 \t\n\r]"
_WS_PAT = "[ \t\n\r]"
_SPLIT_PAT = "[ \t\n\r]+"

def _len_bounds():
    from pycorrector_spark.config import DEFAULT_CONFIG

    return DEFAULT_CONFIG.min_len, DEFAULT_CONFIG.max_len


_MIN_LEN, _MAX_LEN = _len_bounds()

_SIGNALS_CTE = f"""
WITH sig AS (
  SELECT doc_id,
         text,
         length(text) AS n_chars,
         trim(text, {_WS}) AS stripped,
         length(text) - length(regexp_replace(text, '{_SYM_PAT}', '', 'g')) AS n_sym,
         list_filter(regexp_split_to_array(trim(text, {_WS}), '{_SPLIT_PAT}'), x -> x <> '') AS words,
         length(regexp_replace(text, '{_WS_PAT}', '', 'g')) AS n_ns,
         length(text) - length(regexp_replace(text, '[一-龥]', '', 'g')) AS n_cjk,
         length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_latin
  FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents)
), sig2 AS (
  SELECT *,
         len(words) AS n_words,
         len(list_distinct(words)) AS n_distinct,
         CASE WHEN n_chars > 0 THEN n_sym / n_chars ELSE 1.0 END AS symbol_ratio,
         CASE WHEN len(words) > 0 THEN 1.0 - len(list_distinct(words)) / len(words) ELSE 1.0 END AS rep_ratio,
         length(stripped) BETWEEN {_MIN_LEN} AND {_MAX_LEN} AS len_ok,
         CASE WHEN n_ns <= 0 THEN 'und'
              WHEN n_cjk / n_ns >= 0.3 THEN 'zh'
              WHEN n_latin / n_ns >= 0.5 THEN 'en'
              ELSE 'und' END AS lang_id,
         CASE WHEN n_ns <= 0 THEN 0.0
              WHEN n_cjk / n_ns >= 0.3 THEN n_cjk / n_ns
              WHEN n_latin / n_ns >= 0.5 THEN n_latin / n_ns
              ELSE greatest(n_cjk / n_ns, n_latin / n_ns) END AS lang_conf
  FROM sig
)
"""


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _signals_map(df: DataFrame, cols: list) -> DataFrame:
    """(doc_id, cols) over ``df``'s doc_id/text from ``textops.signals_frame``,
    the score stage's signal kernel; null text gets the signals of ""."""
    from pycorrector_spark.operators.score import SIGNAL_COLS

    types = dict(SIGNAL_COLS)

    def make():
        from pycorrector_spark.textops import signals_frame

        return lambda texts: signals_frame(texts)[cols]

    return _doc_map(df, ", ".join(["doc_id long"] + [f"{c} {types[c]}" for c in cols]), make)


def q_quality_signals(spark, sf_dir):
    return _signals_map(
        _docs(spark, sf_dir), ["n_chars", "n_words", "symbol_ratio", "rep_ratio", "len_ok"]
    )


def q_langid(spark, sf_dir):
    return _signals_map(_docs(spark, sf_dir), ["lang_id", "lang_conf"])


def q_keep_cheap(spark, sf_dir):
    """SQL-expressible prefix of the frozen keep/drop rule: the score
    stage's ``keep_decisions`` with no ppl and no errors, so only
    len/symbol/repetition/lang can fire (q_pipeline_full is the complete
    version)."""

    def make():
        import numpy as np

        from pycorrector_spark.config import keep_decisions
        from pycorrector_spark.textops import signals_frame

        def cols(texts):
            s = signals_frame(texts)
            keep, reason = keep_decisions(
                s["len_ok"], s["symbol_ratio"], s["rep_ratio"], s["lang_id"],
                np.full(len(s), np.nan), np.zeros(len(s)),
            )
            return {"keep_cheap": keep, "drop_reason": reason}

        return cols

    return _doc_map(_docs(spark, sf_dir), "doc_id long, keep_cheap boolean, drop_reason string", make)


def q_scrub(spark, sf_dir):
    """The score stage's ``scrub_series``; a NULL text stays NULL."""
    import pandas as pd

    from pycorrector_spark.stage import ensure_parallelism, python_stage

    def fn(it):
        from pycorrector_spark.textops import scrub_series

        for pdf in it:
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "scrubbed_text": scrub_series(pdf["text"])})

    docs = ensure_parallelism(_docs(spark, sf_dir).select("doc_id", "text"))
    return python_stage(docs, fn, "doc_id long, scrubbed_text string")


def q_sent_split(spark, sf_dir):
    frags = F.filter(
        F.split("text", "[^一-龥a-zA-Z0-9+#&]+"), lambda x: x != F.lit("")
    )
    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(frags).alias("frag"))
    )


def q_sent_split_len(spark, sf_dir):
    """Fixed-width chunking with offsets (T2, tokenizer.py:45-55) as pure
    JVM expressions: sequence + transform + posexplode."""
    L = 64
    chunks = F.expr(
        f"transform(sequence(1, greatest(ceil(char_length(text) / {L}), 1)),"
        f" i -> struct(cast((i - 1) * {L} as bigint) as offset,"
        f"             substring(text, cast((i - 1) * {L} + 1 as int), {L}) as chunk))"
    )
    return (
        _docs(spark, sf_dir)
        .filter(F.length("text") > 0)
        .select("doc_id", F.explode(chunks).alias("c"))
        .select("doc_id", F.col("c.offset").alias("offset"), F.col("c.chunk").alias("chunk"))
    )


def q_b2q(spark, sf_dir):
    """Halfwidth -> fullwidth folding (P4 B2Q — inverse of the uniform
    normalizer's Q2B), vectorized str.translate."""
    from pycorrector_spark.textops import string_b2q

    return _doc_map(
        _docs(spark, sf_dir), "doc_id long, wide_text string",
        lambda: lambda texts: {"wide_text": [string_b2q(t) for t in texts]},
    )


def q_uniform(spark, sf_dir):
    """Q2B width folding + lowercase (P4/P5 — the detect-path normalizer),
    vectorized str.translate over Arrow batches."""
    from pycorrector_spark.textops import uniform_series

    return _doc_map(
        _docs(spark, sf_dir), "doc_id long, norm_text string",
        lambda: lambda texts: {"norm_text": uniform_series(texts)},
    )


def q_ngram_counts(spark, sf_dir):
    """Corpus char-bigram frequencies (T7 n-gram machinery as a relational
    plan): JVM-side transform/sequence + explode + groupBy — whole-stage
    codegen, no Python."""
    d = _docs(spark, sf_dir).filter(F.length("text") >= 2)
    grams = F.expr(
        "transform(sequence(1, char_length(text) - 1), i -> substring(text, i, 2))"
    )
    return (
        d.select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 5)
    )


def q_zh_segment(spark, sf_dir):
    """Word segmentation with spans (T4/T5): jieba's cut(HMM=False)
    max-probability DAG route over the broadcast frequency dict, over the
    sf-scaled CJK pool; tokens emitted as a pipe-joined scalar so the
    checker canonicalizer can hash them. Oracle: per-pool-index expected
    encodings from the same pure tokenizer, joined on doc_id % pool size."""
    return _segment_map(spark, sf_dir, hmm=False)


def q_zh_segment_hmm(spark, sf_dir):
    """Word segmentation with the HMM stage engaged (T4/T5: jieba's
    cut(HMM=True) dataflow — max-prob DAG route, then consecutive
    out-of-vocabulary single-char runs re-cut by the BMES viterbi so
    unseen words join; textops.dag_hmm_tokens, tables derived from the
    same broadcast dict). Pool oracle from the identical tokenizer."""
    return _segment_map(spark, sf_dir, hmm=True)


def q_token_counts(spark, sf_dir):
    from pycorrector_spark.operators.textstats import with_token_counts

    return with_token_counts(_docs(spark, sf_dir).select("doc_id", "text")).select(
        "doc_id",
        F.col("ws_tokens").cast("long").alias("ws_tokens"),
        F.col("bpe_tokens").cast("long").alias("bpe_tokens"),
    )


def q_fingerprint(spark, sf_dir):
    from pycorrector_spark.operators.textstats import with_fingerprint

    return with_fingerprint(_docs(spark, sf_dir).select("doc_id", "text")).select(
        "doc_id", "fingerprint"
    )


def q_dedup_exact(spark, sf_dir):
    from pycorrector_spark.operators.dedup import exact_dedup_groups

    return exact_dedup_groups(_docs(spark, sf_dir))


def q_dedup_jaccard(spark, sf_dir):
    """Exact Jaccard pairs with the hot-shingle document-frequency cap
    (max_df) engaged — the scale-safe default; the oracle applies the same
    cap over string shingles."""
    from pycorrector_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), k=2, threshold=0.2, max_df=JACCARD_MAX_DF
    )


def q_dedup_minhash(spark, sf_dir):
    """MinHash signatures (the core fixed-seed machinery) over the
    sf-scaled shingle pool, emitted as a comma-joined scalar. Oracle: the
    same vectorized numpy pipeline run driver-side per pool index (int64
    exact). Docs with < k words have no signature and are dropped — the
    oracle's inner join mirrors the drop. The banded LSH candidate join +
    exact-Jaccard verify built on these signatures (minhash_dedup_pairs)
    is exercised in tests/test_operators.py (its band keys use Spark's
    xxhash64, which no SQL oracle can recompute)."""
    from pycorrector_spark.fixtures import MINHASH_POOL
    from pycorrector_spark.operators.dedup import minhash_signatures

    d = _pool_docs(spark, sf_dir, MINHASH_POOL)
    sig = minhash_signatures(d, id_col="doc_id", text_col="text", k=2, num_perm=64)
    return sig.select("doc_id", F.array_join("sig", ",").alias("sig"))


def q_lm_ppl(spark, sf_dir):
    """LM perplexity (D4 machinery) over the sf-scaled mixed zh/en pool.

    The backoff LM is not SQL-expressible, but it IS deterministic: the
    oracle joins doc_id % pool onto per-sentence perplexities precomputed
    by the same vectorized scorer (exact frexp-encoded double literals, so
    the floats are bit-identical — ppl_batch's per-row reduceat makes the
    value independent of batch composition)."""
    return _ppl_map(spark, sf_dir)


def q_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail corpus split (Wenzek et al. 2020 §4.3): LM
    perplexity terciles over the whole corpus, head = most fluent third.

    The ppl stage is qf_lm_ppl's scorer with log-space integer bins added
    in the SAME pandas batch (curation.ppl_bin — one engine's rounding);
    tercile cutoffs come from a tiny bin histogram, not a global sort.
    The oracle precomputes (ppl, bin) per pool index and mirrors the
    cutoff rule with an integer window cumsum."""
    from pycorrector_spark.operators.curation import ccnet_buckets

    bucketed = ccnet_buckets(_ppl_map(spark, sf_dir, bins=True))
    out = bucketed.select("doc_id", "ppl", "ppl_bucket")
    out._cached_deps = getattr(bucketed, "_cached_deps", ())
    return out


def q_pipeline_full(spark, sf_dir):
    """Complete quality-filter pipeline over the real corpus with FULL
    reference-scale dims (rows-only; exact parity with the serial oracle
    is enforced in tests/test_pipeline.py against the same full dims)."""
    from pycorrector_spark.pipeline import run_quality_pipeline

    docs = _docs_as_webpages(spark, sf_dir)
    return run_quality_pipeline(spark, docs, bc=_artifacts_bc(spark, full=True)).select(
        "url", "lang_id", "keep", "drop_reason", "ppl", "n_errors", "scrubbed_text"
    )


_PIPE_COLS = [
    "lang_id", "n_chars", "symbol_ratio", "rep_ratio", "ppl", "n_errors",
    "keep", "drop_reason", "scrubbed_text", "corrected_text",
]


def q_pipeline_pool(spark, sf_dir):
    """The COMPLETE quality-filter pipeline (signals + gate + LM ppl +
    detect/correct + scrub + keep/drop), oracle-checked end-to-end: same
    one-Arrow-pass stage as qf_pipeline_full, but over the sf-scaled mixed
    pool so every output column — including the float ppl and the
    corrected text — joins against golden rows precomputed by the serial
    reference oracle (refimpl/golden.py) built from the SAME full
    reference-scale dims the production pipeline defaults to.
    qf_pipeline_full remains the real-corpus (rows-only) variant."""
    from pycorrector_spark.fixtures import PPL_POOL
    from pycorrector_spark.pipeline import run_quality_pipeline
    from pycorrector_spark.stage import ensure_parallelism

    d = ensure_parallelism(_pool_docs(spark, sf_dir, PPL_POOL))
    bc = _artifacts_bc(spark, full=True)
    scored = run_quality_pipeline(spark, d, repartition=0, bc=bc)
    return scored.select("doc_id", *_PIPE_COLS)


@functools.lru_cache(maxsize=None)
def _pipeline_pool_oracle_sql() -> str:
    from pycorrector_spark.fixtures import PPL_POOL
    from pycorrector_spark.refimpl.golden import golden_row

    zh, en = _full_workers_cached()
    rows = []
    for i, s in enumerate(PPL_POOL):
        g = golden_row(s, zh, en)
        rows.append((i, tuple(g[c] for c in _PIPE_COLS)))
    return _pool_oracle_sql(len(PPL_POOL), _PIPE_COLS, rows)


def q_zh_t2s(spark, sf_dir):
    """Traditional -> simplified conversion (P7) over the FULL single-char
    table (embedded toys merged with the public zh_wiki zh2Hans rows,
    ~2.7k chars) — vectorized str.translate in one Arrow pass; the oracle
    is a translate() generated from the same merged table."""
    from pycorrector_spark.textops import t2s_full_chars

    # table loaded DRIVER-side and broadcast (dictio invariant): executors
    # may not have the zh_wiki source file, and a worker-side load would
    # silently fall back to the toy table and diverge from the oracle
    return _translate_map(spark, sf_dir, "t2s_chars", t2s_full_chars, "simp_text")


def q_zh_t2s_phrase(spark, sf_dir):
    """Phrase-aware traditional -> simplified (the langconv longest-match
    FSM semantics: multi-char zh_wiki phrases like 印表機->打印机 take
    precedence over char-by-char mapping) over the sf-scaled traditional
    pool. Oracle: per-pool-index expected conversions from the identical
    prebuilt rewriter."""
    from pycorrector_spark.fixtures import ZHT_POOL
    from pycorrector_spark.textops import t2s_full_rewriter

    # rewriter built DRIVER-side (loads zh_wiki once) and broadcast — the
    # prebuilt first-char index pickles as plain dicts
    return _rewrite_map(
        spark, sf_dir, ZHT_POOL, "t2s_rewriter", t2s_full_rewriter, "simp_text"
    )


def q_zh_s2t(spark, sf_dir):
    """Simplified -> traditional conversion (P7 reverse direction, the
    reference's exported ``simplified2traditional``) over the FULL
    single-char zh2Hant table (~2.5k chars) — vectorized str.translate in
    one Arrow pass; oracle = translate() generated from the same table."""
    from pycorrector_spark.textops import s2t_full_chars

    return _translate_map(spark, sf_dir, "s2t_chars", s2t_full_chars, "trad_text")


def q_zh_s2t_phrase(spark, sf_dir):
    """Phrase-aware simplified -> traditional (langconv longest-match FSM
    over zh2Hant: 打印机->印表機, 一只->一隻 take precedence over the
    char map) over the sf-scaled simplified pool; oracle = per-pool-index
    expected conversions from the identical prebuilt rewriter."""
    from pycorrector_spark.fixtures import ZHS_POOL
    from pycorrector_spark.textops import s2t_full_rewriter

    return _rewrite_map(
        spark, sf_dir, ZHS_POOL, "s2t_rewriter", s2t_full_rewriter, "trad_text"
    )


def q_homophones(spark, sf_dir):
    """Homophone lookup (P8, get_homophones_by_char/by_pinyin): group the
    pinyin dimension by reading, attach each char's homophone set. The
    reference scans the whole CJK plane per call (text_utils.py:111-137);
    here it is one agg + broadcast join over the dimension (the synthetic
    docs corpus has no CJK chars, so the dim itself is the input). The
    set is emitted comma-joined (single CJK chars, no separator risk) so
    the checker can canonicalize it."""
    from pycorrector_spark.dicts import PINYIN_ZH

    pinyin = spark.createDataFrame(
        [(k, v) for k, v in PINYIN_ZH.items()], "ch string, py string"
    )
    groups = pinyin.groupBy("py").agg(
        F.array_join(F.sort_array(F.collect_set("ch")), ",").alias("homophones")
    )
    return pinyin.join(F.broadcast(groups), "py").select("ch", "py", "homophones")


@functools.lru_cache(maxsize=None)
def _pinyin_line_rows() -> tuple:
    """(line_id, distinct chars of the reading group) per same_pinyin.txt
    row — the dimension shared by q_homophones_full and its oracle. A
    missing file raises: an empty dimension would be a silent 0-row answer."""
    import os

    from pycorrector_spark.dictio import _p, load_same_pinyin_lines

    path = _p("same_pinyin.txt")
    if path is None or not os.path.exists(path):
        raise FileNotFoundError(
            f"zh_homophones_full needs same_pinyin.txt, not found "
            f"({path or 'no reference data dir'}); set PYCORRECTOR_SPARK_DATA_DIR "
            "to the directory holding it"
        )
    lines = load_same_pinyin_lines(path)
    return tuple(
        (i, "".join(dict.fromkeys(h + s + d))) for i, (h, s, d) in enumerate(lines)
    )


def q_homophones_full(spark, sf_dir):
    """Homophone lookup over the FULL public same_pinyin table (~3.4k
    reading groups / ~3.4k chars — the P8 get_homophones_by_char surface
    at reference scale, replacing the 113-entry embedded dim): each file
    row is one reading group; a char's homophones are all chars sharing
    any of its reading groups (polyphone-correct, no transitive merge).
    Relational shape: explode the group membership, self-join on the
    reading id (a ~1.7M-row equi-join on a small int key — the Spark
    re-expression of the reference's O(20902) full-plane scan per call,
    text_utils.py:111-137), then one aggregation."""
    rows = list(_pinyin_line_rows())
    dim = spark.createDataFrame(rows, "line_id int, chars string")
    c = dim.select(
        "line_id", F.explode(F.split("chars", "")).alias("ch")
    ).filter(F.col("ch") != "")
    a, b = c.alias("a"), c.alias("b")
    return (
        a.join(b, "line_id")
        .groupBy(F.col("a.ch").alias("ch"))
        .agg(
            F.countDistinct("line_id").alias("n_readings"),
            F.array_join(F.array_sort(F.collect_set(F.col("b.ch"))), ",").alias("homophones"),
        )
    )


def _homophones_full_oracle_sql() -> str:
    try:
        rows = _pinyin_line_rows()
    except FileNotFoundError as e:
        return f"SELECT error({_sq(str(e))})"  # fails when run, like the query
    values = ", ".join(f"({i}, {_sq(chars)})" for i, chars in rows)
    return f"""
        WITH l(line_id, chars) AS (VALUES {values}),
        c AS (SELECT line_id,
                     unnest(list_distinct(list_filter(
                       regexp_split_to_array(chars, ''), x -> x <> ''))) AS ch
              FROM l)
        SELECT a.ch AS ch,
               count(DISTINCT a.line_id) AS n_readings,
               array_to_string(list_sort(list(DISTINCT b.ch)), ',') AS homophones
        FROM c a JOIN c b USING (line_id)
        GROUP BY a.ch
    """


@functools.lru_cache(maxsize=None)
def _langid_ft_model():
    from pycorrector_spark.operators.langid_ft import train_langid

    return train_langid()


def q_langid_ft(spark, sf_dir):
    """fastText-architecture language ID (hashed char 1-3-gram bag ->
    averaged features -> linear -> softmax; operators/langid_ft.py,
    deterministically trained driver-side, broadcast as two numpy
    arrays) over the sf-scaled mixed pool. Oracle: per-pool-index
    (label, softmax prob) from the identical model — probabilities as
    exact frexp literals, so the hash check proves the distributed
    scoring is bit-identical to the serial model."""
    from pycorrector_spark.fixtures import PPL_POOL

    bc = _cached_bc(spark, "langid_ft", _langid_ft_model)

    def make():
        model = bc.value

        def cols(texts):
            labels, probs = model.predict_batch(texts)
            return {"lang_ft": labels, "prob": probs}

        return cols

    ddl = "doc_id long, lang_ft string, prob double"
    return _doc_map(_pool_docs(spark, sf_dir, PPL_POOL), ddl, make)


@functools.lru_cache(maxsize=None)
def _langid_ft_oracle_sql() -> str:
    from pycorrector_spark.fixtures import PPL_POOL

    model = _langid_ft_model()
    rows = []
    for i, s in enumerate(PPL_POOL):
        lab, p = model.predict(s)
        rows.append((i, (lab, float(p))))
    return _pool_oracle_sql(len(PPL_POOL), ["lang_ft", "prob"], rows)


def q_langid_agreement(spark, sf_dir):
    """A5-style confusion-matrix aggregation: claimed `lang` column vs
    computed lang_id — per-cell counts + mean confidence."""
    docs = _docs(spark, sf_dir)
    d = docs.select("doc_id", "lang").join(
        _signals_map(docs, ["lang_id", "lang_conf"]), "doc_id"
    )
    return d.groupBy("lang", "lang_id").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("lang_conf"), 6).alias("avg_conf"),
    )


def q_en_spell(spark, sf_dir):
    """English spell correction (C8, Norvig semantics backed by the
    SymSpell deletes index) over the sf-scaled English typo pool; oracle =
    per-pool-index corrections precomputed by the identical corrector."""
    return _en_spell_map(spark, sf_dir, full=False)


def q_detect(spark, sf_dir):
    """Detection-only path (D8 — reference Detector.detect: uniform +
    split + confusion/OOV/char-LM scan) over the sf-scaled CJK pool.
    Detections emitted as a pipe-joined scalar; oracle = per-pool-index
    expected detections from the identical deterministic Detector built
    from the same FULL reference-scale dims (production default)."""
    from pycorrector_spark.fixtures import ZH_POOL
    from pycorrector_spark.operators.score import _get_workers

    bc = _artifacts_bc(spark, full=True)

    def make():
        import pandas as pd
        from pycorrector_spark.fixtures import fmt_detections

        _, zh, _ = _get_workers(bc)

        def cols(texts):
            dets = [zh.detect(t) for t in texts]
            return {
                "errors": [fmt_detections(d) for d in dets],
                "n_errors": pd.Series([len(d) for d in dets], dtype="int32"),
            }

        return cols

    ddl = "doc_id long, errors string, n_errors int"
    return _doc_map(_pool_docs(spark, sf_dir, ZH_POOL), ddl, make)


def q_proper(spark, sf_dir):
    """Proper-noun correction (C5-C7: positional inverted-index recall +
    stroke/pinyin similarity) over the sf-scaled CJK pool (which embeds
    the proper-noun error sentences); corrections pipe-joined scalar."""
    from pycorrector_spark.dicts import PROPER_NAMES
    from pycorrector_spark.refimpl.proper import ProperCorrector

    bc = _cached_bc(spark, "proper", lambda: ProperCorrector(PROPER_NAMES))
    return _correct_map(spark, sf_dir, lambda: bc.value, "errors")


def q_confusion(spark, sf_dir):
    """Forced confusion replace (C4 — ConfusionCorrector: every variant
    match spliced via one multi-pattern scan) over the sf-scaled CJK pool.
    Oracle = per-pool-index targets precomputed by the identical serial
    corrector (replaces round 1's chained-replace() oracle, which was only
    valid while fixture sentences avoided overlapping variant occurrences)."""
    from pycorrector_spark.dicts import CONFUSION_DICT
    from pycorrector_spark.refimpl.core import ConfusionCorrector

    bc = _cached_bc(spark, "confusion", lambda: ConfusionCorrector(dict(CONFUSION_DICT)))
    return _correct_map(spark, sf_dir, lambda: bc.value)


def q_eval_f1(spark, sf_dir):
    """Labeled-corpus eval (A5): corrector over deterministic (src, tgt)
    pairs -> one confusion-matrix/F1 row via a real Spark aggregation.
    Rows-only (the correction stage is not SQL-expressible)."""
    from pycorrector_spark.evaluate import eval_corrector
    from pycorrector_spark.fixtures import make_eval_pairs

    pairs = spark.createDataFrame(make_eval_pairs())
    return eval_corrector(spark, pairs)


DOMAIN_MIX_WEIGHTS = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}


def q_domain_mix(spark, sf_dir):
    """Target-proportion domain mixing (curation.domain_mix — the
    DoReMi/Pile-style retrain-mix step): 4 of the 20 sources get target
    weights, the binding domain keeps everything, the rest downsample
    deterministically via the md5 bucket, unweighted sources drop. One
    tiny domain histogram + a narrow filter; the oracle replays the
    cutoff arithmetic (min over n/w, floor quantization) in SQL."""
    from pycorrector_spark.operators.curation import domain_mix

    return domain_mix(
        _docs(spark, sf_dir), DOMAIN_MIX_WEIGHTS, domain_col="source"
    ).select("doc_id", "source", "sample_bucket")


def _domain_mix_oracle_sql() -> str:
    from pycorrector_spark.operators.curation import _BUCKET_DENOM, md5_bucket_sql

    values = ", ".join(
        f"({_sq(d)}, {_dlit(w)})" for d, w in sorted(DOMAIN_MIX_WEIGHTS.items())
    )
    return f"""
        WITH w(domain, wt) AS (VALUES {values}),
        cnt AS (SELECT source AS d, count(*) AS n FROM documents GROUP BY source),
        tt AS (SELECT min(n / wt) AS t FROM cnt JOIN w ON d = domain),
        cuts AS (
          SELECT d, CAST(floor(least(1.0, (t * wt) / n) * {_BUCKET_DENOM}) AS BIGINT) AS cut
          FROM cnt JOIN w ON d = domain CROSS JOIN tt
        )
        SELECT doc_id, source, bucket AS sample_bucket FROM (
          SELECT doc_id, source, {md5_bucket_sql('text')} AS bucket
          FROM documents) x
        JOIN cuts ON x.source = cuts.d AND x.bucket < cuts.cut
    """


def q_zh_segment_pos(spark, sf_dir):
    """POS-tagged segmentation (T4 pos mode, reference tokenizer.py
    segment(pos=True) -> jieba.posseg): cut(HMM=True) tokens + coarse
    derived tags (nr/ns from the real 58k name lists, m/eng/x shapes, n
    default — textops.pos_of_token documents the tag-dim divergence)
    over the sf-scaled CJK pool; oracle = per-pool-index expected rows
    from the identical serial function."""
    from pycorrector_spark.dictio import full_dims
    from pycorrector_spark.fixtures import ZH_POOL

    bc = _artifacts_bc(spark, full=True)
    dims = full_dims()
    bc_names = spark.sparkContext.broadcast(
        (set(dims["person_names"]), set(dims["place_names"]))
    )

    def make():
        from pycorrector_spark.fixtures import fmt_detections
        from pycorrector_spark.textops import (hmm_tables_from_freq, log_prob_table,
                                               segment_pos)

        wf = bc.value.word_freq
        tables = hmm_tables_from_freq(wf)
        logp = log_prob_table(wf)
        person, place = bc_names.value
        return lambda texts: {
            "tagged": [
                fmt_detections(
                    segment_pos(t, wf, tables=tables, logp_table=logp,
                                person_names=person, place_names=place)
                )
                for t in texts
            ]
        }

    return _doc_map(_pool_docs(spark, sf_dir, ZH_POOL), "doc_id long, tagged string", make)


@functools.lru_cache(maxsize=None)
def _zh_segment_pos_oracle_sql() -> str:
    from pycorrector_spark.dictio import full_dims
    from pycorrector_spark.fixtures import ZH_POOL, fmt_detections
    from pycorrector_spark.textops import hmm_tables_from_freq, log_prob_table, segment_pos

    wf = dict(_full_artifacts_cached().word_freq)
    tables = hmm_tables_from_freq(wf)
    logp = log_prob_table(wf)
    dims = full_dims()
    person, place = set(dims["person_names"]), set(dims["place_names"])
    rows = [
        (i, (fmt_detections(
            segment_pos(s, wf, tables=tables, logp_table=logp,
                        person_names=person, place_names=place)),))
        for i, s in enumerate(ZH_POOL)
    ]
    return _pool_oracle_sql(len(ZH_POOL), ["tagged"], rows)


_RESUME_COLS = ["lang_id", "keep", "drop_reason", "scrubbed_text"]


def q_resume_pipeline(spark, sf_dir):
    """Checkpoint-resume driver-gated end to end (the north rule's
    'resumable from checkpoint' clause): run_with_resume is invoked TWICE
    against one output dir — first with only the even-doc_id half of the
    pool corpus, then with the FULL corpus. The second run's NULL-safe
    anti-join against docs_out must process exactly the odd remainder, so
    the final table holds every document ONCE with its scored columns —
    which is precisely what the oracle (per-pool-index golden rows over
    ALL doc_ids) asserts: a duplicate or a gap fails the row-count/hash
    compare."""
    import tempfile

    from pycorrector_spark.fixtures import PPL_POOL
    from pycorrector_spark.pipeline import run_with_resume

    _reap_tmp_dirs()
    out = tempfile.mkdtemp(prefix="pycorrector_spark_resume_")
    _TMP_DIRS.add(out)

    docs = _pool_docs(spark, sf_dir, PPL_POOL).withColumn(
        "url", F.concat(F.lit("doc://"), F.col("doc_id"))
    )
    run_with_resume(spark, docs.filter(F.col("doc_id") % 2 == 0), out)
    run_with_resume(spark, docs, out)
    got = spark.read.parquet(f"{out}/docs_out")
    return got.select("doc_id", *_RESUME_COLS)


@functools.lru_cache(maxsize=None)
def _resume_pipeline_oracle_sql() -> str:
    from pycorrector_spark.fixtures import PPL_POOL
    from pycorrector_spark.refimpl.golden import golden_row

    zh, en = _full_workers_cached()
    rows = []
    for i, s in enumerate(PPL_POOL):
        g = golden_row(s, zh, en)
        rows.append((i, tuple(g[c] for c in _RESUME_COLS)))
    return _pool_oracle_sql(len(PPL_POOL), _RESUME_COLS, rows)


def q_corpus_rollup(spark, sf_dir):
    """Hierarchical corpus statistics (the hypertable-rollup shape a
    crawl-monitoring dashboard reads): docs/chars per (source, lang), per
    source, and grand total in ONE pass via ROLLUP — Catalyst plans a
    single Expand + one hash aggregate instead of three scans, and the
    partial aggregation is map-side-combined per grouping set, so at
    100 TB the shuffle carries (n_sources x n_langs) rows, not docs.
    grouping_id disambiguates rollup NULLs from data NULLs; DuckDB's
    GROUPING() uses the identical bitmask convention (verified)."""
    d = _docs(spark, sf_dir)
    return d.rollup("source", "lang").agg(
        F.grouping_id().alias("gid"),
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.avg("n_chars").alias("avg_chars"),
    )


DECON_N = 8          # decontamination n-gram width (GPT-3 app. C uses 8-13)
DECON_BENCH_MOD = 17  # doc_id % MOD == RES rows seed the synthetic eval set
DECON_BENCH_RES = 3
DECON_BENCH_WORDS = 12  # benchmark prompt = first 12 words of the seed doc


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (curation.decontaminate): count + gate on
    word 8-gram overlap between each training doc and an eval benchmark.
    The benchmark is synthesized deterministically from the corpus itself
    (every 17th doc's first 12 words — so seed docs are guaranteed
    contaminated and everything else is checked against real shared
    phrasing), and the oracle replays the identical lowercase-split +
    15-hex-md5 arithmetic in SQL. Scale shape: bench n-grams broadcast;
    the corpus-side explode + semi join never shuffles the corpus
    (only matched rows reach the per-doc count)."""
    from pycorrector_spark.operators.curation import decontaminate

    d = _docs(spark, sf_dir)
    words = F.filter(
        F.split(F.lower(F.coalesce("text", F.lit(""))), "[ \t\n\r]+"),
        lambda x: x != F.lit(""),
    )
    bench = (
        d.filter(F.col("doc_id") % DECON_BENCH_MOD == DECON_BENCH_RES)
        .select(
            F.array_join(F.slice(words, 1, DECON_BENCH_WORDS), " ").alias("text")
        )
    )
    return decontaminate(d, bench, n=DECON_N)


def q_curation_e2e(spark, sf_dir):
    """END-TO-END curation composite (round 5): the cross-document
    stages a training-data pipeline chains — exact dedup (keep-min-id),
    Gopher repetition/structure gate, benchmark decontamination — fused
    into one DataFrame with a per-document keep decision and the reason
    bits. Plan shape: ONE hash-agg shuffle (dedup winners) + one
    broadcast-dim semi join (bench n-grams) + pure-JVM Gopher arrays;
    the corpus is scanned once per stage with no O(n^2) anywhere.
    Oracle: the same three stages as one DuckDB CTE chain, reusing the
    per-stage fragments (so the composite cannot drift from the
    individually-gated stages)."""
    from pycorrector_spark.operators.curation import decontaminate
    from pycorrector_spark.operators.dedup import exact_dedup_groups
    from pycorrector_spark.operators.webrules import with_gopher_columns

    d = _docs(spark, sf_dir).select("doc_id", "text")
    keepers = exact_dedup_groups(d).select(
        F.col("keeper_id").alias("doc_id"), F.lit(True).alias("is_keeper")
    )
    gop = with_gopher_columns(
        d.select("doc_id", F.coalesce("text", F.lit("")).alias("page_text"))
    ).select("doc_id", "gopher_keep")
    words = F.filter(
        F.split(F.lower(F.coalesce("text", F.lit(""))), "[ \t\n\r]+"),
        lambda x: x != F.lit(""),
    )
    bench = (
        d.filter(F.col("doc_id") % DECON_BENCH_MOD == DECON_BENCH_RES)
        .select(F.array_join(F.slice(words, 1, DECON_BENCH_WORDS), " ").alias("text"))
    )
    dec = decontaminate(d, bench, n=DECON_N).select(
        "doc_id", "contaminated_ngrams"
    )
    is_dup = F.col("text").isNotNull() & F.coalesce(
        ~F.col("is_keeper"), F.lit(True)
    )
    return (
        d.join(keepers, "doc_id", "left")
        .join(gop, "doc_id")
        .join(dec, "doc_id")
        .select(
            "doc_id",
            is_dup.alias("is_dup"),
            "gopher_keep",
            "contaminated_ngrams",
            (
                ~is_dup & F.col("gopher_keep")
                & (F.col("contaminated_ngrams") == 0)
            ).alias("keep"),
        )
    )


def _decon_ctes() -> str:
    """The decontamination CTE chain (dw .. hits) — shared by the
    standalone qf_decontaminate oracle and the curation_e2e composite."""
    g = (
        "('0x' || substr(md5(array_to_string(ws[i:i+{last}], ' ')), 1, 15))::BIGINT"
    ).format(last=DECON_N - 1)
    rng = f"range(1, len(ws) - {DECON_N - 2})"
    return f"""
        dw AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                                   '[ \t\n\r]+'),
                             w -> w <> '') AS ws
          FROM documents
        ),
        doc_grams AS (
          SELECT DISTINCT doc_id, gh FROM (
            SELECT doc_id, unnest([{g} for i in {rng}]) AS gh FROM dw)
        ),
        bw AS (
          SELECT ws[1:{DECON_BENCH_WORDS}] AS ws FROM dw
          WHERE doc_id % {DECON_BENCH_MOD} = {DECON_BENCH_RES}
        ),
        bench_grams AS (
          SELECT DISTINCT gh FROM (
            SELECT unnest([{g} for i in {rng}]) AS gh FROM bw)
        ),
        hits AS (
          SELECT doc_id, count(*) AS c
          FROM doc_grams JOIN bench_grams USING (gh) GROUP BY doc_id
        )"""


def _decontaminate_oracle_sql() -> str:
    return f"""
        WITH {_decon_ctes()}
        SELECT d.doc_id,
               coalesce(h.c, 0) AS contaminated_ngrams,
               coalesce(h.c, 0) = 0 AS keep
        FROM documents d LEFT JOIN hits h USING (doc_id)
    """


@functools.lru_cache(maxsize=None)
def _curation_e2e_oracle_sql() -> str:
    """The three stage fragments chained exactly as the Spark composite
    joins them: dedup winners + Gopher gate (over raw text) + the shared
    decontamination CTEs."""
    return f"""
        WITH base AS (
          SELECT doc_id, coalesce(text, '') AS page_text, text FROM documents
        ),
        win AS (
          SELECT min(doc_id) AS keeper FROM documents
          WHERE text IS NOT NULL GROUP BY md5(text)
        ),
        {_decon_ctes()}
        {_gopher_frag("base")}
        SELECT b.doc_id,
               (b.text IS NOT NULL AND w.keeper IS NULL) AS is_dup,
               g.gopher_keep,
               coalesce(h.c, 0) AS contaminated_ngrams,
               (NOT (b.text IS NOT NULL AND w.keeper IS NULL)
                AND g.gopher_keep AND coalesce(h.c, 0) = 0) AS keep
        FROM base b
        LEFT JOIN win w ON w.keeper = b.doc_id
        JOIN gkeep g USING (doc_id)
        LEFT JOIN hits h USING (doc_id)
    """


def q_zh_correct_full(spark, sf_dir):
    """Full correction path (C1-C7) against REFERENCE-SCALE dimensions
    (S3-S8 file-format loaders): char confusion sets from the real
    same_pinyin + same_stroke tables, proper-noun stage over ~58k
    person/place/proper names with the 12k-char stroke dict — over the
    sf-scaled CJK pool. Oracle: per-pool-index (target, corrections)
    precomputed by the identical full-dim corrector."""
    from pycorrector_spark.operators.score import _get_workers

    bc = _artifacts_bc(spark, full=True)
    return _correct_map(spark, sf_dir, lambda: _get_workers(bc)[1], "corrections")


def q_en_spell_full(spark, sf_dir):
    """English spell correction against the real 30k-word en.json.gz dict
    (S9 gzip-JSON loader, freq>400 filter) + SymSpell deletes index, over
    the sf-scaled English typo pool."""
    return _en_spell_map(spark, sf_dir, full=True)


def _webpages(spark, sf_dir):
    """documents folded into deterministic multi-line pages (webrules)."""
    from pycorrector_spark.operators.webrules import with_webpage_text

    return with_webpage_text(_docs(spark, sf_dir).select("doc_id", "text"))


def q_gopher_rules(spark, sf_dir):
    """Gopher §A1.1 repetition/structure signals + keep flag, computed as
    pure codegen'd array expressions over the synthesized pages."""
    from pycorrector_spark.operators.webrules import with_gopher_columns

    return with_gopher_columns(_webpages(spark, sf_dir)).select(
        "doc_id", "n_lines", "n_paras", "gw_words",
        "dup_line_frac", "dup_line_char_frac", "dup_para_frac",
        "dup_para_char_frac", "dup_5gram_frac", "mean_word_len",
        "bullet_line_frac", "ellipsis_line_frac", "alpha_word_frac",
        "stopword_hits", "gopher_keep",
    )


def q_top_ngram(spark, sf_dir):
    """Most frequent word bigram per page (relational explode+agg path)."""
    from pycorrector_spark.operators.webrules import top_ngram_frac

    return top_ngram_frac(_webpages(spark, sf_dir), n=2)


def q_c4_filter(spark, sf_dir):
    """C4 §2.2 line filter: retained text + keep decision per page."""
    from pycorrector_spark.operators.webrules import with_c4_filter

    return with_c4_filter(_webpages(spark, sf_dir)).select(
        "doc_id", "c4_text", "c4_n_kept", "c4_keep"
    )


def q_html_extract(spark, sf_dir):
    """WARC-shape html round-trip: synthesize deterministic markup around
    each page, run the JVM-regex extractor, assert the north-rule
    invariant (byte-identical extracted text per url) per row."""
    from pycorrector_spark.operators.htmlx import with_html_roundtrip

    return with_html_roundtrip(_webpages(spark, sf_dir)).select(
        "doc_id", "n_html_bytes", "extracted_text", "byte_identical"
    )


def q_toxicity(spark, sf_dir):
    """Word-blocklist toxicity filter. Synthetic docs are clean, so every
    13th doc gets one blocklist word appended (mirrored in the oracle) to
    make both keep and drop branches non-vacuous."""
    from pycorrector_spark.operators.htmlx import TOXIC_WORDS, with_toxicity

    toxic_arr = F.array(*[F.lit(w) for w in TOXIC_WORDS])
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.coalesce(F.col("text"), F.lit("")),
                F.lit(" "),
                F.element_at(toxic_arr, (F.col("doc_id") % len(TOXIC_WORDS)).cast("int") + 1),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return with_toxicity(docs).select(
        "doc_id", "n_words", "toxic_hits", "toxic_frac", "toxicity_keep"
    )


def q_url_filter(spark, sf_dir):
    """URL curation: synthesize messy urls (case/ports/utm/fragments, two
    blocklisted hosts), normalize, and emit the keep flag."""
    from pycorrector_spark.operators.htmlx import synth_url_expr, with_url_filter

    docs = _docs(spark, sf_dir).select(
        "doc_id", synth_url_expr(F.col("doc_id")).alias("url")
    )
    return with_url_filter(docs).select("doc_id", "url", "norm_url", "host", "url_keep")


def q_url_dedup(spark, sf_dir):
    """URL-level dedup (RefinedWeb's first pass — re-crawls dominate raw
    Common Crawl): ~3 crawls per page are synthesized (page identity =
    doc_id DIV 3; crawl mess = scheme case / default port / utm position /
    fragment keyed on doc_id), normalized, and the LATEST crawl per
    canonical url wins. One map-side-combinable max(struct) hash agg —
    no window, no sort; a page crawled millions of times collapses
    per-partition before the shuffle."""
    from pycorrector_spark.operators.htmlx import (
        synth_recrawl_url_expr,
        url_dedup_latest,
    )

    crawls = _docs(spark, sf_dir).select(
        "doc_id",
        synth_recrawl_url_expr(F.expr("doc_id DIV 3"), F.col("doc_id")).alias("url"),
        (
            F.to_timestamp(F.lit("2026-01-01 00:00:00"))
            + F.make_interval(secs=F.col("doc_id") * 17)
        ).alias("warc_ts"),
    )
    return url_dedup_latest(crawls)


def q_dedup_clusters(spark, sf_dir):
    """Near-dup clusters: capped Jaccard pairs -> alternating large/small
    star connected components -> (doc_id, rep, is_canonical). Same pair
    parameters as dedup_jaccard, so the recursive-CTE oracle closes over
    the identical pair set."""
    from pycorrector_spark.operators.dedup import near_dup_clusters

    return near_dup_clusters(
        _docs(spark, sf_dir), k=2, threshold=0.2, max_df=JACCARD_MAX_DF
    )


def q_host_cap(spark, sf_dir):
    """Per-domain quota (C4/RefinedWeb-style): keep at most HOST_CAP_N
    docs per host, best-first by word count. Skew-safe two-phase top-N —
    the salted first window bounds a hot host's sort run (windows are the
    one skew shape AQE cannot split)."""
    from pycorrector_spark.operators.curation import top_n_per_key
    from pycorrector_spark.operators.htmlx import synth_url_expr, with_url_filter

    d = _signals_map(_docs(spark, sf_dir), ["n_words"])
    d = with_url_filter(d.withColumn("url", synth_url_expr(F.col("doc_id"))))
    capped = top_n_per_key(
        d, "host", HOST_CAP_N,
        [F.col("n_words").desc(), F.col("doc_id").asc()],
        unique_col="doc_id", salt_buckets=8,
    )
    return capped.select("doc_id", "host", "n_words", "key_rank")


def q_sample_hash(spark, sf_dir):
    """Deterministic md5-bucket Bernoulli sample stratified per language
    (key = lang:text): reproducible on any cluster size, across retries —
    a pure narrow map+filter, no shuffle."""
    from pycorrector_spark.operators.curation import hash_sample

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    key = F.concat(
        F.coalesce(F.col("lang"), F.lit("")), F.lit(":"),
        F.coalesce(F.col("text"), F.lit("")),
    )
    return hash_sample(docs, key, SAMPLE_RATE).select(
        "doc_id", "lang", "sample_bucket"
    )


def q_dedup_incremental(spark, sf_dir):
    """Day-over-day crawl dedup: new batch (doc_id%3!=0) anti-joined
    against the seen snapshot (doc_id%3=0) on md5(text), with a broadcast
    bloom prefilter so definitely-new rows skip the shuffle. No false
    negatives => output is byte-identical to the plain anti-join the
    oracle runs."""
    from pycorrector_spark.operators.curation import incremental_dedup

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    seen = docs.where(F.col("doc_id") % 3 == 0)
    new = docs.where(F.col("doc_id") % 3 != 0)
    return incremental_dedup(new, seen).select("doc_id", "text_md5")


def q_token_budget(spark, sf_dir):
    """Token-budget curation cut: keep best docs (by word count) while the
    running token total fits TOKEN_BUDGET. Exact global-prefix semantics
    WITHOUT a global sort — distributed prefix-sum over range partitions
    (hot scores split on the id tie-break; see select_token_budget)."""
    from pycorrector_spark.operators.curation import select_token_budget

    d = _signals_map(_docs(spark, sf_dir), ["n_words"])
    out = select_token_budget(
        d, TOKEN_BUDGET, score_col="n_words", tokens_col="n_words",
        id_col="doc_id",
    )
    res = out.select("doc_id", "n_words", "cum_tokens")
    res._cached_deps = getattr(out, "_cached_deps", ())
    return res


def q_nb_langid(spark, sf_dir):
    """fastText-style language classifier: multinomial NB over char
    trigrams, trained ON the corpus labels and scored back over it —
    training is one groupBy shuffle, scoring a broadcast join plus an
    ordered per-doc fold, so the exact doubles survive any cluster size.
    nb_logp is rounded (4dp) only because Java's Math.log and libm ln can
    differ by 1 ulp on a handful of grams."""
    from pycorrector_spark.operators.nbayes import fit_nb, score_nb

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    model = fit_nb(docs, label_col="lang", text_col="text", n=3,
                   min_count=NB_MIN_COUNT)
    out = score_nb(docs, model).select(
        "doc_id", "nb_pred", F.round("nb_logp", 4).alias("nb_logp")
    )
    # dedup.release_cached(out) after the action unpersists the fit's
    # gram relation
    out._cached_deps = (model._cached,)
    return out


def q_fix_encoding(spark, sf_dir):
    """ftfy-style mojibake repair over a pool of clean / singly- /
    doubly-corrupted strings in latin-1 and cp1252 flavors: repaired text
    plus a was_mojibake flag, hash-checked against the serial codec."""
    from pycorrector_spark.fixtures import MOJIBAKE_POOL
    from pycorrector_spark.operators.encfix import with_fixed_encoding

    return with_fixed_encoding(
        _pool_docs(spark, sf_dir, MOJIBAKE_POOL)
    ).select("doc_id", "fixed_text", "was_mojibake")


def _fix_encoding_oracle_sql() -> str:
    from pycorrector_spark.fixtures import MOJIBAKE_POOL
    from pycorrector_spark.operators.encfix import fix_mojibake

    rows = [
        (i, (t, bool(m)))
        for i, (t, m) in enumerate(fix_mojibake(s) for s in MOJIBAKE_POOL)
    ]
    return _pool_oracle_sql(
        len(MOJIBAKE_POOL), ["fixed_text", "was_mojibake"], rows
    )


# DSIR selection fraction (keep the top num/den of docs by importance)
DSIR_FRAC = (1, 4)
DSIR_TARGET_LANG = "en"


def q_dsir_select(spark, sf_dir):
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): hashed-ngram importance
    weight = log p_target(x) - log p_raw(x), estimated here as a 2-class
    NB log-score difference over char trigrams (target = lang='en' docs,
    raw = the rest — the same bag-of-hashed-ngrams family DSIR uses);
    docs in the top quarter by weight are selected.

    Scale shape: NB fit (one shuffle) + broadcast-scored fold, then the
    CCNet-style histogram cutoff — selection needs NO global sort; the
    weight is quantized to 0.01 bins whose histogram the driver scans.
    Weight is rounded to 4dp before binning for the same 1-ulp libm
    reason as nb_langid, and the oracle mirrors fit, fold, round, bin,
    and cutoff exactly."""
    from pycorrector_spark.operators.curation import topfrac_cutoff
    from pycorrector_spark.operators.nbayes import fit_nb, score_nb

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    lab = docs.withColumn(
        "dlabel",
        F.when(F.col("lang") == DSIR_TARGET_LANG, F.lit("target")).otherwise(
            F.lit("other")
        ),
    )
    model = fit_nb(lab, label_col="dlabel", text_col="text", n=3,
                   min_count=NB_MIN_COUNT)
    scored = score_nb(docs, model).select(
        "doc_id",
        F.round(F.col("logp_target") - F.col("logp_other"), 4).alias("log_w"),
    )
    # persist across the histogram action and the returned plan — the NB
    # fold would otherwise run twice (once per action)
    binned = scored.withColumn(
        "bin", F.floor(F.col("log_w") * 100).cast("long")
    ).persist()
    cut = topfrac_cutoff(
        [(r[0], r[1]) for r in binned.groupBy("bin").count().collect()],
        *DSIR_FRAC,
    )
    out = binned.select(
        "doc_id", "log_w", (F.col("bin") >= F.lit(cut)).alias("dsir_keep")
    )
    # dedup.release_cached after the action: the scored relation AND the
    # NB fit's gram relation
    out._cached_deps = (binned, model._cached)
    return out


def q_line_dedup(spark, sf_dir):
    """CCNet-style corpus-frequency line dedup: lines shared by more than
    LINE_DEDUP_MAX_DF distinct documents (the synthesized boilerplate
    banner) are removed from every page."""
    from pycorrector_spark.operators.webrules import corpus_line_dedup

    return corpus_line_dedup(_webpages(spark, sf_dir))


# paragraph-dedup spam injection: page decorations are keyed on doc_id, so
# identical source text never yields identical paragraphs across documents —
# without injection the dedup would be vacuously green. Every PERIOD-th doc
# gets a spam twin (disjoint high-bit id namespace: doc_id + 2^40 never
# collides with a real doc_id) sharing one boilerplate paragraph plus a
# unique line.
PARA_SPAM_PERIOD = 25
PARA_SPAM_OFFSET = 1 << 40
PARA_SPAM_TEXT = (
    "subscribe to our newsletter for daily updates\n"
    "all rights reserved copyright twenty twenty four\n"
    "click here to read the full article online\n"
    "share this story on your favorite social network"
)


def _spam_pages(pages):
    """Deterministic spam twins of every PARA_SPAM_PERIOD-th page."""
    return pages.filter(F.col("doc_id") % PARA_SPAM_PERIOD == 0).select(
        (F.col("doc_id") + F.lit(PARA_SPAM_OFFSET)).alias("doc_id"),
        F.concat(
            F.lit(PARA_SPAM_TEXT),
            F.lit("\n\n"),
            F.lit("only in "),
            F.col("doc_id").cast("string"),
        ).alias("page_text"),
    )


def q_paragraph_dedup(spark, sf_dir):
    """MassiveText-style exact paragraph dedup, keep-first: the shared spam
    paragraph survives only in the minimal (doc_id, pos) occurrence; every
    other copy is dropped while the pages' unique content is untouched."""
    from pycorrector_spark.operators.webrules import paragraph_dedup

    pages = _webpages(spark, sf_dir).select("doc_id", "page_text")
    return paragraph_dedup(pages.unionByName(_spam_pages(pages)))


# substring-dedup spam injection: twins share an 11-word run behind a
# per-twin unique 2-word prefix, so the run's windows are corpus-level
# duplicates while the prefix stays unique (guaranteed non-vacuity on any
# corpus; organic >=8-word shared runs dedup too).
SUBSTR_SPAM_PERIOD = 25
SUBSTR_SPAM_OFFSET = 1 << 40
SUBSTR_SPAM_RUN = (
    "the quick brown fox jumps over the lazy sleeping dog tonight"
)


def q_substr_dedup(spark, sf_dir):
    """Exact duplicate-substring removal (Lee et al. 2021 ExactSubstr,
    relational form): words covered by a non-canonical occurrence of any
    8-word window are dropped; the globally first occurrence survives."""
    from pycorrector_spark.operators.dedup import substring_dedup

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    spam = docs.filter(F.col("doc_id") % SUBSTR_SPAM_PERIOD == 0).select(
        (F.col("doc_id") + F.lit(SUBSTR_SPAM_OFFSET)).alias("doc_id"),
        F.concat(
            F.lit("doc "),
            F.col("doc_id").cast("string"),
            F.lit(" "),
            F.lit(SUBSTR_SPAM_RUN),
        ).alias("text"),
    )
    return substring_dedup(docs.unionByName(spam))


def q_web_pipeline(spark, sf_dir):
    """End-to-end web quality filter over the WARC-shaped input: url
    curation -> html text extraction -> language ID -> Gopher repetition
    rules -> C4 line filter -> toxicity -> PII scrub, emitting the final
    keep/drop label with a first-failing-stage drop_reason and the
    scrubbed retained text. The url, html, Gopher, C4 and toxicity stages
    are JVM column expressions; language ID and the scrub run the
    score stage's pandas kernels in one Python stage (NULL text counts as
    ''). The whole chain is SQL-mirrored, so the driver hash-checks the
    complete keep/drop contract (the north-rule deliverable)."""
    from pycorrector_spark.config import DEFAULT_CONFIG as C
    from pycorrector_spark.operators import htmlx as H
    from pycorrector_spark.operators.webrules import (
        webpage_text_expr, with_c4_filter, with_gopher_columns,
    )
    from pycorrector_spark.stage import ensure_parallelism, python_stage

    d = ensure_parallelism(_docs(spark, sf_dir).select("doc_id", "text"))
    # WARC stand-in: deterministic page markup + messy url per doc
    df = d.select(
        "doc_id",
        H.synth_url_expr(F.col("doc_id")).alias("url"),
        F.encode(
            H.synth_html_expr(F.col("doc_id"), webpage_text_expr(F.col("doc_id"), F.col("text"))),
            "utf-8",
        ).alias("html"),
    )
    df = H.with_url_filter(df)
    df = df.withColumn("page_text", H.extract_text_expr(F.decode(F.col("html"), "utf-8")))
    df = with_gopher_columns(df)
    df = with_c4_filter(df)
    df = H.with_toxicity(df, "page_text")
    flags = ["url_keep", "gopher_keep", "c4_keep", "toxicity_keep"]

    def fn(it):
        from pycorrector_spark.textops import scrub_series, signals_frame

        for pdf in it:
            yield pdf[["doc_id", "norm_url", *flags]].assign(
                lang_id=signals_frame(pdf["page_text"])["lang_id"],
                scrubbed_text=scrub_series(pdf["c4_text"].fillna("")),
            )

    ddl = ("doc_id long, norm_url string, " + ", ".join(f"{c} boolean" for c in flags)
           + ", lang_id string, scrubbed_text string")
    df = python_stage(df.select("doc_id", "norm_url", *flags, "page_text", "c4_text"), fn, ddl)
    reason = (
        F.when(~F.col("url_keep"), F.lit("url"))
        .when(~F.col("lang_id").isin(*C.allowed_langs), F.lit("lang"))
        .when(~F.col("gopher_keep"), F.lit("gopher"))
        .when(~F.col("c4_keep"), F.lit("c4"))
        .when(~F.col("toxicity_keep"), F.lit("toxicity"))
        .otherwise(F.lit(""))
    )
    return df.select(
        "doc_id",
        "norm_url",
        "lang_id",
        (reason == "").alias("keep"),
        reason.alias("drop_reason"),
        "scrubbed_text",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Dict order is gate order: the driver's correctness gate records queries
    # in dict order and has capped at 50 entries, so the paper's path comes
    # first (langid, signals, keep_cheap, scrub, LM ppl, zh detect/correct,
    # en spell, the pipeline and its resume), then dedup and curation, then
    # the rest. tests/test_entry.py keeps the paper's path inside the window.
    return {
        "qf_langid": q_langid,
        "qf_quality_signals": q_quality_signals,
        "qf_keep_cheap": q_keep_cheap,
        "qf_scrub": q_scrub,
        "qf_lm_ppl": q_lm_ppl,
        "qf_sent_split": q_sent_split,
        "qf_uniform": q_uniform,
        "zh_segment": q_zh_segment,
        "zh_segment_hmm": q_zh_segment_hmm,
        "zh_segment_pos": q_zh_segment_pos,
        "qf_detect": q_detect,
        "zh_correct_full": q_zh_correct_full,
        "zh_confusion": q_confusion,
        "zh_proper": q_proper,
        "eval_f1": q_eval_f1,
        "en_spell": q_en_spell,
        "en_spell_full": q_en_spell_full,
        "qf_pipeline_full": q_pipeline_full,
        "qf_pipeline_pool": q_pipeline_pool,
        "resume_pipeline": q_resume_pipeline,
        "dedup_exact": q_dedup_exact,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_minhash": q_dedup_minhash,
        "dedup_clusters": q_dedup_clusters,
        "dedup_substr": q_substr_dedup,
        "dedup_incremental": q_dedup_incremental,
        "doc_fingerprint": q_fingerprint,
        "qf_para_dedup": q_paragraph_dedup,
        "qf_line_dedup": q_line_dedup,
        "qf_curation_e2e": q_curation_e2e,
        "qf_decontaminate": q_decontaminate,
        "qf_gopher_rules": q_gopher_rules,
        "qf_c4_filter": q_c4_filter,
        "qf_ccnet_buckets": q_ccnet_buckets,
        "qf_token_budget": q_token_budget,
        "qf_host_cap": q_host_cap,
        "qf_sample": q_sample_hash,
        "qf_domain_mix": q_domain_mix,
        "qf_corpus_rollup": q_corpus_rollup,
        "dsir_select": q_dsir_select,
        "langid_agreement": q_langid_agreement,
        "qf_langid_ft": q_langid_ft,
        "nb_langid": q_nb_langid,
        "qf_split_len": q_sent_split_len,
        "qf_b2q": q_b2q,
        "zh_t2s": q_zh_t2s,
        "zh_t2s_phrase": q_zh_t2s_phrase,
        "zh_s2t": q_zh_s2t,
        "zh_s2t_phrase": q_zh_s2t_phrase,
        "zh_homophones": q_homophones,
        "zh_homophones_full": q_homophones_full,
        "qf_fix_encoding": q_fix_encoding,
        "ngram_counts": q_ngram_counts,
        "tok_counts": q_token_counts,
        "qf_top_ngram": q_top_ngram,
        "qf_html_extract": q_html_extract,
        "qf_toxicity": q_toxicity,
        "qf_url_filter": q_url_filter,
        "qf_url_dedup": q_url_dedup,
        "qf_web_pipeline": q_web_pipeline,
    }


# ---------------------------------------------------------------------------
# oracle literal encoding + pool-join scaffolding
# ---------------------------------------------------------------------------


def _sq(s: str) -> str:
    """SQL single-quoted string literal."""
    return "'" + str(s).replace("'", "''") + "'"


def _dlit(v: float) -> str:
    """EXACT double literal: mantissa * power(2, exp) via frexp. DuckDB's
    decimal-literal parser can be one ulp off a correctly-rounded strtod,
    which would break bit-exact value-hash compares; this encoding is
    integer-only and reconstructs the identical IEEE-754 double."""
    v = float(v)
    if v != v or v in (float("inf"), float("-inf")):
        raise ValueError(f"non-finite literal {v}")
    if v == 0.0:
        return "0.0"
    m, e = math.frexp(v)
    return f"({int(m * (1 << 53))}*power(2.0,{e - 53}))"


def _vlit(v) -> str:
    import numpy as np

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        return _dlit(float(v))
    return _sq(v)


def _pool_oracle_sql(pool_len: int, cols: list, rows: list) -> str:
    """JOIN documents.doc_id % pool_len onto precomputed per-pool-index
    expected values. ``rows`` = [(pool_idx, (v1, v2, ...)), ...]; pool
    indices absent from rows (e.g. docs the operator drops) fall out of
    the inner join — mirroring the Spark side's row drops."""
    values = ", ".join(
        "(" + ", ".join([str(int(i))] + [_vlit(v) for v in vals]) + ")"
        for i, vals in rows
    )
    select_cols = ", ".join(f"p.{c}" for c in cols)
    return (
        f"SELECT d.doc_id, {select_cols} FROM documents d "
        f"JOIN (VALUES {values}) p(pool_idx, {', '.join(cols)}) "
        f"ON d.doc_id % {pool_len} = p.pool_idx"
    )


def _cfg():
    from pycorrector_spark.config import DEFAULT_CONFIG

    return DEFAULT_CONFIG


@functools.lru_cache(maxsize=None)
def _workers_cached():
    from pycorrector_spark.operators.score import make_workers

    return make_workers(_artifacts_cached())


# ---------------------------------------------------------------------------
# generated oracles (each runs the identical deterministic serial
# implementation driver-side and freezes the expected outputs into VALUES)
# ---------------------------------------------------------------------------


@functools.lru_cache(maxsize=None)
def _zh_segment_oracle_sql() -> str:
    from pycorrector_spark.fixtures import ZH_POOL, fmt_tokens
    from pycorrector_spark.textops import dag_max_prob_tokens, log_prob_table

    wf = dict(_full_artifacts_cached().word_freq)
    logp = log_prob_table(wf)
    rows = [
        (i, (fmt_tokens(dag_max_prob_tokens(s, wf, logp_table=logp)),))
        for i, s in enumerate(ZH_POOL)
    ]
    return _pool_oracle_sql(len(ZH_POOL), ["tokens"], rows)


@functools.lru_cache(maxsize=None)
def _zh_segment_hmm_oracle_sql() -> str:
    from pycorrector_spark.fixtures import ZH_POOL, fmt_tokens
    from pycorrector_spark.textops import dag_hmm_tokens, hmm_tables_from_freq, log_prob_table

    wf = dict(_full_artifacts_cached().word_freq)
    tables = hmm_tables_from_freq(wf)
    logp = log_prob_table(wf)
    rows = [
        (i, (fmt_tokens(dag_hmm_tokens(s, wf, tables=tables, logp_table=logp)),))
        for i, s in enumerate(ZH_POOL)
    ]
    return _pool_oracle_sql(len(ZH_POOL), ["tokens"], rows)


@functools.lru_cache(maxsize=None)
def _qf_detect_oracle_sql() -> str:
    from pycorrector_spark.fixtures import ZH_POOL, fmt_detections

    zh, _ = _full_workers_cached()
    rows = []
    for i, s in enumerate(ZH_POOL):
        dets = zh.detect(s)
        rows.append((i, (fmt_detections(dets), len(dets))))
    return _pool_oracle_sql(len(ZH_POOL), ["errors", "n_errors"], rows)


@functools.lru_cache(maxsize=None)
def _zh_proper_oracle_sql() -> str:
    from pycorrector_spark.dicts import PROPER_NAMES
    from pycorrector_spark.fixtures import ZH_POOL, fmt_corrections
    from pycorrector_spark.refimpl.proper import ProperCorrector

    pc = ProperCorrector(PROPER_NAMES)
    rows = []
    for i, s in enumerate(ZH_POOL):
        res = pc.correct(s)
        rows.append((i, (res["target"], fmt_corrections(res["errors"]))))
    return _pool_oracle_sql(len(ZH_POOL), ["target", "errors"], rows)


@functools.lru_cache(maxsize=None)
def _zh_confusion_oracle_sql() -> str:
    from pycorrector_spark.dicts import CONFUSION_DICT
    from pycorrector_spark.fixtures import ZH_POOL
    from pycorrector_spark.refimpl.core import ConfusionCorrector

    cc = ConfusionCorrector(dict(CONFUSION_DICT))
    rows = [(i, (cc.correct(s)["target"],)) for i, s in enumerate(ZH_POOL)]
    return _pool_oracle_sql(len(ZH_POOL), ["target"], rows)


@functools.lru_cache(maxsize=None)
def _en_spell_oracle_sql() -> str:
    from pycorrector_spark.fixtures import EN_POOL

    _, en = _workers_cached()
    rows = []
    for i, s in enumerate(EN_POOL):
        res = en.correct(s)
        rows.append((i, (res["target"], len(res["errors"]))))
    return _pool_oracle_sql(len(EN_POOL), ["corrected_text", "n_fixes"], rows)


@functools.lru_cache(maxsize=None)
def _full_workers_cached():
    from pycorrector_spark.operators.score import make_workers

    return make_workers(_full_artifacts_cached())


@functools.lru_cache(maxsize=None)
def _zh_correct_full_oracle_sql() -> str:
    from pycorrector_spark.fixtures import ZH_POOL, fmt_corrections

    zh, _ = _full_workers_cached()
    rows = []
    for i, s in enumerate(ZH_POOL):
        res = zh.correct(s)
        rows.append((i, (res["target"], fmt_corrections(res["errors"]))))
    return _pool_oracle_sql(len(ZH_POOL), ["target", "corrections"], rows)


@functools.lru_cache(maxsize=None)
def _en_spell_full_oracle_sql() -> str:
    from pycorrector_spark.fixtures import EN_POOL

    _, en = _full_workers_cached()
    rows = []
    for i, s in enumerate(EN_POOL):
        res = en.correct(s)
        rows.append((i, (res["target"], len(res["errors"]))))
    return _pool_oracle_sql(len(EN_POOL), ["corrected_text", "n_fixes"], rows)


@functools.lru_cache(maxsize=None)
def _qf_lm_ppl_oracle_sql() -> str:
    from pycorrector_spark.fixtures import PPL_POOL
    from pycorrector_spark.textops import uniform

    lm = _full_artifacts_cached().lm
    ppl = lm.ppl_batch([uniform(s) for s in PPL_POOL])
    rows = [(i, (float(p),)) for i, p in enumerate(ppl)]
    return _pool_oracle_sql(len(PPL_POOL), ["ppl"], rows)


def _dedup_substr_oracle_sql() -> str:
    from pycorrector_spark.operators.dedup import SUBSTR_WINDOW as W

    return f"""
        WITH allp AS (
          SELECT doc_id, coalesce(text, '') AS text FROM documents
          UNION ALL
          SELECT doc_id + {SUBSTR_SPAM_OFFSET},
                 'doc ' || CAST(doc_id AS VARCHAR) || ' ' || {_sq(SUBSTR_SPAM_RUN)}
          FROM documents WHERE doc_id % {SUBSTR_SPAM_PERIOD} = 0
        ), wd AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS words
          FROM allp
        ), wx AS (
          SELECT doc_id, words, len(words) AS nw FROM wd
        ), occ0 AS (
          SELECT doc_id, words,
                 unnest(generate_series(0, nw - {W})) AS wpos
          FROM wx
        ), occ AS (
          SELECT doc_id, wpos,
                 md5(array_to_string(list_slice(words, wpos + 1, wpos + {W}), ' ')) AS wh
          FROM occ0
        ), rk AS (
          SELECT doc_id, wpos,
                 row_number() OVER (PARTITION BY wh ORDER BY doc_id, wpos) AS rn
          FROM occ
        ), dup AS (
          SELECT doc_id, list(wpos) AS dups FROM rk WHERE rn > 1 GROUP BY doc_id
        ), fin AS (
          SELECT wx.doc_id, wx.words, wx.nw,
                 coalesce(dup.dups, CAST([] AS BIGINT[])) AS dups
          FROM wx LEFT JOIN dup ON wx.doc_id = dup.doc_id
        ), cov AS (
          SELECT doc_id, nw,
                 list_filter(words, (x, i) ->
                   len(list_filter(dups, p -> i - 1 >= p AND i - 1 < p + {W})) = 0
                 ) AS kept
          FROM fin
        )
        SELECT doc_id,
               coalesce(array_to_string(kept, ' '), '') AS clean_text,
               CAST(nw - len(kept) AS BIGINT) AS n_dropped_tokens
        FROM cov
    """


@functools.lru_cache(maxsize=None)
def _qf_ccnet_oracle_sql() -> str:
    import numpy as np

    from pycorrector_spark.fixtures import PPL_POOL
    from pycorrector_spark.operators.curation import ppl_bin
    from pycorrector_spark.textops import uniform

    lm = _full_artifacts_cached().lm
    ppl = lm.ppl_batch([uniform(s) for s in PPL_POOL])
    bins = ppl_bin(np.asarray(ppl, dtype=np.float64))
    rows = [
        (i, (float(p), int(b))) for i, (p, b) in enumerate(zip(ppl, bins))
    ]
    pool = _pool_oracle_sql(len(PPL_POOL), ["ppl", "bin"], rows)
    return f"""
        WITH scored AS ({pool}),
        hist AS (SELECT bin, count(*) AS c FROM scored GROUP BY bin),
        tot AS (SELECT sum(c) AS total FROM hist),
        cum AS (SELECT bin, sum(c) OVER (ORDER BY bin) AS cum FROM hist),
        cuts AS (
          SELECT min(CASE WHEN cum >= (total + 2) // 3 THEN bin END) AS c1,
                 min(CASE WHEN cum >= (2 * total + 2) // 3 THEN bin END) AS c2
          FROM cum CROSS JOIN tot
        )
        SELECT s.doc_id, s.ppl,
               CASE WHEN s.bin <= c1 THEN 'head'
                    WHEN s.bin <= c2 THEN 'middle'
                    ELSE 'tail' END AS ppl_bucket
        FROM scored s CROSS JOIN cuts
    """


@functools.lru_cache(maxsize=None)
def _dedup_minhash_oracle_sql() -> str:
    import numpy as np
    from pycorrector_spark.fixtures import MINHASH_POOL
    from pycorrector_spark.operators.dedup import (
        _minhash_batch,
        _minhash_params,
        _shingle_arrays,
        _shingle_pos_mult,
    )

    ids, hashes = _shingle_arrays(
        list(range(len(MINHASH_POOL))), MINHASH_POOL, 2, _shingle_pos_mult(2), {}
    )
    a, b = _minhash_params(64, seed=42)
    sigs = _minhash_batch([h.view(np.uint64) for h in hashes], a, b)
    rows = [
        (int(i), (",".join(str(int(x)) for x in sig),)) for i, sig in zip(ids, sigs)
    ]
    return _pool_oracle_sql(len(MINHASH_POOL), ["sig"], rows)


@functools.lru_cache(maxsize=None)
def _eval_f1_oracle_sql() -> str:
    from pycorrector_spark.fixtures import make_eval_pairs

    zh, _ = _workers_cached()
    pairs = make_eval_pairs()
    values = ", ".join(
        f"({_sq(s)}, {_sq(t)}, {_sq(zh.correct(s)['target'])})"
        for s, t in zip(pairs["src"], pairs["tgt"])
    )
    return f"""
        WITH c(src, tgt, corrected) AS (VALUES {values}),
        agg AS (
          SELECT count(*) AS n,
                 sum(CASE WHEN src <> tgt AND corrected = tgt THEN 1 ELSE 0 END)::BIGINT AS tp,
                 sum(CASE WHEN src = tgt AND corrected <> src THEN 1 ELSE 0 END)::BIGINT AS fp,
                 sum(CASE WHEN src <> tgt AND corrected <> tgt THEN 1 ELSE 0 END)::BIGINT AS fn,
                 sum(CASE WHEN src = tgt AND corrected = src THEN 1 ELSE 0 END)::BIGINT AS tn
          FROM c),
        m AS (
          SELECT *,
                 CASE WHEN n > 0 THEN (tp + tn) / n ELSE 0.0 END AS acc,
                 CASE WHEN tp + fp > 0 THEN tp / (tp + fp) ELSE 0.0 END AS precision,
                 CASE WHEN tp + fn > 0 THEN tp / (tp + fn) ELSE 0.0 END AS recall
          FROM agg)
        SELECT n, tp, fp, fn, tn, acc, precision, recall,
               CASE WHEN precision + recall > 0
                    THEN 2 * precision * recall / (precision + recall)
                    ELSE 0.0 END AS f1
        FROM m
    """


@functools.lru_cache(maxsize=None)
def _pipeline_full_oracle_sql() -> str:
    """qf_pipeline_full expected rows: the serial golden oracle
    (refimpl/golden.py, full-dim workers — the identical primitives the
    Arrow stage runs) applied row-by-row to the ACTUAL documents table
    the driver's gate reads (sf0.01 by default; SPARK_GRAFT_ORACLE_SF_DIR
    overrides), frozen into VALUES. This upgrades the round-2 rows-only
    check to a full hash check of the real-corpus pipeline: every url's
    keep/drop, ppl (bit-exact via _dlit), error count and scrubbed text
    must match the serial contract."""
    import os

    import pandas as pd
    from pycorrector_spark.refimpl.golden import golden_row

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    zh, en = _full_workers_cached()
    values = []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        g = golden_row("" if text is None else str(text), zh, en)
        values.append(
            "(" + ", ".join([
                _sq(f"doc://{int(doc_id)}"),
                _sq(g["lang_id"]),
                _vlit(g["keep"]),
                _sq(g["drop_reason"]),
                "NULL" if g["ppl"] is None else _dlit(g["ppl"]),
                "NULL" if g["n_errors"] is None else str(int(g["n_errors"])),
                _sq(g["scrubbed_text"]),
            ]) + ")"
        )
    return (
        "SELECT * FROM (VALUES " + ", ".join(values) +
        ") t(url, lang_id, keep, drop_reason, ppl, n_errors, scrubbed_text)"
    )


def _b2q_oracle_sql() -> str:
    """translate(halfwidth -> fullwidth), tables generated from the same
    codepoint ranges as textops._B2Q_TABLE."""
    hw = " " + "".join(chr(c) for c in range(0x21, 0x7F))
    fw = chr(0x3000) + "".join(chr(c) for c in range(0xFF01, 0xFF5F))
    hw_sql = hw.replace("'", "''")
    fw_sql = fw.replace("'", "''")
    return (
        f"SELECT doc_id, translate(coalesce(text, ''), '{hw_sql}', '{fw_sql}') AS wide_text"
        " FROM documents"
    )


def _uniform_oracle_sql() -> str:
    """lower(translate(fullwidth -> halfwidth)) with tables generated from
    the same codepoint ranges as textops._Q2B_TABLE."""
    fw = chr(0x3000) + "".join(chr(c) for c in range(0xFF01, 0xFF5F))
    hw = " " + "".join(chr(c) for c in range(0x21, 0x7F))
    fw_sql = fw.replace("'", "''")
    hw_sql = hw.replace("'", "''")
    return (
        f"SELECT doc_id, lower(translate(coalesce(text, ''), '{fw_sql}', '{hw_sql}')) AS norm_text"
        " FROM documents"
    )


def _t2s_oracle_sql() -> str:
    """translate() over the same merged full single-char table (generated
    from the loaded table so the oracle can never drift from it)."""
    from pycorrector_spark.textops import t2s_full_chars

    table = t2s_full_chars()
    src = "".join(table)
    dst = "".join(table.values())
    return (
        f"SELECT doc_id, translate(coalesce(text, ''), '{src}', '{dst}') AS simp_text FROM documents"
    )


@functools.lru_cache(maxsize=None)
def _zh_t2s_phrase_oracle_sql() -> str:
    from pycorrector_spark.fixtures import ZHT_POOL
    from pycorrector_spark.textops import t2s_full

    rows = [(i, (t2s_full(s),)) for i, s in enumerate(ZHT_POOL)]
    return _pool_oracle_sql(len(ZHT_POOL), ["simp_text"], rows)


def _s2t_oracle_sql() -> str:
    """translate() over the same merged full zh2Hant single-char table."""
    from pycorrector_spark.textops import s2t_full_chars

    table = s2t_full_chars()
    src = "".join(table)
    dst = "".join(table.values())
    return (
        f"SELECT doc_id, translate(coalesce(text, ''), '{src}', '{dst}') AS trad_text FROM documents"
    )


@functools.lru_cache(maxsize=None)
def _zh_s2t_phrase_oracle_sql() -> str:
    from pycorrector_spark.fixtures import ZHS_POOL
    from pycorrector_spark.textops import s2t_full

    rows = [(i, (s2t_full(s),)) for i, s in enumerate(ZHS_POOL)]
    return _pool_oracle_sql(len(ZHS_POOL), ["trad_text"], rows)


def _homophones_oracle_sql() -> str:
    from pycorrector_spark.dicts import PINYIN_ZH

    values = ", ".join(f"({_sq(k)}, {_sq(v)})" for k, v in PINYIN_ZH.items())
    return f"""
        WITH p(ch, py) AS (VALUES {values}),
        g AS (SELECT py, array_to_string(list_sort(list(DISTINCT ch)), ',') AS homophones
              FROM p GROUP BY py)
        SELECT p.ch, p.py, g.homophones FROM p JOIN g USING (py)
    """


def _htmlx_oracles() -> dict[str, str]:
    """Oracles for the html-extract / toxicity / url-filter queries — every
    regex, entity table, blocklist and threshold is interpolated from
    htmlx's frozen constants (same objects the Spark expressions use)."""
    from pycorrector_spark.operators import htmlx as H
    from pycorrector_spark.operators import webrules as W
    from pycorrector_spark.textops import WORD_SPLIT_PATTERN

    cte = W.webpage_text_cte()
    html = H.synth_html_sql("doc_id", "page_text")
    extracted = H.extract_text_sql("decode(html)")
    html_extract = cte + f"""
        , h AS (
          SELECT doc_id, page_text, encode({html}) AS html FROM web
        ), e AS (
          SELECT doc_id,
                 octet_length(html) AS n_html_bytes,
                 {extracted} AS extracted_text,
                 page_text
          FROM h
        )
        SELECT doc_id, n_html_bytes, extracted_text,
               encode(extracted_text) = encode(coalesce(page_text, '')) AS byte_identical
        FROM e
    """

    toxic_arr = "[" + ", ".join(_sq(w) for w in H.TOXIC_WORDS) + "]"
    toxicity = f"""
        WITH t AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 13 = 0
                      THEN coalesce(text, '') || ' ' ||
                           list_extract({toxic_arr}, CAST(doc_id % {len(H.TOXIC_WORDS)} AS INT) + 1)
                      ELSE text END AS text
          FROM documents
        ), w AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(coalesce(text, ''), '{WORD_SPLIT_PATTERN}'),
                             x -> x <> '') AS words
          FROM t
        ), s AS (
          SELECT doc_id, len(words) AS n_words,
                 len(list_filter(words, x -> list_contains({toxic_arr}, lower(x)))) AS toxic_hits
          FROM w
        )
        SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
               CAST(toxic_hits AS BIGINT) AS toxic_hits,
               CASE WHEN n_words > 0 THEN toxic_hits / CAST(n_words AS DOUBLE) ELSE 0.0 END AS toxic_frac,
               (CASE WHEN n_words > 0 THEN toxic_hits / CAST(n_words AS DOUBLE) ELSE 0.0 END)
                 <= {_dlit(H.TOXICITY_MAX_FRAC)} AS toxicity_keep
        FROM s
    """

    blocked = "[" + ", ".join(_sq(h) for h in H.BLOCKED_HOSTS) + "]"
    norm = H.normalize_url_sql("url")
    url_filter = f"""
        WITH u AS (
          SELECT doc_id, {H.synth_url_sql("doc_id")} AS url FROM documents
        ), n AS (
          SELECT doc_id, url, {norm} AS norm_url FROM u
        )
        SELECT doc_id, url, norm_url,
               regexp_extract(norm_url, '{H.URL_AUTH_RE}', 1) AS host,
               NOT list_contains({blocked}, regexp_extract(norm_url, '{H.URL_AUTH_RE}', 1)) AS url_keep
        FROM n
    """
    # --- composed end-to-end pipeline: every stage fragment above chained
    # over the extracted text, with first-failing-stage drop_reason ---
    from pycorrector_spark.config import DEFAULT_CONFIG as C
    from pycorrector_spark.textops import SCRUB_PATTERNS

    scrub = "coalesce(c4_text, '')"
    for _name, pat, rep in SCRUB_PATTERNS:
        scrub = f"regexp_replace({scrub}, {_sq(pat)}, {_sq(rep)}, 'g')"
    scrub = f"trim({scrub}, {_WS})"
    allowed = ", ".join(_sq(l) for l in C.allowed_langs)
    web_pipeline = cte + f"""
        , h AS (
          SELECT doc_id, encode({html}) AS html FROM web
        ), ext AS (
          SELECT doc_id, {extracted} AS page_text FROM h
        ), u AS (
          SELECT doc_id, {H.synth_url_sql("doc_id")} AS url FROM documents
        ), ukeep AS (
          SELECT doc_id, {norm} AS norm_url,
                 NOT list_contains({blocked},
                     regexp_extract({norm}, '{H.URL_AUTH_RE}', 1)) AS url_keep
          FROM u
        ), lid0 AS (
          SELECT doc_id,
                 length(page_text) - length(regexp_replace(page_text, '{_WS_PAT}', '', 'g')) AS n_ns,
                 length(page_text) - length(regexp_replace(page_text, '[一-龥]', '', 'g')) AS n_cjk,
                 length(page_text) - length(regexp_replace(page_text, '[A-Za-z]', '', 'g')) AS n_latin
          FROM ext
        ), lid AS (
          SELECT doc_id,
                 CASE WHEN n_ns <= 0 THEN 'und'
                      WHEN n_cjk / n_ns >= 0.3 THEN 'zh'
                      WHEN n_latin / n_ns >= 0.5 THEN 'en'
                      ELSE 'und' END AS lang_id
          FROM lid0
        )
        {_gopher_frag("ext")}
        {_c4_frag("ext")}
        , toxw AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(coalesce(page_text, ''), '{_SPLIT_PAT}'),
                             x -> x <> '') AS words
          FROM ext
        ), tox AS (
          SELECT doc_id,
                 (CASE WHEN len(words) > 0
                       THEN len(list_filter(words, x -> list_contains({toxic_arr}, lower(x)))) / CAST(len(words) AS DOUBLE)
                       ELSE 0.0 END) <= {_dlit(H.TOXICITY_MAX_FRAC)} AS toxicity_keep
          FROM toxw
        ), fin AS (
          SELECT e.doc_id, u.norm_url, l.lang_id,
                 CASE WHEN NOT u.url_keep THEN 'url'
                      WHEN l.lang_id NOT IN ({allowed}) THEN 'lang'
                      WHEN NOT g.gopher_keep THEN 'gopher'
                      WHEN NOT c.c4_keep THEN 'c4'
                      WHEN NOT t.toxicity_keep THEN 'toxicity'
                      ELSE '' END AS drop_reason,
                 {scrub} AS scrubbed_text
          FROM ext e
          JOIN ukeep u USING (doc_id)
          JOIN lid l ON l.doc_id = e.doc_id
          JOIN gkeep g ON g.doc_id = e.doc_id
          JOIN c4res c ON c.doc_id = e.doc_id
          JOIN tox t ON t.doc_id = e.doc_id
        )
        SELECT doc_id, norm_url, lang_id,
               drop_reason = '' AS keep, drop_reason, scrubbed_text
        FROM fin
    """
    return {
        "qf_html_extract": html_extract,
        "qf_toxicity": toxicity,
        "qf_url_filter": url_filter,
        "qf_url_dedup": f"""
            WITH crawls AS (
              SELECT doc_id,
                     {H.synth_recrawl_url_sql("(doc_id // 3)", "doc_id")} AS url,
                     TIMESTAMP '2026-01-01 00:00:00'
                       + to_seconds(doc_id * 17) AS warc_ts
              FROM documents
            ), n AS (
              SELECT doc_id, warc_ts, {H.normalize_url_sql("url")} AS norm_url
              FROM crawls
            ), ranked AS (
              SELECT doc_id, norm_url, warc_ts,
                     ROW_NUMBER() OVER (
                       PARTITION BY norm_url
                       ORDER BY warc_ts DESC, doc_id DESC
                     ) AS rn,
                     COUNT(*) OVER (PARTITION BY norm_url) AS n_crawls
              FROM n
            )
            SELECT doc_id, norm_url, warc_ts, n_crawls
            FROM ranked WHERE rn = 1
        """,
        "qf_web_pipeline": web_pipeline,
    }


def _gopher_frag(rel: str) -> str:
    """CTE fragment computing the Gopher signals + ``gopher_keep`` over
    ``(doc_id, page_text)`` rows of ``{rel}``, ending in a ``gkeep``
    relation. Every threshold literal comes from webrules' frozen
    constants, so the Spark expression and SQL mirror cannot drift."""
    from pycorrector_spark.operators import webrules as W

    stop_arr = "[" + ", ".join(_sq(s) for s in W.STOPWORDS) + "]"
    return f"""
        , sig AS (
          SELECT doc_id,
                 list_filter(string_split(page_text, chr(10)), x -> x <> '') AS lines,
                 list_filter(regexp_split_to_array(page_text, chr(10) || chr(10)), x -> x <> '') AS paras,
                 list_filter(regexp_split_to_array(page_text, '[ \t\n\r]+'), x -> x <> '') AS words
          FROM {rel}
        ), sig2 AS (
          SELECT doc_id, lines, paras, words,
                 len(lines) AS n_lines,
                 len(list_distinct(lines)) AS nd_lines,
                 coalesce(list_aggregate(list_transform(lines, x -> length(x)), 'sum'), 0) AS lc,
                 coalesce(list_aggregate(list_transform(list_distinct(lines), x -> length(x)), 'sum'), 0) AS lc_d,
                 len(paras) AS n_paras,
                 len(list_distinct(paras)) AS nd_paras,
                 coalesce(list_aggregate(list_transform(paras, x -> length(x)), 'sum'), 0) AS pc,
                 coalesce(list_aggregate(list_transform(list_distinct(paras), x -> length(x)), 'sum'), 0) AS pc_d,
                 len(words) AS nw,
                 coalesce(list_aggregate(list_transform(words, x -> length(x)), 'sum'), 0) AS wc,
                 CASE WHEN len(words) >= 5 THEN
                   list_transform(generate_series(1, len(words) - 4), i ->
                     array_to_string(list_slice(words, i, i + 4), ' '))
                 ELSE CAST([] AS VARCHAR[]) END AS g5
          FROM sig
        ), sig3 AS (
          SELECT doc_id, n_lines, n_paras, nw AS gw_words,
                 CASE WHEN n_lines > 0 THEN (n_lines - nd_lines) / CAST(n_lines AS DOUBLE) ELSE 0.0 END AS dup_line_frac,
                 CASE WHEN lc > 0 THEN (lc - lc_d) / CAST(lc AS DOUBLE) ELSE 0.0 END AS dup_line_char_frac,
                 CASE WHEN n_paras > 0 THEN (n_paras - nd_paras) / CAST(n_paras AS DOUBLE) ELSE 0.0 END AS dup_para_frac,
                 CASE WHEN pc > 0 THEN (pc - pc_d) / CAST(pc AS DOUBLE) ELSE 0.0 END AS dup_para_char_frac,
                 CASE WHEN len(g5) > 0 THEN (len(g5) - len(list_distinct(g5))) / CAST(len(g5) AS DOUBLE) ELSE 0.0 END AS dup_5gram_frac,
                 CASE WHEN nw > 0 THEN wc / CAST(nw AS DOUBLE) ELSE 0.0 END AS mean_word_len,
                 CASE WHEN n_lines > 0 THEN
                   len(list_filter(lines, x -> starts_with(x, '- ') OR starts_with(x, '* ') OR starts_with(x, '• '))) / CAST(n_lines AS DOUBLE)
                 ELSE 0.0 END AS bullet_line_frac,
                 CASE WHEN n_lines > 0 THEN
                   len(list_filter(lines, x -> ends_with(x, '...') OR ends_with(x, '…'))) / CAST(n_lines AS DOUBLE)
                 ELSE 0.0 END AS ellipsis_line_frac,
                 CASE WHEN nw > 0 THEN
                   len(list_filter(words, x -> regexp_matches(x, '{W.ALPHA_WORD_RE}'))) / CAST(nw AS DOUBLE)
                 ELSE 0.0 END AS alpha_word_frac,
                 len(list_filter({stop_arr}, s -> list_contains(words, s))) AS stopword_hits
          FROM sig2
        ), gkeep AS (
        SELECT doc_id, n_lines, n_paras, gw_words,
               dup_line_frac, dup_line_char_frac, dup_para_frac,
               dup_para_char_frac, dup_5gram_frac, mean_word_len,
               bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
               stopword_hits,
               (gw_words >= {W.GOPHER_MIN_WORDS} AND gw_words <= {W.GOPHER_MAX_WORDS}
                AND mean_word_len >= {_dlit(W.GOPHER_MIN_MEAN_WORD_LEN)}
                AND mean_word_len <= {_dlit(W.GOPHER_MAX_MEAN_WORD_LEN)}
                AND dup_line_frac <= {_dlit(W.GOPHER_MAX_DUP_LINE_FRAC)}
                AND dup_line_char_frac <= {_dlit(W.GOPHER_MAX_DUP_LINE_CHAR_FRAC)}
                AND dup_para_frac <= {_dlit(W.GOPHER_MAX_DUP_PARA_FRAC)}
                AND dup_para_char_frac <= {_dlit(W.GOPHER_MAX_DUP_PARA_CHAR_FRAC)}
                AND dup_5gram_frac <= {_dlit(W.GOPHER_MAX_DUP_5GRAM_FRAC)}
                AND bullet_line_frac <= {_dlit(W.GOPHER_MAX_BULLET_FRAC)}
                AND ellipsis_line_frac <= {_dlit(W.GOPHER_MAX_ELLIPSIS_FRAC)}
                AND alpha_word_frac >= {_dlit(W.GOPHER_MIN_ALPHA_WORD_FRAC)}
                AND stopword_hits >= {W.GOPHER_MIN_STOPWORD_HITS}) AS gopher_keep
        FROM sig3
        )
    """


def _c4_frag(rel: str) -> str:
    """CTE fragment computing the C4 line filter over ``(doc_id,
    page_text)`` rows of ``{rel}``, ending in a ``c4res`` relation."""
    from pycorrector_spark.operators import webrules as W

    bad_line = " AND ".join(
        f"NOT contains(lower(x), {_sq(s)})" for s in W.C4_BAD_LINE_SUBSTRINGS
    )
    bad_doc = " OR ".join(
        f"contains(lower(page_text), {_sq(s)})" for s in W.C4_BAD_DOC_SUBSTRINGS
    )
    return f"""
        , c4 AS (
          SELECT doc_id, page_text,
                 list_filter(
                   list_filter(string_split(page_text, chr(10)), x -> x <> ''),
                   x -> len(list_filter(string_split(x, ' '), t -> t <> '')) >= {W.C4_MIN_WORDS_PER_LINE}
                        AND regexp_matches(x, '{W.C4_TERMINAL_PUNCT_RE}')
                        AND {bad_line}) AS kept
          FROM {rel}
        ), c4res AS (
        SELECT doc_id,
               coalesce(array_to_string(kept, chr(10)), '') AS c4_text,
               len(kept) AS c4_n_kept,
               (len(kept) >= {W.C4_MIN_KEPT_LINES} AND NOT ({bad_doc})) AS c4_keep
        FROM c4
        )
    """


def _jaccard_pairs_ctes() -> str:
    """CTE chain (no WITH keyword) ending in ``jpairs(id_a, id_b,
    jaccard)`` — the capped exact-Jaccard pair set, shared by the
    dedup_jaccard oracle and the dedup_clusters recursive oracle."""
    return f"""words AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '[ \t\n\r]+'), x -> x <> '') AS w
              FROM documents),
            sh AS (
              SELECT doc_id,
                     list_distinct([array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]) AS shingles
              FROM words WHERE len(w) >= 2),
            sized AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
            inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sized),
            freq AS (SELECT shingle, count(*) AS df FROM inv GROUP BY shingle),
            kept AS (SELECT i.doc_id, i.shingle FROM inv i
                     JOIN freq USING (shingle) WHERE freq.df <= {JACCARD_MAX_DF}),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
            inv2 AS (SELECT k.doc_id, k.shingle, s.n_sh FROM kept k JOIN sizes s USING (doc_id)),
            jpairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   count(*) / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)) AS jaccard
            FROM inv2 a JOIN inv2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING count(*) / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)) >= 0.2
            )"""


def _dedup_clusters_oracle_sql() -> str:
    """Connected components as a recursive CTE: a node reaches every label
    its neighbors reach; rep = min reached label. Fixpoint terminates
    because UNION deduplicates and the label set is finite."""
    return (
        "WITH RECURSIVE " + _jaccard_pairs_ctes() + """
            , sym AS (
              SELECT id_a AS u, id_b AS v FROM jpairs
              UNION
              SELECT id_b, id_a FROM jpairs
            ), reach(n, l) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM sym)
              UNION
              SELECT s.u, r.l FROM sym s JOIN reach r ON r.n = s.v
            ), reps AS (
              SELECT n, min(l) AS rep FROM reach GROUP BY n
            )
            SELECT d.doc_id,
                   coalesce(reps.rep, d.doc_id) AS rep,
                   coalesce(reps.rep, d.doc_id) = d.doc_id AS is_canonical
            FROM documents d LEFT JOIN reps ON reps.n = d.doc_id
        """
    )


def _webrules_oracles() -> dict[str, str]:
    """Oracles for the Gopher/C4 web-rules queries, assembled from the
    parameterized fragments above over the synthesized ``web`` pages."""
    from pycorrector_spark.operators import webrules as W

    cte = W.webpage_text_cte()
    gopher = cte + _gopher_frag("web") + """
        SELECT doc_id, n_lines, n_paras, gw_words,
               dup_line_frac, dup_line_char_frac, dup_para_frac,
               dup_para_char_frac, dup_5gram_frac, mean_word_len,
               bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
               stopword_hits, gopher_keep
        FROM gkeep
    """
    top_ngram = cte + """
        , wds AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(page_text, '[ \t\n\r]+'), x -> x <> '') AS w
          FROM web
        ), tot AS (
          SELECT doc_id,
                 coalesce(list_aggregate(list_transform(w, x -> length(x)), 'sum'), 0) AS total_wchars,
                 w
          FROM wds
        ), bg AS (
          SELECT doc_id, total_wchars,
                 unnest(CASE WHEN len(w) >= 2 THEN
                   list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i + 1])
                 ELSE CAST([] AS VARCHAR[]) END) AS gram
          FROM tot
        ), cnt AS (
          SELECT doc_id, total_wchars, gram, count(*) AS top_cnt
          FROM bg GROUP BY doc_id, total_wchars, gram
        ), rk AS (
          SELECT doc_id, gram, top_cnt, total_wchars,
                 row_number() OVER (PARTITION BY doc_id ORDER BY top_cnt DESC, gram ASC) AS rn
          FROM cnt
        )
        SELECT doc_id, gram AS top_gram, top_cnt,
               top_cnt * length(replace(gram, ' ', '')) / CAST(total_wchars AS DOUBLE) AS top_ngram_char_frac
        FROM rk WHERE rn = 1
    """
    c4 = cte + _c4_frag("web") + """
        SELECT doc_id, c4_text, c4_n_kept, c4_keep FROM c4res
    """
    line_dedup = cte + f"""
        , lt AS (
          SELECT doc_id, string_split(page_text, chr(10)) AS lines FROM web
        ), dfreq AS (
          SELECT line, count(DISTINCT doc_id) AS line_df
          FROM (SELECT doc_id, unnest(lines) AS line FROM lt)
          WHERE line <> '' GROUP BY line
        ), droplist AS (
          SELECT coalesce(list(line), CAST([] AS VARCHAR[])) AS dl
          FROM dfreq WHERE line_df > {W.LINE_DEDUP_MAX_DF}
        ), clean AS (
          SELECT doc_id, lines,
                 list_filter(lines, x -> x = '' OR NOT list_contains(dl, x)) AS kept
          FROM lt CROSS JOIN droplist
        )
        SELECT doc_id,
               array_to_string(kept, chr(10)) AS clean_text,
               CAST(len(lines) - len(kept) AS BIGINT) AS n_dropped_lines
        FROM clean
    """
    para_dedup = cte + f"""
        , spam AS (
          SELECT doc_id + {PARA_SPAM_OFFSET} AS doc_id,
                 {_sq(PARA_SPAM_TEXT)} || chr(10) || chr(10)
                   || 'only in ' || CAST(doc_id AS VARCHAR) AS page_text
          FROM web WHERE doc_id % {PARA_SPAM_PERIOD} = 0
        ), allp AS (
          SELECT doc_id, page_text FROM web
          UNION ALL SELECT doc_id, page_text FROM spam
        ), pt AS (
          SELECT doc_id, string_split(page_text, chr(10) || chr(10)) AS paras
          FROM allp
        ), ex0 AS (
          SELECT doc_id, paras,
                 unnest(generate_series(1, len(paras))) AS i
          FROM pt
        ), ex AS (
          SELECT doc_id, i - 1 AS pos, paras[i] AS para FROM ex0
        ), win AS (
          SELECT doc_id, pos, para,
                 row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
          FROM ex WHERE para <> ''
        ), kept AS (
          SELECT doc_id, pos, para FROM win WHERE rn = 1
          UNION ALL
          SELECT doc_id, pos, para FROM ex WHERE para = ''
        ), agg AS (
          SELECT doc_id,
                 array_to_string(list(para ORDER BY pos), chr(10) || chr(10)) AS clean_text,
                 count(*) AS n_kept
          FROM kept GROUP BY doc_id
        ), np AS (
          SELECT doc_id,
                 len(string_split(page_text, chr(10) || chr(10))) AS n_paras
          FROM allp
        )
        SELECT np.doc_id,
               coalesce(agg.clean_text, '') AS clean_text,
               CAST(np.n_paras - coalesce(agg.n_kept, 0) AS BIGINT) AS n_dropped_paras
        FROM np LEFT JOIN agg ON np.doc_id = agg.doc_id
    """
    return {
        "qf_gopher_rules": gopher,
        "qf_top_ngram": top_ngram,
        "qf_c4_filter": c4,
        "qf_line_dedup": line_dedup,
        "qf_para_dedup": para_dedup,
    }


def _curation_oracles() -> dict[str, str]:
    """Oracles for the corpus-curation queries: per-host quota ranking,
    md5-bucket sampling, and snapshot-delta dedup. The host and n_words
    fragments reuse the already-verified url-filter and signals CTEs; the
    sample cut mirrors hash_sample's ``int(round(rate * denom))``."""
    from pycorrector_spark.operators import htmlx as H
    from pycorrector_spark.operators.curation import _BUCKET_DENOM, md5_bucket_sql

    norm = H.normalize_url_sql("url")
    host_cap = _SIGNALS_CTE + f"""
        , u AS (
          SELECT doc_id, {H.synth_url_sql("doc_id")} AS url FROM documents
        ), h AS (
          SELECT doc_id,
                 regexp_extract({norm}, '{H.URL_AUTH_RE}', 1) AS host
          FROM u
        ), ranked AS (
          SELECT s.doc_id, h.host, s.n_words,
                 row_number() OVER (
                   PARTITION BY h.host ORDER BY s.n_words DESC, s.doc_id ASC
                 ) AS key_rank
          FROM sig2 s JOIN h USING (doc_id)
        )
        SELECT doc_id, host, n_words, CAST(key_rank AS INT) AS key_rank
        FROM ranked WHERE key_rank <= {HOST_CAP_N}
    """
    cut = int(round(SAMPLE_RATE * _BUCKET_DENOM))
    bucket = md5_bucket_sql("(coalesce(lang, '') || ':' || coalesce(text, ''))")
    sample = f"""
        SELECT doc_id, lang, {bucket} AS sample_bucket
        FROM documents
        WHERE {bucket} < {cut}
    """
    incremental = """
        WITH seen AS (
          SELECT DISTINCT md5(text) AS text_md5
          FROM documents WHERE doc_id % 3 = 0 AND text IS NOT NULL
        ), n AS (
          SELECT doc_id, md5(text) AS text_md5
          FROM documents WHERE doc_id % 3 <> 0
        )
        SELECT doc_id, text_md5 FROM n
        WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.text_md5 = n.text_md5)
    """
    return {
        "qf_host_cap": host_cap,
        "qf_sample": sample,
        "dedup_incremental": incremental,
        "nb_langid": _nb_oracle_sql(),
        "dsir_select": _dsir_oracle_sql(),
        "qf_fix_encoding": _fix_encoding_oracle_sql(),
        "qf_token_budget": _SIGNALS_CTE + f"""
            , c AS (
              SELECT doc_id, n_words,
                     sum(n_words) OVER (
                       ORDER BY n_words DESC, doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS cum_tokens
              FROM sig2
            )
            SELECT doc_id, n_words, CAST(cum_tokens AS BIGINT) AS cum_tokens
            FROM c WHERE cum_tokens <= {TOKEN_BUDGET}
        """,
    }


def _nb_oracle_sql() -> str:
    """Serial mirror of fit_nb + score_nb: identical smoothing arithmetic
    and position-ordered fold (list_reduce with the prior prepended), so
    scores agree with Spark's to the last bit except where the two libm
    ln implementations differ by 1 ulp — hence the shared 4dp round."""
    from pycorrector_spark.operators.nbayes import char_ngrams_sql

    ngrams = char_ngrams_sql("text")
    return f"""
        WITH docs0 AS (SELECT doc_id, lang, text FROM documents),
        g AS (SELECT doc_id, lang, {ngrams} AS grams FROM docs0),
        tr AS (SELECT lang AS label, unnest(grams) AS gram FROM g WHERE lang IS NOT NULL),
        counts AS (SELECT label, gram, count(*) AS c FROM tr GROUP BY label, gram),
        keptg AS (SELECT gram FROM counts GROUP BY gram HAVING sum(c) >= {NB_MIN_COUNT}),
        kept AS (SELECT c.label, c.gram, c.c FROM counts c JOIN keptg USING (gram)),
        labs AS (SELECT lang AS label, count(*) AS n_docs FROM docs0 WHERE lang IS NOT NULL GROUP BY lang),
        tots AS (SELECT label, sum(c) AS t FROM kept GROUP BY label),
        v AS (SELECT count(DISTINCT gram) AS v FROM kept),
        model AS (
          SELECT kg.gram,
                 list(ln((coalesce(k.c, 0) + 1.0) / (coalesce(t.t, 0) + v.v)) ORDER BY l.label) AS logps
          FROM keptg kg CROSS JOIN labs l CROSS JOIN v
               LEFT JOIN tots t ON t.label = l.label
               LEFT JOIN kept k ON k.gram = kg.gram AND k.label = l.label
          GROUP BY kg.gram
        ),
        meta AS (
          SELECT list(l.label ORDER BY l.label) AS labels,
                 list(ln(l.n_docs / CAST((SELECT sum(n_docs) FROM labs) AS DOUBLE)) ORDER BY l.label) AS priors,
                 list(ln(1.0 / (coalesce(t.t, 0) + v.v)) ORDER BY l.label) AS oovs
          FROM labs l LEFT JOIN tots t ON t.label = l.label CROSS JOIN v
        ),
        gp AS (SELECT doc_id, unnest(generate_series(1, len(grams))) AS pos,
                      unnest(grams) AS gram FROM g),
        jg AS (SELECT gp.doc_id, gp.pos, m.logps FROM gp LEFT JOIN model m USING (gram)),
        seqs AS (SELECT doc_id, list(logps ORDER BY pos) AS seq FROM jg GROUP BY doc_id),
        sc0 AS (SELECT d.doc_id, coalesce(s.seq, CAST([] AS DOUBLE[][])) AS seq
                FROM docs0 d LEFT JOIN seqs s USING (doc_id)),
        scored AS (
          SELECT doc_id, labels,
            list_transform(generate_series(1, len(labels)), li ->
              list_reduce(
                list_prepend(priors[li], list_transform(seq, x -> coalesce(x[li], oovs[li]))),
                (acc, y) -> acc + y)) AS scores
          FROM sc0 CROSS JOIN meta
        )
        SELECT doc_id,
               labels[list_position(scores, list_aggregate(scores, 'max'))] AS nb_pred,
               round(list_aggregate(scores, 'max'), 4) AS nb_logp
        FROM scored
    """


def _dsir_oracle_sql() -> str:
    """Serial mirror of q_dsir_select: the 2-class NB model/fold of
    _nb_oracle_sql with dlabel = (lang = target), then the rounded
    log-weight, 0.01 binning, and descending-cumsum top-quarter cutoff."""
    from pycorrector_spark.operators.nbayes import char_ngrams_sql

    ngrams = char_ngrams_sql("text")
    num, den = DSIR_FRAC
    return f"""
        WITH docs0 AS (
          SELECT doc_id,
                 CASE WHEN lang = {_sq(DSIR_TARGET_LANG)} THEN 'target'
                      ELSE 'other' END AS dlabel,
                 text
          FROM documents),
        g AS (SELECT doc_id, dlabel, {ngrams} AS grams FROM docs0),
        tr AS (SELECT dlabel AS label, unnest(grams) AS gram FROM g),
        counts AS (SELECT label, gram, count(*) AS c FROM tr GROUP BY label, gram),
        keptg AS (SELECT gram FROM counts GROUP BY gram HAVING sum(c) >= {NB_MIN_COUNT}),
        kept AS (SELECT c.label, c.gram, c.c FROM counts c JOIN keptg USING (gram)),
        labs AS (SELECT dlabel AS label, count(*) AS n_docs FROM docs0 GROUP BY dlabel),
        tots AS (SELECT label, sum(c) AS t FROM kept GROUP BY label),
        v AS (SELECT count(DISTINCT gram) AS v FROM kept),
        model AS (
          SELECT kg.gram,
                 list(ln((coalesce(k.c, 0) + 1.0) / (coalesce(t.t, 0) + v.v)) ORDER BY l.label) AS logps
          FROM keptg kg CROSS JOIN labs l CROSS JOIN v
               LEFT JOIN tots t ON t.label = l.label
               LEFT JOIN kept k ON k.gram = kg.gram AND k.label = l.label
          GROUP BY kg.gram
        ),
        meta AS (
          SELECT list(l.label ORDER BY l.label) AS labels,
                 list(ln(l.n_docs / CAST((SELECT sum(n_docs) FROM labs) AS DOUBLE)) ORDER BY l.label) AS priors,
                 list(ln(1.0 / (coalesce(t.t, 0) + v.v)) ORDER BY l.label) AS oovs
          FROM labs l LEFT JOIN tots t ON t.label = l.label CROSS JOIN v
        ),
        gp AS (SELECT doc_id, unnest(generate_series(1, len(grams))) AS pos,
                      unnest(grams) AS gram FROM g),
        jg AS (SELECT gp.doc_id, gp.pos, m.logps FROM gp LEFT JOIN model m USING (gram)),
        seqs AS (SELECT doc_id, list(logps ORDER BY pos) AS seq FROM jg GROUP BY doc_id),
        sc0 AS (SELECT d.doc_id, coalesce(s.seq, CAST([] AS DOUBLE[][])) AS seq
                FROM docs0 d LEFT JOIN seqs s USING (doc_id)),
        scored AS (
          SELECT doc_id,
            list_transform(generate_series(1, len(labels)), li ->
              list_reduce(
                list_prepend(priors[li], list_transform(seq, x -> coalesce(x[li], oovs[li]))),
                (acc, y) -> acc + y)) AS scores
          FROM sc0 CROSS JOIN meta
        ),
        wb AS (
          SELECT doc_id, round(scores[2] - scores[1], 4) AS log_w,
                 CAST(floor(round(scores[2] - scores[1], 4) * 100) AS BIGINT) AS bin
          FROM scored
        ),
        hist AS (SELECT bin, count(*) AS c FROM wb GROUP BY bin),
        tot AS (SELECT sum(c) AS total FROM hist),
        cum AS (SELECT bin, sum(c) OVER (ORDER BY bin DESC) AS cumd FROM hist),
        cut AS (
          SELECT max(CASE WHEN cumd >= ({num} * total + {den} - 1) // {den} THEN bin END) AS cb
          FROM cum CROSS JOIN tot
        )
        SELECT doc_id, log_w, bin >= cb AS dsir_keep
        FROM wb CROSS JOIN cut
    """


def oracle_sql() -> dict[str, str]:
    return {
        **_webrules_oracles(),
        **_htmlx_oracles(),
        **_curation_oracles(),
        "qf_decontaminate": _decontaminate_oracle_sql(),
        "zh_segment_pos": _zh_segment_pos_oracle_sql(),
        "resume_pipeline": _resume_pipeline_oracle_sql(),
        "qf_domain_mix": _domain_mix_oracle_sql(),
        "qf_corpus_rollup": """
            SELECT source, lang, GROUPING(source, lang) AS gid,
                   count(*) AS n_docs,
                   sum(n_chars)::BIGINT AS total_chars,
                   avg(n_chars) AS avg_chars
            FROM documents GROUP BY ROLLUP(source, lang)
        """,
        "qf_quality_signals": _SIGNALS_CTE + """
            SELECT doc_id, n_chars, n_words, symbol_ratio, rep_ratio, len_ok FROM sig2
        """,
        "qf_langid": _SIGNALS_CTE + """
            SELECT doc_id, lang_id, lang_conf FROM sig2
        """,
        "qf_keep_cheap": _SIGNALS_CTE + f"""
            SELECT doc_id,
                   reason = '' AS keep_cheap,
                   reason AS drop_reason
            FROM (
              SELECT doc_id,
                     CASE WHEN NOT len_ok THEN 'len'
                          WHEN symbol_ratio > {_dlit(_cfg().max_symbol_ratio)} THEN 'symbol'
                          WHEN rep_ratio > {_dlit(_cfg().max_rep_ratio)} THEN 'repetition'
                          WHEN lang_id NOT IN ({', '.join(_sq(x) for x in _cfg().allowed_langs)}) THEN 'lang'
                          ELSE '' END AS reason
              FROM sig2)
        """,
        "qf_scrub": """
            SELECT doc_id,
                   trim(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(
                             regexp_replace(
                               regexp_replace(text,
                                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
                               'https?://[^ \t\n\r<>"]+|www\\.[^ \t\n\r<>"]+', '<URL>', 'g'),
                             '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),
                           '\\b(\\+?\\d{1,3}[- .])?(\\(\\d{2,4}\\)[- .])?\\d{3,4}[- .]\\d{3,4}([- .]\\d{3,4})?\\b', '<PHONE>', 'g'),
                         '\\b\\d{15}(\\d{2}[0-9Xx])?\\b', '<ID>', 'g'),
                       '[ \t]+', ' ', 'g'),
                     ' ' || chr(9) || chr(10) || chr(13)) AS scrubbed_text
            FROM documents
        """,
        "qf_sent_split": """
            SELECT doc_id, unnest(list_filter(
                     regexp_split_to_array(text, '[^一-龥a-zA-Z0-9+#&]+'),
                     x -> x <> '')) AS frag
            FROM documents
        """,
        "tok_counts": """
            SELECT doc_id,
                   len(list_filter(regexp_split_to_array(trim(coalesce(text, ''), ' ' || chr(9) || chr(10) || chr(13)), '[ \t\n\r]+'), x -> x <> '')) AS ws_tokens,
                   len(regexp_extract_all(coalesce(text, ''), '[A-Za-z]+|[0-9]+|[一-龥]|[^A-Za-z0-9一-龥 \t\n\r]')) AS bpe_tokens
            FROM documents
        """,
        "doc_fingerprint": """
            SELECT doc_id,
                   list_reduce(
                     list_prepend(0::BIGINT,
                       [unicode(c)::BIGINT for c in
                        list_filter(regexp_split_to_array(lower(coalesce(text, '')), ''), x -> x <> '')]),
                     (a, b) -> (a * 31 + b) % 2147483647) AS fingerprint
            FROM documents
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_md5, min(doc_id) AS keeper_id, count(*) AS n_dups
            FROM documents GROUP BY md5(text)
        """,
        "dedup_jaccard": "WITH " + _jaccard_pairs_ctes() + """
            SELECT id_a, id_b, jaccard FROM jpairs
        """,
        "dedup_clusters": _dedup_clusters_oracle_sql(),
        "dedup_substr": _dedup_substr_oracle_sql(),
        "dedup_minhash": _dedup_minhash_oracle_sql(),
        "zh_segment": _zh_segment_oracle_sql(),
        "zh_segment_hmm": _zh_segment_hmm_oracle_sql(),
        "qf_detect": _qf_detect_oracle_sql(),
        "zh_proper": _zh_proper_oracle_sql(),
        "en_spell": _en_spell_oracle_sql(),
        "zh_correct_full": _zh_correct_full_oracle_sql(),
        "en_spell_full": _en_spell_full_oracle_sql(),
        "qf_lm_ppl": _qf_lm_ppl_oracle_sql(),
        "qf_ccnet_buckets": _qf_ccnet_oracle_sql(),
        "qf_pipeline_pool": _pipeline_pool_oracle_sql(),
        "qf_pipeline_full": _pipeline_full_oracle_sql(),
        "qf_curation_e2e": _curation_e2e_oracle_sql(),
        "eval_f1": _eval_f1_oracle_sql(),
        "zh_confusion": _zh_confusion_oracle_sql(),
        "qf_uniform": _uniform_oracle_sql(),
        "qf_b2q": _b2q_oracle_sql(),
        "qf_split_len": """
            SELECT doc_id,
                   (i - 1) * 64 AS offset,
                   substr(text, (i - 1) * 64 + 1, 64) AS chunk
            FROM documents,
                 unnest(range(1, greatest(cast(ceil(length(text) / 64.0) as bigint), 1) + 1)) AS t(i)
            WHERE length(text) > 0
        """,
        "ngram_counts": """
            SELECT gram, count(*) AS n FROM (
              SELECT unnest([substr(text, i, 2) for i in range(1, length(text))]) AS gram
              FROM documents WHERE length(text) >= 2)
            GROUP BY gram HAVING count(*) >= 5
        """,
        "zh_t2s": _t2s_oracle_sql(),
        "zh_t2s_phrase": _zh_t2s_phrase_oracle_sql(),
        "zh_s2t": _s2t_oracle_sql(),
        "zh_s2t_phrase": _zh_s2t_phrase_oracle_sql(),
        "zh_homophones": _homophones_oracle_sql(),
        "zh_homophones_full": _homophones_full_oracle_sql(),
        "qf_langid_ft": _langid_ft_oracle_sql(),
        "langid_agreement": _SIGNALS_CTE + """
            SELECT d.lang, s.lang_id, count(*) AS n_docs,
                   round(avg(s.lang_conf), 6) AS avg_conf
            FROM sig2 s JOIN documents d USING (doc_id)
            GROUP BY d.lang, s.lang_id
        """,
    }

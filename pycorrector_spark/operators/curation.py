"""Corpus curation operators: per-host quotas, deterministic hash
sampling, and incremental (snapshot-delta) dedup with a bloom prefilter.

These are the "shape the corpus" steps that follow quality filtering in a
web-scale training-data pipeline: C4/RefinedWeb-style per-domain caps so a
handful of giant hosts can't dominate the training mix, reproducible
subsampling for ablations, and day-over-day crawl dedup against the
already-ingested snapshot. The reference corrects one sentence at a time
and has no corpus-level curation (pycorrector/corrector.py operates per
call); these extend SURVEY.md §2's LLM-pipeline addenda.

Scale notes
-----------
- ``top_n_per_key`` is the skew-safe two-phase top-N: a salted first
  window bounds any single task's sort run to ``|hot key| / salt_buckets``
  rows, and the global window then ranks at most ``n * salt_buckets`` rows
  per key. A single-window implementation sorts an entire hot host in one
  task — exactly the skew AQE cannot split (windows pin a partition's rows
  together).
- ``hash_sample`` is a pure narrow map+filter on an md5-derived bucket: no
  shuffle, survives predicate pushdown, and the same (text, rate) always
  samples the same rows on any cluster size — reproducibility is the point
  (Math.random-style sampling resamples per retry/stage re-run).
- ``incremental_dedup`` anti-joins the new crawl against the seen-hash
  snapshot, with an optional broadcast bloom prefilter: rows the bloom
  rejects are *definitely new* and skip the shuffle entirely; only bloom
  positives (true dups + a 1% false-positive fraction) are joined.
  At 100 TB/day against a multi-PB seen-set, that turns a full-corpus
  shuffle into a shuffle of the (tiny) dup fraction. The bloom has no
  false negatives, so the prefiltered plan returns byte-identical results
  to the plain anti-join — which is how the DuckDB oracle checks it.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ..stage import python_stage

__all__ = [
    "top_n_per_key",
    "select_token_budget",
    "hash_sample",
    "md5_bucket_expr",
    "md5_bucket_sql",
    "BloomFilter",
    "build_bloom",
    "incremental_dedup",
    "word_ngram_hashes",
    "decontaminate",
    "domain_mix_cuts",
    "domain_mix",
]


# ---------------------------------------------------------------------------
# per-key quota (two-phase, skew-safe)
# ---------------------------------------------------------------------------


def top_n_per_key(
    df: DataFrame,
    key_col: str,
    n: int,
    order_by: list[Column],
    unique_col: str,
    salt_buckets: int = 32,
) -> DataFrame:
    """Keep the top ``n`` rows per ``key_col`` under ``order_by``, emitting
    a ``key_rank`` column (1-based).

    ``order_by`` must be a deterministic total order within each key
    (include ``unique_col`` as the last tie-break); ``unique_col`` also
    seeds the salt, so re-runs place rows in the same salt bucket.

    Two windows instead of one: the first ranks within
    ``(key, xxhash64(unique) % salt_buckets)`` and discards everything
    below rank ``n``, so the second (global per-key) window ranks at most
    ``n * salt_buckets`` rows per key no matter how hot the key is.
    """
    from pyspark.sql import Window

    if n < 1 or salt_buckets < 1:
        raise ValueError("n and salt_buckets must be >= 1")
    salt = F.pmod(F.xxhash64(F.col(unique_col)), F.lit(salt_buckets))
    w1 = Window.partitionBy(F.col(key_col), salt).orderBy(*order_by)
    w2 = Window.partitionBy(F.col(key_col)).orderBy(*order_by)
    return (
        df.withColumn("_salt_rank", F.row_number().over(w1))
        .where(F.col("_salt_rank") <= n)
        .drop("_salt_rank")
        .withColumn("key_rank", F.row_number().over(w2))
        .where(F.col("key_rank") <= n)
    )


# ---------------------------------------------------------------------------
# token-budget selection (greedy best-first prefix, no global sort)
# ---------------------------------------------------------------------------


def select_token_budget(
    df: DataFrame,
    budget: int,
    score_col: str,
    tokens_col: str,
    id_col: str,
) -> DataFrame:
    """Keep the best-scoring documents whose running token total stays
    within ``budget`` — the "train on the best N-token subset" curation
    cut. Order is (score DESC, id ASC); a document is kept iff its
    inclusive running total is <= budget, so the result is an exact prefix
    of the globally sorted corpus.

    The naive plan is a GLOBAL ordered cumsum — one window task holding
    the whole corpus. An earlier version partitioned the cumsum window BY
    SCORE (driver offsets per distinct score), which is one task per
    distinct score value: with a power-law score like n_words, one hot
    score holds millions of rows and becomes the straggler (round-4
    verdict item). This version is a distributed prefix-sum over RANGE
    partitions of the full sort order instead:

      1. ``repartitionByRange(P, score DESC, id ASC)`` — the range
         partitioner samples (score, id) keys, so a hot score is SPLIT
         across many partitions on the id tie-break and every partition
         holds ~n/P rows regardless of the score distribution;
      2. within-partition inclusive cumsum in one Arrow pass
         (a ``python_stage`` with a carry across batches — zero shuffles);
      3. per-partition totals (P rows) to the driver → running offsets,
         partitions whose offset already exceeds the budget pruned
         (offset == budget survives: zero-token rows there have inclusive
         cum_tokens == budget and the contract keeps them);
      4. broadcast the offsets back and filter ``offset + local <= budget``.

    No bounded-score-domain requirement remains — continuous scores are
    fine. The cumsum stage is persisted so the offsets job and the final
    read see the same partition ids; release via
    ``release_cached`` (the ``_cached_deps`` convention) after the final
    action. NULL scores or token counts are dropped (they cannot be
    ordered or budgeted).
    """
    spark = df.sparkSession
    d = df.where(F.col(score_col).isNotNull() & F.col(tokens_col).isNotNull())
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    order = [F.col(score_col).desc(), F.col(id_col).asc()]
    ranged = d.repartitionByRange(n_parts, *order).sortWithinPartitions(*order)

    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    # NB: df.schema is cached on the DataFrame and StructType.add mutates
    # in place — build a fresh StructType, never .add onto ranged.schema
    out_schema = StructType(
        list(ranged.schema.fields)
        + [StructField("_pid", IntegerType()), StructField("_local_cum", LongType())]
    )
    cols = [f.name for f in out_schema.fields]

    def _local_cumsum(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        carry = 0
        for pdf in batches:
            toks = pdf[tokens_col].astype("int64")
            # the offsets step reads max(_local_cum) as "this partition's
            # final running total", which only equals the last row under
            # non-negative counts — fail loudly rather than silently
            # dropping rows the prefix contract keeps
            if (toks < 0).any():
                raise ValueError(
                    f"select_token_budget: negative {tokens_col!r} values; "
                    "token counts must be non-negative"
                )
            cum = toks.cumsum() + carry
            if len(cum):
                carry = int(cum.iloc[-1])
            pdf = pdf.assign(_pid=pid, _local_cum=cum.astype("int64"))
            yield pdf[cols]

    cummed = python_stage(ranged, _local_cumsum, out_schema).persist()
    totals = {
        r["_pid"]: r["t"]
        for r in cummed.groupBy("_pid").agg(F.max("_local_cum").alias("t")).collect()
    }
    offsets, run = [], 0
    for pid in sorted(totals):
        if run > budget:
            break  # partition starts past the budget: nothing in it survives
        offsets.append((pid, run))
        run += totals[pid]
    if not offsets:
        cummed.unpersist()
        return d.withColumn("cum_tokens", F.lit(0).cast("long")).limit(0)
    off_df = spark.createDataFrame(offsets, "_pid int, _offset long")

    result = (
        cummed.join(F.broadcast(off_df), "_pid")  # inner join prunes dead parts
        .withColumn("cum_tokens", (F.col("_offset") + F.col("_local_cum")).cast("long"))
        .where(F.col("cum_tokens") <= budget)
        .drop("_pid", "_local_cum", "_offset")
    )
    result._cached_deps = (cummed,)
    return result


# ---------------------------------------------------------------------------
# benchmark decontamination (eval-set n-gram overlap)
# ---------------------------------------------------------------------------


def lower_words(text: Column) -> Column:
    """Lowercased whitespace-split word array, empty tokens dropped.
    LAMBDA-CONTAINING: codegen subexpression elimination skips it, so
    STAGE IT THROUGH A PROJECTION ALIAS before referencing it inside
    another higher-order function (the repo-wide HOF-CSE rule,
    BENCH/NOTES.md) — an unstaged reference inside transform() re-runs
    the split per array element (measured 100x on decontaminate)."""
    return F.filter(
        F.split(F.lower(F.coalesce(text, F.lit(""))), "[ \t\n\r]+"),
        lambda x: x != F.lit(""),
    )


def ngram_hashes_from_words(words: Column, n: int) -> Column:
    """64-bit hashes of the word ``n``-grams of a STAGED word-array
    column — 15 hex digits of md5, the same engine-portable int64 trick
    as md5_bucket_expr, so a DuckDB oracle reproduces the values exactly.
    Empty array when there are fewer than ``n`` words. Pass a plain
    column reference (see lower_words), never the raw lambda expression."""
    nw = F.size(words)
    return F.when(
        nw >= n,
        F.transform(
            F.sequence(F.lit(1), nw - n + 1),
            lambda i: F.conv(
                F.substring(
                    F.md5(F.array_join(F.slice(words, i, n), " ")), 1, 15
                ),
                16, 10,
            ).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))


def word_ngram_hashes(text: Column, n: int) -> Column:
    """Composition of lower_words + ngram_hashes_from_words for one-off
    use on a raw text column. NOTE: inside a query that evaluates it per
    row, prefer the staged two-step (decontaminate does) — this direct
    composition re-splits per n-gram position under codegen."""
    return ngram_hashes_from_words(lower_words(text), n)


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C / PaLM step): for
    each training document, count word ``n``-grams that also occur in the
    evaluation benchmark, and keep only overlap-free docs. Returns
    ``(id, contaminated_ngrams, keep)`` for every input doc.

    Plan shape (100 TB corpus vs a small eval set):

    1. Bench n-gram hashes are a DISTINCT dim — eval sets are ~10^5-10^6
       n-grams — broadcast to every executor; the corpus side is a
       zero-shuffle explode + broadcast-hash semi join, so the full-corpus
       scan never shuffles.
    2. Only MATCHED (doc, gram) rows reach the per-doc count aggregate —
       the shuffle carries the contaminated fraction, not the corpus.
    3. The final left join back to ids is against that small hit relation
       (AQE broadcasts it); clean docs pass through with a NULL->0 count.

    Both sides hash through the engine-portable 15-hex-md5 int64, so the
    DuckDB oracle replays the identical arithmetic."""
    # NO distinct on the corpus side — that would shuffle every exploded
    # n-gram of the whole corpus; instead dedup AFTER the broadcast semi
    # join, where only matched (contaminated) rows remain, via a
    # count_distinct whose two-phase aggregate touches the hit relation
    # only (plan verified in BENCH/PLANS.md: the sole corpus-side nodes
    # are scan -> generate -> broadcast join)
    doc_grams = (
        docs.select(
            F.col(id_col).alias("__id"),
            lower_words(F.col(text_col)).alias("__ws"),  # staged: HOF-CSE rule
        )
        .select("__id", F.explode(ngram_hashes_from_words(F.col("__ws"), n)).alias("gh"))
    )
    bench_grams = (
        bench.select(lower_words(F.col(bench_text_col)).alias("__ws"))
        .select(F.explode(ngram_hashes_from_words(F.col("__ws"), n)).alias("gh"))
        .distinct()
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), on="gh")
        .groupBy("__id")
        # a doc repeating a contaminated n-gram counts it once
        .agg(F.count_distinct("gh").alias("contaminated_ngrams"))
    )
    return (
        docs.select(F.col(id_col).alias("__id"))
        .join(hits, on="__id", how="left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("contaminated_ngrams", F.lit(0)).cast("long").alias(
                "contaminated_ngrams"
            ),
            (F.coalesce("contaminated_ngrams", F.lit(0)) == 0).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# deterministic hash sampling
# ---------------------------------------------------------------------------

# 15 hex digits = 60 bits: fits a signed int64 in both engines, and md5's
# leading digits are uniform, so bucket = h % denom is an unbiased
# Bernoulli(rate) draw that is a pure function of the sampling key.
_BUCKET_HEX_DIGITS = 15
_BUCKET_DENOM = 10_000


def md5_bucket_expr(key: Column, denom: int = _BUCKET_DENOM) -> Column:
    """Deterministic bucket in [0, denom) from md5 of the key string."""
    h = F.conv(F.substring(F.md5(key), 1, _BUCKET_HEX_DIGITS), 16, 10)
    return F.pmod(h.cast("long"), F.lit(denom))


def md5_bucket_sql(key_sql: str, denom: int = _BUCKET_DENOM) -> str:
    """DuckDB mirror of :func:`md5_bucket_expr` (same digits, same denom)."""
    return (
        f"(('0x' || substr(md5({key_sql}), 1, {_BUCKET_HEX_DIGITS}))::BIGINT"
        f" % {denom})"
    )


def hash_sample(
    df: DataFrame,
    key: Column,
    rate: float,
    denom: int = _BUCKET_DENOM,
) -> DataFrame:
    """Deterministic Bernoulli sample: keep rows whose md5 bucket falls
    below ``rate * denom``, with the bucket exposed as ``sample_bucket``.

    The draw depends only on the key value — same corpus, same rate, same
    sample on 1 executor or 1000, across retries and stage re-runs. Use a
    content key (text) to sample documents, or ``concat(lang, text)`` to
    stratify draws per language independently.
    """
    if not (0.0 <= rate <= 1.0):
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    cut = int(round(rate * denom))
    return df.withColumn("sample_bucket", md5_bucket_expr(key, denom)).where(
        F.col("sample_bucket") < cut
    )


# ---------------------------------------------------------------------------
# domain mixing (target-proportion downsampling)
# ---------------------------------------------------------------------------


def domain_mix_cuts(counts: dict, weights: dict, denom: int = _BUCKET_DENOM) -> dict:
    """Per-domain bucket cutoffs realizing target mix ``weights`` from
    available ``counts`` — the data-mixing step (DoReMi / The Pile style:
    retrain mixes are specified as per-domain PROPORTIONS, and the corpus
    must be downsampled so realized proportions match).

    The largest achievable total is T = min(n_d / w_d) over domains that
    are BOTH weighted and present: the binding domain keeps everything,
    every other domain downsamples to ``T * w_d`` docs. Weighted domains
    with no available docs are ignored (you cannot sample what does not
    exist; a strict reading would set T = 0 and silently empty the whole
    corpus). Weight normalization cancels algebraically (T scales as 1/k
    when weights scale k, and rate = T*w/n), so raw weights are used —
    which is also exactly what the SQL oracle's inner join computes.
    Returns {domain: bucket_cut} for hash_sample's ``sample_bucket <
    cut`` predicate; domains absent from ``weights`` get cut 0 (dropped).
    Deterministic given (counts, weights)."""
    active = {d: w for d, w in weights.items() if w > 0 and counts.get(d, 0) > 0}
    if not active:
        return {d: 0 for d in counts}
    t = min(counts[d] / w for d, w in active.items())
    cuts = {}
    for d in counts:
        if d not in active:
            cuts[d] = 0
        else:
            rate = min(1.0, (t * active[d]) / counts[d])
            # floor, not round: Python round() is banker's, SQL round()
            # is half-away — floor is the one cross-engine-identical
            # quantization (the oracle replays this arithmetic in SQL)
            cuts[d] = int(rate * denom)
    return cuts


def domain_mix(
    df: DataFrame,
    weights: dict,
    domain_col: str = "source",
    key: Column = None,
    denom: int = _BUCKET_DENOM,
) -> DataFrame:
    """Downsample per domain so realized domain proportions match
    ``weights`` (up to bucket quantization), deterministically.

    Plan shape at 100 TB: ONE tiny groupBy histogram (rows = distinct
    domains) collected to the driver -> per-domain cutoffs broadcast as a
    literal CASE -> a narrow filter on the md5 bucket. No shuffle of the
    corpus, no RNG (retries/stage re-runs keep the identical sample —
    the same property hash_sample has)."""
    counts = {
        r["d"]: r["n"]
        for r in df.groupBy(F.col(domain_col).alias("d"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    cuts = domain_mix_cuts(counts, weights, denom)
    if key is None:
        key = F.col("text")
    bucket = md5_bucket_expr(key, denom)
    cut_expr = F.lit(0)
    for d, c in sorted(cuts.items(), key=lambda kv: str(kv[0])):
        cut_expr = F.when(F.col(domain_col).eqNullSafe(F.lit(d)), F.lit(c)).otherwise(cut_expr)
    return df.withColumn("sample_bucket", bucket).where(
        F.col("sample_bucket") < cut_expr
    )


# ---------------------------------------------------------------------------
# bloom filter (broadcastable bitmap, no false negatives)
# ---------------------------------------------------------------------------


class BloomFilter:
    """Plain numpy-bitmap bloom over int64 keys with double hashing.

    ``k`` probe positions are derived from one 60-bit hash as
    ``(h1 + i*h2) % m`` (Kirsch-Mitzenmacher double hashing), so executors
    only need the key column — no per-probe rehash of the payload.
    """

    def __init__(self, m_bits: int, k: int, bits: np.ndarray | None = None):
        if m_bits < 64 or k < 1:
            raise ValueError("m_bits must be >= 64 and k >= 1")
        self.m_bits = int(m_bits)
        self.k = int(k)
        self.bits = (
            bits
            if bits is not None
            else np.zeros((self.m_bits + 63) // 64, dtype=np.uint64)
        )

    @staticmethod
    def sized_for(n_items: int, fp_rate: float = 0.01) -> tuple[int, int]:
        """(m_bits, k) for a target false-positive rate at ``n_items``."""
        n = max(1, n_items)
        m = max(64, int(math.ceil(-n * math.log(fp_rate) / (math.log(2) ** 2))))
        k = max(1, int(round(m / n * math.log(2))))
        return m, k

    def _positions(self, h: np.ndarray) -> np.ndarray:
        # (len(h), k) probe positions; h2 forced odd so strides cycle
        h = h.astype(np.uint64)
        h1 = h % np.uint64(self.m_bits)
        h2 = ((h >> np.uint64(29)) | np.uint64(1)) % np.uint64(self.m_bits)
        i = np.arange(self.k, dtype=np.uint64)
        return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(self.m_bits)

    def add_many(self, h: np.ndarray) -> None:
        pos = self._positions(h).ravel()
        np.bitwise_or.at(
            self.bits, (pos >> np.uint64(6)).astype(np.int64),
            np.uint64(1) << (pos & np.uint64(63)),
        )

    def might_contain(self, h: np.ndarray) -> np.ndarray:
        if len(h) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(h)
        word = self.bits[(pos >> np.uint64(6)).astype(np.int64)]
        hit = (word >> (pos & np.uint64(63))) & np.uint64(1)
        return hit.all(axis=1)


def _h64_expr(text: Column) -> Column:
    """60-bit int64 hash of a string via md5 — the bloom's key column.
    md5 (not xxhash64) so the driver-side oracle and any non-Spark reader
    can reproduce it."""
    return F.conv(F.substring(F.md5(text), 1, _BUCKET_HEX_DIGITS), 16, 10).cast(
        "long"
    )


def build_bloom(
    df: DataFrame, text_col: str, m_bits: int, k: int
) -> BloomFilter:
    """Aggregate a bloom bitmap over ``md5_60(text_col)`` distributed-style:
    one partial bitmap per partition, OR-reduced on the driver. The bitmap
    (m_bits/8 bytes) is the only thing that crosses the wire — sized for
    fp≈1% it is ~1.2 GB per 10^9 seen hashes, i.e. broadcastable where the
    seen-hash *table* is not."""
    m_bits_, k_ = int(m_bits), int(k)

    def partial(it):
        bf = BloomFilter(m_bits_, k_)
        any_rows = False
        for pdf in it:
            # non-null int64 by construction (filtered JVM-side below), so
            # Arrow hands pandas an exact int64 column — a nullable column
            # would arrive as float64 and round 60-bit hashes past 2^53
            h = pdf["h64"].to_numpy(dtype=np.int64)
            if len(h):
                bf.add_many(h)
                any_rows = True
        if any_rows:
            yield pd.DataFrame({"bits": [bf.bits.tobytes()]})

    hashes = df.select(_h64_expr(F.col(text_col)).alias("h64")).where(F.col("h64").isNotNull())
    parts = python_stage(hashes, partial, "bits binary").collect()
    out = BloomFilter(m_bits_, k_)
    for row in parts:
        out.bits |= np.frombuffer(row["bits"], dtype=np.uint64)
    return out


# target false-positive rate of incremental_dedup's bloom prefilter
INCREMENTAL_BLOOM_FP_RATE = 0.01


def incremental_dedup(
    new_docs: DataFrame,
    seen_docs: DataFrame,
    text_col: str = "text",
    use_bloom: bool = True,
) -> DataFrame:
    """Rows of ``new_docs`` whose ``text_col`` md5 was NOT seen in
    ``seen_docs``, with the hash exposed as ``text_md5``.

    The library's one cross-run exact dedup. Like the resume driver
    (``pipeline.run_with_resume``) it is a batch anti-join keyed on
    content, not on which files a row arrived in, so a rewritten or
    compacted ``seen_docs`` table dedups the same.

    NULL text never matches anything (md5(NULL) is NULL; NULL join keys
    don't equate) — degenerate rows pass through as new, mirroring the
    exact-dedup operator's NULL contract.

    With ``use_bloom`` the plan splits on a broadcast bloom probe, sized
    from ``seen_docs.count()`` for INCREMENTAL_BLOOM_FP_RATE:
    bloom-negative rows (definitely new) bypass the anti-join shuffle;
    only bloom positives join. No false negatives ⇒ identical output to
    the plain anti-join, so both variants share one oracle.
    """
    new_h = new_docs.withColumn("text_md5", F.md5(F.col(text_col)))
    seen_h = seen_docs.select(F.md5(F.col(text_col)).alias("text_md5")).where(
        F.col("text_md5").isNotNull()
    ).distinct()
    if not use_bloom:
        return new_h.join(seen_h, "text_md5", "left_anti")

    m_bits, k = BloomFilter.sized_for(seen_docs.count(), INCREMENTAL_BLOOM_FP_RATE)
    bf = build_bloom(seen_docs, text_col, m_bits, k)
    spark = new_docs.sparkSession
    bits_bc = spark.sparkContext.broadcast(bf.bits.tobytes())
    m_, k_ = bf.m_bits, bf.k

    @F.pandas_udf("boolean")
    def bloom_hit(h: pd.Series) -> pd.Series:
        bf_local = BloomFilter(
            m_, k_, bits=np.frombuffer(bits_bc.value, dtype=np.uint64)
        )
        # the column is sentinel-coalesced JVM-side, so it arrives as exact
        # int64 (a nullable column would arrive float64, rounding 60-bit
        # hashes past 2^53); sentinel rows must reach the join
        vals = h.to_numpy(dtype=np.int64)
        out = np.ones(len(h), dtype=bool)
        mask = vals >= 0
        if mask.any():
            out[mask] = bf_local.might_contain(vals[mask])
        return pd.Series(out)

    # md5-derived hashes are >= 0, so -1 is a safe "NULL text" sentinel
    probed = new_h.withColumn(
        "_bloom_hit",
        bloom_hit(F.coalesce(_h64_expr(F.col(text_col)), F.lit(-1).cast("long"))),
    )
    definitely_new = probed.where(~F.col("_bloom_hit")).drop("_bloom_hit")
    suspects = probed.where(F.col("_bloom_hit")).drop("_bloom_hit")
    return definitely_new.unionByName(suspects.join(seen_h, "text_md5", "left_anti"))


# ---------------------------------------------------------------------------
# CCNet perplexity buckets (head / middle / tail)
# ---------------------------------------------------------------------------

# log-space perplexity quantization: bin = floor(log1p(ppl) * SCALE).
# ~14k distinct bins cover ppl in [0, 1e6], so the histogram aggregate is
# tiny at any corpus size and the driver-side cutoff computation is O(bins).
PPL_BIN_SCALE = 1000.0
PPL_BIN_OVERFLOW = 1 << 31  # non-finite perplexity (empty doc, LM miss)


def ppl_bin(ppl: np.ndarray) -> np.ndarray:
    """Quantize perplexities to integer log-space bins.

    Computed with numpy INSIDE the scoring stage (not as a JVM ``ln``
    expression) so the bin of a given double is one engine's rounding, not
    two: cross-engine ``ln`` can differ by an ulp exactly at a bin edge,
    which would flip a bucket label. The DuckDB oracle precomputes bins
    with this same function.
    """
    p = np.asarray(ppl, dtype=np.float64)
    b = np.floor(np.log1p(np.maximum(p, 0.0)) * PPL_BIN_SCALE)
    return np.where(np.isfinite(b), b, float(PPL_BIN_OVERFLOW)).astype(np.int64)


def tercile_cutoffs(hist: list) -> tuple[int, int]:
    """Exact keep-first tercile cutoff bins from a (bin, count) histogram.

    ``c_i`` = smallest bin whose cumulative count reaches
    ``ceil(i * total / 3)`` (integer arithmetic — mirrored verbatim by the
    oracle SQL's ``(i * total + 2) // 3`` window cumsum).
    """
    pairs = sorted((int(b), int(c)) for b, c in hist)
    total = sum(c for _, c in pairs)
    t1 = (total + 2) // 3
    t2 = (2 * total + 2) // 3
    cum, c1, c2 = 0, None, None
    for b, c in pairs:
        cum += c
        if c1 is None and cum >= t1:
            c1 = b
        if c2 is None and cum >= t2:
            c2 = b
    return c1, c2


def ccnet_buckets(df: DataFrame, bin_col: str = "bin") -> DataFrame:
    """Assign CCNet head/middle/tail perplexity buckets (CCNet, Wenzek et
    al. 2020 §4.3: corpus terciles by LM perplexity; head = most fluent).

    Plan shape (100 TB): ONE map-side-combined ``groupBy(bin)`` over ~14k
    log-space bins, a driver-side cutoff scan over that tiny histogram
    (this is CCNet's own design — cutoffs from a corpus histogram, not a
    global sort), then a narrow map stamping the label. Total cost: one
    aggregate shuffle of ~bins rows; no window, no global sort, no
    repartition of the corpus.

    ``df`` is persisted across the histogram action and the returned
    labeling plan (the scoring that produced the bins — an LM pass, an NB
    fold — would otherwise run twice); release with
    ``dedup.release_cached`` after the final action.
    """
    df = df.persist()
    c1, c2 = tercile_cutoffs(
        [(r[0], r[1]) for r in df.groupBy(bin_col).count().collect()]
    )
    bucket = (
        F.when(F.col(bin_col) <= F.lit(c1), F.lit("head"))
        .when(F.col(bin_col) <= F.lit(c2), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    out = df.withColumn("ppl_bucket", bucket)
    out._cached_deps = (df,)  # dedup.release_cached(out) after the action
    return out


def topfrac_cutoff(hist: list, num: int = 1, den: int = 4) -> int:
    """Cutoff bin keeping the TOP ``num/den`` fraction of rows: the
    largest bin whose from-the-top cumulative count reaches
    ``ceil(num * total / den)`` (integer arithmetic, mirrored by the
    oracle SQL's descending window cumsum). Bin granularity means the
    kept set can slightly overshoot the fraction — never undershoot."""
    pairs = sorted(((int(b), int(c)) for b, c in hist), reverse=True)
    total = sum(c for _, c in pairs)
    k = (num * total + den - 1) // den
    cum = 0
    cut = pairs[-1][0] if pairs else 0
    for b, c in pairs:
        cum += c
        if cum >= k:
            cut = b
            break
    return cut

"""Deduplication operators for large-scale training-data pipelines.

Three tiers, each with its scale story:

- exact_dedup: md5(text) group — one shuffle on the digest; the digest is
  computed JVM-side, so the shuffle carries 16 bytes + id, not the text.
- ngram_jaccard_pairs: word-shingle inverted-index self-join. The join key
  is the shingle, so only docs sharing a shingle ever meet — this is the
  exact-verification tier; at 100 TB you put minhash_lsh_candidates in
  front of it so the join runs per LSH bucket, not per shingle.
- minhash_lsh: MinHash signatures (vectorized numpy over Arrow batches)
  banded into bucket keys; candidate pairs = docs sharing a band bucket.

All hashes are deterministic (fixed seeds / fixed mixers) so reruns and
resumes produce identical clusters.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..stage import ensure_parallelism, python_stage
from ..textops import WORD_SPLIT_PATTERN as TOKEN_SPLIT  # single frozen splitter
from ..textops import blake2b64 as _blake2b64


def release_cached(df: DataFrame) -> None:
    """Unpersist any intermediate tables an operator cached for ``df``.

    Operators that persist an upstream stage (minhash_dedup_pairs,
    minhash_lsh_candidates) attach the cached DataFrames to the result as
    ``_cached_deps``; call this AFTER the final action on the result so
    long-lived sessions (repeated bench runs, notebooks) don't accumulate
    executor storage until LRU eviction starts degrading other cached
    data. Safe on any DataFrame (no-op when nothing was attached).

    NOTE: ``_cached_deps`` rides on the EXACT DataFrame object the
    operator returned — derived frames (.select/.filter/...) are new
    objects without the attribute, so release through the original
    handle."""
    for dep in getattr(df, "_cached_deps", ()):  # noqa: B009 — plain attr
        try:
            dep.unpersist()
        except Exception:
            pass


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per distinct text: (text_md5, keeper_id, n_dups).

    NULL-text rows are excluded: md5(NULL) is NULL and groupBy would lump
    every NULL row into one "duplicate" group even though no text equality
    holds between them."""
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.md5(F.col(text_col).cast("binary")).alias("text_md5"), F.col(id_col))
        .groupBy("text_md5")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_dups"))
    )


def exact_dedup_keep(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Filter df to one keeper row per distinct text (min id wins).
    NULL-text rows pass through untouched — they were never compared."""
    keep = exact_dedup_groups(df, id_col, text_col).select(
        F.col("keeper_id").alias(id_col)
    )
    nn = F.col(text_col).isNotNull()
    return df.filter(~nn).unionByName(df.filter(nn).join(keep, id_col, "left_semi"))


# ---------------------------------------------------------------------------
# word shingles (shared by jaccard + minhash)
# ---------------------------------------------------------------------------


def _shingle_pos_mult(k: int) -> np.ndarray:
    """Odd uint64 multipliers decorrelating the k shingle positions.
    shingle_hash(w_j..w_{j+k-1}) = XOR_i (word_hash(w_{j+i}) * P_i):
    order-sensitive, injective w.h.p. over 64 bits, and computed as k
    shifted numpy views of ONE word-hash array — no per-shingle Python."""
    rng = np.random.default_rng(99)
    return (
        (rng.integers(0, 1 << 63, size=k, dtype=np.uint64) << np.uint64(1))
        | np.uint64(1)
    )


_TOKEN_SPLIT_RE = re.compile(TOKEN_SPLIT)


def _shingle_arrays(ids_in, texts, k, pos_mult, word_hash_cache):
    """(kept_ids, [uint64->int64 shingle-hash arrays]) for one batch.
    Rows with < k words are dropped (no shingles -> not a dedup
    candidate; see minhash note). Word hashes are blake2b-64, memoized
    per worker (web text repeats vocabulary massively).

    Tokenization is the FROZEN [ \\t\\n\\r]+ splitter shared with the JVM
    path and the DuckDB oracles — NOT str.split(), which also breaks on
    unicode whitespace (NBSP, U+3000, \\x0b...) and would silently change
    shingle sets on real web text."""
    ids, hashes = [], []
    for i, t in zip(ids_in, texts):
        words = [w for w in _TOKEN_SPLIT_RE.split(t.lower()) if w]
        if len(words) < k:
            continue
        wh = np.empty(len(words), dtype=np.uint64)
        for j, w in enumerate(words):
            h = word_hash_cache.get(w)
            if h is None:
                h = _blake2b64(w)
                if len(word_hash_cache) < 1_000_000:
                    word_hash_cache[w] = h
            wh[j] = h
        n_sh = len(words) - k + 1
        mix = wh[:n_sh] * pos_mult[0]
        for off in range(1, k):
            mix = mix ^ (wh[off: off + n_sh] * pos_mult[off])
        ids.append(i)
        hashes.append(np.unique(mix).view(np.int64))
    return ids, hashes


def with_shingle_hashes(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """(id, shingle_hashes array<long>): distinct k-word shingle hashes
    in one Arrow pass (signed int64 views of the uint64 values)."""
    pos_mult = _shingle_pos_mult(k)

    def fn(it):
        cache = {}
        for pdf in it:
            ids, hashes = _shingle_arrays(
                pdf[id_col], pdf[text_col].fillna(""), k, pos_mult, cache
            )
            # explicit dtypes: an empty partition would otherwise yield
            # float64 columns Arrow can't cast to long / list<long>
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "shingle_hashes": pd.Series(hashes, dtype="object"),
                }
            )

    docs = ensure_parallelism(df.select(id_col, text_col))
    return python_stage(docs, fn, f"{id_col} long, shingle_hashes array<long>")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs via shingle inverted-index self-join.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    The join key is the 64-bit shingle hash, so the shuffle carries
    (id, int64) rows instead of shingle strings.

    ``max_df`` caps shingle document frequency: shingles appearing in more
    than max_df docs are dropped BEFORE the self-join (a shingle shared by
    m docs contributes m^2/2 join rows — one boilerplate phrase across a
    web corpus makes the join quadratic). With the cap, jaccard is computed
    over each doc's KEPT shingle set (both |A∩B| and the set sizes) — the
    standard df-capped similarity; near-dup pairs lose no signal because a
    >max_df shingle carries none. Default None = exact semantics; at web
    scale always set it (or front with minhash_lsh_candidates).
    """
    sh = with_shingle_hashes(df, id_col, text_col, k)
    sized = sh.select(
        F.col(id_col).alias("id"),
        F.col("shingle_hashes").alias("shingles"),
        F.size("shingle_hashes").alias("n_sh"),
    ).filter(F.col("n_sh") > 0)
    inv = sized.select("id", "n_sh", F.explode("shingles").alias("shingle"))
    if max_df is not None:
        # df-filter on the shingle key the self-join shuffles on anyway
        # (map-side partial agg). The per-doc size recount is NOT joined
        # back onto the wide inverted index — sizes attach to the far
        # smaller PAIR aggregate below, saving an id-keyed shuffle of the
        # full index before the expensive self-join.
        keep = (
            inv.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_df)
            .select("shingle")
        )
        kept = inv.drop("n_sh").join(keep, "shingle")
        sizes = kept.groupBy("id").agg(F.count("*").alias("n_sh"))
        a = kept.alias("a")
        b = kept.alias("b")
        agg = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count("*").alias("n_inter"))
            .join(sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a")
            .join(sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")
        )
    else:
        a = inv.alias("a")
        b = inv.alias("b")
        agg = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(
                F.count("*").alias("n_inter"),
                F.first("a.n_sh").alias("n_a"),
                F.first("b.n_sh").alias("n_b"),
            )
        )
    return (
        agg.withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _minhash_params(num_perm: int, seed: int = 42):
    """Multiply-shift universal-hash parameters (odd multipliers).

    h_i(x) = ((a_i * x + b_i) mod 2^64) >> 32 — wrap-around uint64
    arithmetic only (mul/add/shift), no modulo: a vectorized 64-bit `%`
    is ~20x slower in numpy and MinHash only needs a uniform family,
    not an exact Mersenne permutation.
    """
    rng = np.random.default_rng(seed)
    a = (rng.integers(0, 1 << 63, size=num_perm, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.integers(0, 1 << 63, size=num_perm, dtype=np.uint64)
    return a, b


def _minhash_batch(shingle_lists, a, b):
    """MinHash signatures for a batch: list of uint64 arrays -> int64 matrix.

    Flattens the whole batch into one (total_shingles, num_perm) permute-
    hash pass + per-row min via reduceat — one numpy dispatch per batch,
    not one per document.
    """
    num_perm = len(a)
    n = len(shingle_lists)
    out = np.zeros((n, num_perm), dtype=np.int64)
    lens = np.array([len(h) for h in shingle_lists], dtype=np.int64)
    nz = np.where(lens > 0)[0]
    if len(nz) == 0:
        return out
    flat = np.concatenate([shingle_lists[i] for i in nz])
    starts = np.concatenate(([0], np.cumsum(lens[nz])[:-1]))
    # one reused buffer + in-place ops: the naive composite expression
    # allocates three (total_shingles x num_perm) temporaries and becomes
    # allocation-bound (~10x slower). Chunked so peak extra memory stays
    # ~128 MB regardless of Arrow batch size.
    chunk = max(1, (1 << 24) // num_perm)  # ~16M elements per chunk
    doc_ends = np.concatenate((starts[1:], [len(flat)]))
    buf = np.empty((min(chunk, len(flat)), num_perm), dtype=np.uint64)
    d0 = 0
    while d0 < len(nz):
        d1 = d0
        while d1 < len(nz) and doc_ends[d1] - starts[d0] <= chunk:
            d1 += 1
        d1 = max(d1, d0 + 1)
        seg = flat[starts[d0]: doc_ends[d1 - 1]]
        if len(seg) > len(buf):  # single doc larger than the chunk budget
            buf = np.empty((len(seg), num_perm), dtype=np.uint64)
        view = buf[: len(seg)]
        np.multiply(seg.reshape(-1, 1), a, out=view)
        view += b
        view >>= np.uint64(32)
        seg_starts = starts[d0:d1] - starts[d0]
        out[nz[d0:d1]] = np.minimum.reduceat(view, seg_starts, axis=0).astype(np.int64)
        d0 = d1
    return out


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 64,
    seed: int = 42,
) -> DataFrame:
    """(id, sig array<long>) — vectorized numpy inside mapInPandas.

    Docs with no shingles (shorter than k words) are excluded: they have
    no MinHash signature, and keeping them would make every empty doc an
    LSH candidate of every other (zero signatures collide in all bands —
    a quadratic blowup at web scale and a divide-by-zero in the exact
    Jaccard verification).
    """
    hashed = with_shingle_hashes(df, id_col, text_col, k)
    a, b = _minhash_params(num_perm, seed)

    def fn(it):
        for pdf in it:
            hash_lists = [
                np.asarray(lst if lst is not None else [], dtype=np.int64).view(np.uint64)
                for lst in pdf["shingle_hashes"]
            ]
            sigs = _minhash_batch(hash_lists, a, b)
            yield pd.DataFrame({id_col: pdf[id_col], "sig": list(sigs)})

    return python_stage(hashed, fn, f"{id_col} long, sig array<long>")


def minhash_lsh_candidates(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
    persist: bool = True,
    expected_perm: int = None,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket.

    Band key = (band_index, hash of that band's signature slice); the
    bucket join shuffles only (id, band_key) pairs. ``persist=True``
    caches the banded table so the self-join does not recompute the
    upstream signature stage twice; pass False when sig_df is already
    cached (the banding projection itself is cheap JVM work).

    Pass ``expected_perm`` (the signature length) when known: a banding
    config whose bands*rows_per_band exceeds it would silently slice
    EMPTY arrays for the tail bands — every doc then shares the same
    empty-slice bucket and the candidate join goes quadratic.
    """
    if expected_perm is not None and bands * rows_per_band != expected_perm:
        raise ValueError(
            f"bands({bands}) * rows_per_band({rows_per_band}) != "
            f"signature length {expected_perm}"
        )
    banded = sig_df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bnd: F.xxhash64(
                    bnd, F.slice("sig", bnd * rows_per_band + 1, rows_per_band)
                ),
            )
        ).alias("band", "bucket"),
    )
    if persist:
        banded = banded.persist()
    a = banded.alias("a")
    b = banded.alias("b")
    out = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    if persist:
        out._cached_deps = (banded,)  # release_cached(out) after the action
    return out


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """LSH candidates verified by exact Jaccard (the full scale pattern)."""
    # Checked before any Spark work: raising after the persist() below
    # would leave a cached plan that no caller can release.
    if num_perm % bands != 0:
        raise ValueError(f"num_perm({num_perm}) must be divisible by bands({bands})")
    a, b = _minhash_params(num_perm, seed=42)
    pos_mult = _shingle_pos_mult(k)

    # ONE fused Python pass computes shingle hashes AND signatures, then
    # persists: exactly one JVM->Python crossing for the whole Python
    # side of the operator, and banding + both verify sides read the
    # same cached table. At web scale this is the intermediate you
    # would materialize as a table.
    def sig_fn(it):
        cache = {}
        for pdf in it:
            ids, hashes = _shingle_arrays(
                pdf[id_col], pdf[text_col].fillna(""), k, pos_mult, cache
            )
            sigs = _minhash_batch(
                [h.view(np.uint64) for h in hashes], a, b
            )
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "shingle_hashes": pd.Series(hashes, dtype="object"),
                    "sig": pd.Series(list(sigs), dtype="object"),
                }
            )

    docs = ensure_parallelism(df.select(id_col, text_col))
    sh = python_stage(
        docs, sig_fn, f"{id_col} long, shingle_hashes array<long>, sig array<long>"
    ).persist()
    cands = minhash_lsh_candidates(
        sh.select(id_col, "sig"), id_col, bands, num_perm // bands,
        persist=False, expected_perm=num_perm,
    )
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("shingle_hashes").alias("sh_a"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("shingle_hashes").alias("sh_b"))
    out = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    out._cached_deps = (sh,)  # release_cached(out) after the action
    return out


# ---------------------------------------------------------------------------
# connected components over near-dup pairs (cluster -> canonical doc)
# ---------------------------------------------------------------------------


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC 2014): every node connects its LARGER
    neighbors to its smallest neighbor-or-self."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    g = sym.groupBy("u").agg(F.collect_set("v").alias("nbrs"))
    m = F.least(F.array_min("nbrs"), F.col("u"))
    return (
        g.select(F.col("u"), m.alias("m"), F.explode("nbrs").alias("x"))
        .where(F.col("x") > F.col("u"))
        .select(F.col("x").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient edges high->low, connect every smaller
    neighbor (and the node itself) to the minimum."""
    d = edges.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    g = d.groupBy("u").agg(F.collect_set("v").alias("nbrs"))
    m = F.least(F.array_min("nbrs"), F.col("u"))
    return (
        g.select(F.col("u"), m.alias("m"),
                 F.explode(F.array_union("nbrs", F.array("u"))).alias("x"))
        .where(F.col("x") != F.col("m"))
        .select(F.col("x").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b", max_iter: int = 25
) -> DataFrame:
    """(node, rep) for every node in ``pairs``; ``rep`` is the smallest id
    in the node's connected component.

    Alternating large-star / small-star — the published O(log n)-round
    MapReduce algorithm, expressed as DataFrame groupBy+explode rounds
    (two shuffles per round, integer-only rows). Convergence is detected
    by an (order-insensitive checksum, count) pair — one cheap action per
    round; ``localCheckpoint`` truncates the per-round lineage so plans
    don't grow superlinearly. Near-dup graphs are overwhelmingly tiny
    star/clique components, so real corpora converge in 2-4 rounds.

    This is the step that turns pairwise near-dup evidence into the
    "keep one canonical document per cluster" decision a dedup pipeline
    actually ships.
    """
    edges = (
        pairs.select(F.col(a_col).cast("long").alias("u"),
                     F.col(b_col).cast("long").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    prev = None
    converged = False
    for _ in range(max_iter):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        row = edges.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("ck"),
        ).head()
        cur = (row["n"], row["ck"])
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        # the star-shape assumption behind the leaves/roots extraction
        # below only holds at the fixpoint — failing loudly beats
        # silently wrong rep/is_canonical labels.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (component diameter exceeds the round budget)"
        )
    # converged edges form stars (leaf -> component min); roots map to self
    leaves = edges.select(F.col("u").alias("node"), F.col("v").alias("rep"))
    roots = edges.select(F.col("v").alias("node"), F.col("v").alias("rep")).distinct()
    return (
        leaves.union(roots)
        .groupBy("node")
        .agg(F.min("rep").alias("rep"))
    )


def near_dup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 2,
    threshold: float = 0.2,
    max_df: int | None = 100,
) -> DataFrame:
    """Jaccard near-dup pairs -> connected components -> per-document
    ``(doc_id, rep, is_canonical)``; singletons are their own canonical.
    ``is_canonical`` is the keep flag of cluster-level dedup."""
    pairs = ngram_jaccard_pairs(
        docs, id_col=id_col, text_col=text_col,
        k=k, threshold=threshold, max_df=max_df,
    )
    cc = connected_components(pairs)
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(cc, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            F.coalesce("rep", F.col("doc_id")).alias("rep"),
            (F.coalesce("rep", F.col("doc_id")) == F.col("doc_id")).alias("is_canonical"),
        )
    )


# ---------------------------------------------------------------------------
# exact substring dedup (duplicate-span removal)
# ---------------------------------------------------------------------------

SUBSTR_WINDOW = 8  # words per window (Lee et al. use 50 BPE tokens; the
# synthetic docs average ~60 words, so 8 words keeps the op non-vacuous)


def substring_dedup(
    df: DataFrame, text_col: str = "text", window: int = SUBSTR_WINDOW
) -> DataFrame:
    """Exact duplicate-substring removal (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better": drop repeated spans, not
    whole documents — their ExactSubstr variant, re-expressed relationally
    instead of via a suffix array, which has no distributed equivalent).

    A *window* is ``window`` consecutive words; every window occurrence
    except the globally FIRST one (min ``(doc_id, wpos)`` over identical
    window text) is a duplicate, and every word covered by a duplicate
    window is removed. The surviving copy keeps the corpus' one canonical
    instance of each repeated span. Returns
    ``(doc_id, clean_text, n_dropped_tokens)`` where ``clean_text`` is the
    kept words joined by single spaces.

    Plan shape (100 TB):

    1. Window hashes are md5 of the joined span, computed JVM-side and
       exploded — the shuffle carries (16-byte digest, doc_id, wpos), never
       the span text. Row blowup is ~n_words per doc but each row is tiny
       and the stage is linear, the same cost profile as the shingle
       explode in ``ngram_jaccard_pairs``.
    2. ONE map-side-combined ``groupBy(digest)`` -> (winner, count); a
       digest shared by millions of copies (a viral paragraph) is a hot
       key the partial aggregate absorbs before the shuffle.
    3. ONE join occurrences->winners on the digest keeping non-winner
       rows (AQE skew-join splits residual hot digests); only docs that
       CONTAIN a duplicate span reach the reassembly aggregate.
    4. ``groupBy(doc_id)`` of duplicate positions -> coverage filter as a
       codegen'd two-arg array lambda; docs with no duplicate spans pass
       through the left join unchanged (no aggregate row at all).
    """
    words = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), " "),
        lambda x: x != F.lit(""),
    )
    base = df.select("doc_id", words.alias("words"))
    nw = F.size("words")
    occ = base.select(
        "doc_id",
        F.posexplode(
            F.when(
                nw >= window,
                F.transform(
                    F.sequence(F.lit(0), nw - window),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice(F.col("words"), i + 1, window))
                    ),
                ),
            ).otherwise(F.array().cast("array<string>")),
        ).alias("wpos", "wh"),
    )
    # packed (doc_id, wpos) winner key: min(struct) would force a
    # SortAggregate (structs aren't mutable hash-agg buffer types); the
    # BIGINT packing keeps the winner aggregate hash-based with map-side
    # combine. Bound (< 2^20 windows/doc) is runtime-enforced by the guard.
    from .webrules import packed_occurrence

    packed = packed_occurrence(F.col("doc_id"), F.col("wpos"))
    winners = occ.groupBy("wh").agg(F.min(packed).alias("w"))
    dup_pos = (
        occ.join(winners, on="wh")
        .filter(packed != F.col("w"))
        .groupBy("doc_id")
        .agg(F.collect_set("wpos").alias("dups"))
    )
    joined = base.join(dup_pos, on="doc_id", how="left").withColumn(
        "dups", F.coalesce("dups", F.array().cast("array<int>"))
    )
    # LINEAR coverage filter (was: per-word `exists` over the dup-position
    # array, O(n_words x n_dups) per doc — quadratic on a pathological
    # fully-duplicated long doc). New shape, all codegen'd JVM array ops:
    #   covered  = distinct(flatten(dup windows))      O(n_dups * window)
    #   kept_pos = array_except(0..n-1, covered)       hash set, O(n)
    #   clean    = words[kept_pos]                     O(n)
    # array_except preserves first-array order, so word order survives.
    # Dup window starts never exceed n-window, so no end clamping needed.
    # Multi-referenced HOF arrays are staged through projection aliases
    # (codegen CSE skips lambda expressions — see BENCH/NOTES.md).
    nw2 = F.size("words")
    covered = F.array_distinct(
        F.flatten(
            F.transform(F.col("dups"), lambda p: F.sequence(p, p + window - 1))
        )
    )
    all_pos = F.when(nw2 > 0, F.sequence(F.lit(0), nw2 - 1)).otherwise(
        F.array().cast("array<int>")
    )
    staged = joined.select(
        "doc_id", "words", F.array_except(all_pos, covered).alias("kept_pos")
    )
    kept = F.transform(
        F.col("kept_pos"), lambda j: F.element_at(F.col("words"), j + 1)
    )
    return staged.select(
        "doc_id",
        F.array_join(kept, " ").alias("clean_text"),
        (F.size("words") - F.size("kept_pos")).cast("long").alias("n_dropped_tokens"),
    )

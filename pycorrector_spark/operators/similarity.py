"""Embedding near-duplicate detection over array<float> columns.

cosine_near_dup_pairs_bucketed is banded sign-LSH: each vector gets
n_planes sign bits from random hyperplanes, split into `bands` keys; two
vectors become a candidate pair when any band key matches, and every
candidate is verified by exact cosine. Only (id, band, bits) longs are
shuffled for the candidate self-join, and no corpus is collected to the
driver.

The DuckDB oracle rebuilds the same bands, candidates and cosines
bit-for-bit, which is why the sign bits come from left-fold dots
(_leftfold_dots: the same summation order as DuckDB list_reduce and
Spark's aggregate HOF, where a GEMM's blocked order can flip the sign of
a near-zero dot) over dyadic planes (_hyperplanes: values that round-trip
exactly through decimal SQL literals).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..stage import ensure_parallelism, python_stage


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    """Random projection directions as DYADIC rationals (k/1024, k in
    [-512, 512]): sign-LSH only needs symmetric random directions, and
    dyadic values round-trip exactly through decimal SQL literals — so the
    DuckDB oracle can rebuild the identical planes and the sign bits match
    bit-for-bit (a Gaussian float printed to decimal can parse one ulp off
    in another engine, silently flipping a near-zero dot's sign)."""
    rng = np.random.default_rng(seed)
    return rng.integers(-512, 513, size=(n_planes, dim)).astype(np.float64) / 1024.0


def _valid_rows(pdf: pd.DataFrame, vec_col: str) -> pd.DataFrame:
    """Drop NULL-embedding rows — with_lsh_bands np.stack()s the column,
    and a single None row turns the stack into a ragged object array that
    crashes the whole task. NULL vectors are admissible input
    (the dim probe already skips them); they simply can't participate."""
    if not len(pdf):
        return pdf
    mask = pdf[vec_col].map(lambda v: v is not None)
    return pdf[mask] if not mask.all() else pdf


def _leftfold_dots(mat: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """(n_rows, n_planes) dot products accumulated dimension-by-dimension —
    a strict left fold per element, bit-identical to DuckDB
    ``list_reduce(list_apply(...), (a,b) -> a+b)`` and to Spark's
    ``aggregate()`` HOF fold. GEMM (mat @ planes.T) uses blocked/SIMD
    summation whose order differs, which can flip the SIGN of a near-zero
    dot and desync LSH buckets from the oracle. Still vectorized: one numpy
    op per dimension over all rows, not one per row."""
    acc = np.zeros((mat.shape[0], planes.shape[0]), dtype=np.float64)
    for d in range(mat.shape[1]):
        acc += mat[:, d: d + 1] * planes[None, :, d]
    return acc


def with_lsh_bands(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    dim: int = None,
) -> DataFrame:
    """(id, band, band_bits): banded sign-LSH keys, one row per band.

    n_planes sign bits split into `bands` groups; two vectors are
    candidates if ANY band's bits match (OR over bands -> recall rises with
    band count, per-band bits keep buckets selective). Bits come from
    left-fold dots over dyadic planes, so the DuckDB oracle reproduces them
    exactly (see _leftfold_dots / _hyperplanes)."""
    if n_planes % bands:
        raise ValueError(f"n_planes({n_planes}) must be divisible by bands({bands})")
    rpb = n_planes // bands
    if dim is None:
        first = df.select(F.size(vec_col)).filter(F.col(vec_col).isNotNull()).first()
        if first is None or first[0] is None or first[0] <= 0:
            raise ValueError("cannot infer embedding dim; pass dim= explicitly")
        dim = first[0]
    planes = _hyperplanes(dim, n_planes, seed)

    def fn(it):
        for pdf in it:
            pdf = _valid_rows(pdf, vec_col)
            if not len(pdf):
                continue
            mat = np.stack(pdf[vec_col].apply(np.asarray).values).astype(np.float64)
            bits = _leftfold_dots(mat, planes) > 0
            n = len(pdf)
            ids = pdf[id_col].to_numpy()
            out_ids = np.repeat(ids, bands)
            out_band = np.tile(np.arange(bands, dtype=np.int64), n)
            keys = np.zeros((n, bands), dtype=np.int64)
            for b in range(bands):
                for j in range(rpb):
                    keys[:, b] |= bits[:, b * rpb + j].astype(np.int64) << j
            yield pd.DataFrame(
                {
                    id_col: out_ids,
                    "band": out_band,
                    "band_bits": keys.reshape(-1),
                }
            )

    vecs = ensure_parallelism(df.select(id_col, vec_col))
    return python_stage(vecs, fn, f"{id_col} long, band long, band_bits long")


def cosine_near_dup_pairs_bucketed(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs at scale: banded sign-LSH candidates verified by
    exact cosine (no driver-side collect). Returns (id_a, id_b, cosine
    rounded to 6) for candidate pairs with cosine >= threshold; recall is
    the banded-LSH s-curve (bands=4 x 4 bits: ~1-(1-(1-theta/pi)^4)^4), not
    1.0 — that is the operator's declared contract and the oracle mirrors
    it exactly.

    Plan shape: one Arrow pass for band keys, self-join shuffling only
    (id, band, bits) longs, distinct pairs, then vectors join + JVM-fold
    cosine on candidates only."""
    banded = with_lsh_bands(df, id_col, vec_col, n_planes, bands, seed)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    vecs = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    ).filter(_norm(F.col("v")) > 0)  # zero vectors can never verify (NaN cosine)
    va = vecs.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"))
    vb = vecs.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"))
    scored = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cos_raw", _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
        )
        .filter(F.col("cos_raw") >= threshold)
    )
    return scored.select(
        "id_a", "id_b", F.round("cos_raw", 6).alias("cosine")
    )

"""Text-analysis operators: token counting, fingerprinting.

All SQL-portable (Spark built-ins with exact DuckDB equivalents) so the
driver's oracle gate can verify them value-for-value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# BPE-ish token pattern: latin runs | digit runs | single CJK char |
# any other non-space char. Identical in Java regex and RE2.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[一-龥]|[^A-Za-z0-9一-龥 \t\n\r]"
from ..textops import WORD_SPLIT_PATTERN as WS_TOKEN_SPLIT  # single frozen splitter
from ..textops import WS_CHARS  # frozen whitespace set

FP_MOD = 2147483647  # 2^31 - 1; keeps (h*31 + c) in int64 range
FP_MULT = 31


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ws_tokens (whitespace split) and bpe_tokens (regex token count).
    NULL text counts as '' (0 tokens), as in the signals stage."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    ws = F.size(
        F.filter(
            F.split(F.btrim(c, F.lit(WS_CHARS)), WS_TOKEN_SPLIT),
            lambda x: x != F.lit(""),
        )
    )
    bpe = F.regexp_count(c, F.lit(BPE_TOKEN_PATTERN))
    return df.withColumn("ws_tokens", ws).withColumn("bpe_tokens", bpe)


def with_fingerprint(df: DataFrame, text_col: str = "text", out: str = "fingerprint") -> DataFrame:
    """Rolling polynomial hash of the lowercased text's codepoints:
    h = (h * 31 + codepoint) mod (2^31 - 1), left-to-right.

    Pure built-ins: split-to-chars -> transform(ascii) -> aggregate fold.
    The same fold is expressible in DuckDB (list_reduce over codepoints),
    making this the SQL-verified document fingerprint. For near-dup
    detection at scale use minhash_dedup_pairs (dedup.py); this one is the
    exact-identity fingerprint (order-sensitive, unlike md5 it survives
    recomputation in any engine with 64-bit ints).
    """
    # NULL text fingerprints as '' (0), not NULL — same convention as above
    chars = F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), "")
    fp = F.aggregate(
        F.filter(chars, lambda x: x != F.lit("")),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * FP_MULT + F.ascii(ch)) % FP_MOD,
    )
    return df.withColumn(out, fp)


def fingerprint_py(text: str) -> int:
    """Scalar reference of with_fingerprint (parity-tested)."""
    h = 0
    for ch in text.lower():
        h = (h * FP_MULT + ord(ch)) % FP_MOD
    return h

"""Output checks against independent oracles.

Score stage: ``refimpl.golden.golden_row`` once per distinct text, in a
pool of spawned processes outside Spark, so the oracle shares no code
path with the stage it checks (no Arrow, no ``mapInPandas``, no
``process_batch``) except the frozen primitives ``golden_row`` is built
from.
"""

from __future__ import annotations

import math
import multiprocessing as mp

import numpy as np
import pandas as pd

# the score-stage columns compared per document; scrubbed_text and
# corrected_text byte for byte
FIELDS = ("keep", "drop_reason", "scrubbed_text", "corrected_text", "n_errors", "ppl")

_ORACLE = None  # (Artifacts, zh, en) of one pool process


def _init(art) -> None:
    global _ORACLE
    from pycorrector_spark.operators.score import make_workers

    _ORACLE = (art, *make_workers(art))


def _golden(texts) -> list:
    from pycorrector_spark.refimpl.golden import golden_row

    art, zh, en = _ORACLE
    out = []
    for t in texts:
        row = golden_row(t, zh, en, art.cfg)
        out.append((t, {f: row[f] for f in FIELDS}))
    return out


def golden_rows(art, texts, processes: int) -> dict:
    """{text: oracle fields} for the distinct ``texts``, with fresh
    correctors in each of ``processes`` spawned processes."""
    texts = sorted(set(texts))
    # shuffled so long and short texts spread evenly over the chunks
    texts = [texts[i] for i in np.random.default_rng(0).permutation(len(texts))]
    chunks = [texts[i::4 * processes] for i in range(4 * processes)]
    with mp.get_context("spawn").Pool(processes, initializer=_init, initargs=(art,)) as pool:
        parts = pool.map(_golden, chunks)
    return dict(kv for part in parts for kv in part)


def _same(field, got, want) -> bool:
    if want is None or (isinstance(want, float) and math.isnan(want)):
        return got is None or (isinstance(got, float) and math.isnan(got))
    if got is None or (isinstance(got, float) and math.isnan(got)):
        return False
    if field == "n_errors":
        return int(got) == int(want)
    if field == "keep":
        return bool(got) == bool(want)
    return got == want


def check_scored(out: pd.DataFrame, expected: pd.DataFrame, oracle: dict) -> dict:
    """Compare a scored output frame with the oracle, keyed by url.

    ``expected`` holds the input rows (url, text). A document fails when
    its url is missing from ``out``, appears more than once, or any of
    FIELDS differs from the oracle row of its text. Returns counts and up
    to five sample mismatches.
    """
    counts = out["url"].value_counts()
    dup_urls = counts[counts > 1]
    n_dup = int((dup_urls - 1).sum())
    first = out.drop_duplicates("url").set_index("url")
    missing = ~expected["url"].isin(first.index)
    n_missing = int(missing.sum())
    present = expected[~missing]
    got = first.loc[present["url"].to_numpy()]
    wants = [oracle[t] for t in present["text"]]
    bad = np.zeros(len(present), dtype=bool)
    bad_fields: dict = {}
    for f in FIELDS:
        col = [_same(f, _py(g), w[f]) for g, w in zip(got[f].tolist(), wants)]
        miss = ~np.array(col, dtype=bool)
        bad |= miss
        for i in np.flatnonzero(miss)[:5]:
            bad_fields.setdefault(int(i), []).append(f)
    n_bad = int(bad.sum())
    urls = present["url"].to_numpy()
    samples = [{"url": urls[i], "fields": fs} for i, fs in sorted(bad_fields.items())[:5]]
    return {
        "docs": len(expected),
        "missing": n_missing,
        "duplicated": n_dup,
        "mismatched": n_bad,
        "failed": n_missing + n_dup + n_bad,
        "samples": samples,
    }


def _py(v):
    if isinstance(v, np.generic):
        return v.item()
    return v


def check_resume(docs_out: pd.DataFrame, audit: pd.DataFrame,
                 expected: pd.DataFrame, oracle: dict) -> dict:
    """``check_scored`` on docs_out, plus the audit invariants: every run's
    per-partition rows sum to its summary row (partition_id -1), and the
    summary rows of all runs sum to the docs_out row and keep counts."""
    res = check_scored(docs_out, expected, oracle)
    summary = audit[audit["partition_id"] == -1]
    parts = audit[audit["partition_id"] != -1]
    per_run = parts.groupby("run_id")["n_rows"].sum()
    sum_rows = summary.set_index("run_id")["n_rows"].fillna(0)
    gaps = [
        abs(int(per_run.get(r, 0)) - int(sum_rows[r])) for r in sum_rows.index
    ]
    gaps.append(abs(int(sum_rows.sum()) - len(docs_out)))
    gaps.append(abs(int(summary["n_keep"].fillna(0).sum())
                    - int(docs_out["keep"].sum())))
    audit_failed = sum(gaps)
    res["audit_runs"] = int(len(summary))
    res["audit_gap"] = audit_failed
    res["failed"] += audit_failed
    return res


def check_curation(got: pd.DataFrame, want: pd.DataFrame) -> dict:
    """Row-for-row comparison keyed by doc_id; every column must match."""
    cols = sorted(want.columns)
    g = got[cols].sort_values("doc_id").reset_index(drop=True)
    w = want[cols].sort_values("doc_id").reset_index(drop=True)
    counts = g["doc_id"].value_counts()
    n_dup = int((counts[counts > 1] - 1).sum())
    g1 = g.drop_duplicates("doc_id").set_index("doc_id")
    w1 = w.set_index("doc_id")
    missing = ~w1.index.isin(g1.index)
    common = w1.index[~missing]
    a, b = g1.loc[common], w1.loc[common]
    bad = np.zeros(len(common), dtype=bool)
    for c in a.columns:
        bad |= a[c].astype(object).to_numpy() != b[c].astype(object).to_numpy()
    return {
        "docs": len(w),
        "missing": int(missing.sum()),
        "duplicated": n_dup,
        "mismatched": int(bad.sum()),
        "failed": int(missing.sum()) + n_dup + int(bad.sum()),
    }

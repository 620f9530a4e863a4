"""Capture .explain('formatted') for the headline queries -> BENCH/PLANS.md.

The plan review is part of the performance loop: confirm filters/column
pruning reach the parquet scan, joins broadcast where a side is small,
Python appears only as ArrowEvalPython/MapInPandas nodes, and relational
glue stays inside WholeStageCodegen.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADER = """# Physical-plan audit

Generated by `python tools/explain_plans.py` (re-run after operator
changes). What the plans show, and why each is the plan we want:

- **qf_pipeline_full** — parquet scan (ReadSchema pruned; html never
  leaves the scan) -> one round-robin Exchange (spreads the single
  small-file split; no-op at 100 TB where the scan has thousands of
  splits) -> ONE MapInPandas: the whole scoring pipeline is a single
  Python stage, one JVM->Python Arrow exchange, zero shuffles.
- **qf_keep_cheap** — scan -> one round-robin Exchange -> ONE
  MapInPandas: the score stage's own signals_frame + keep_decisions,
  so the oracle checks the kernels that label documents.
- **qf_token_budget** (round 5) — n_words from the signals MapInPandas
  (behind its round-robin Exchange), then a distributed prefix-sum: ONE
  range Exchange carrying (doc_id, n_words) only (hot scores split
  across partitions on the id tie-break; every partition ~n/P rows
  regardless of the score distribution) -> sort-within-partitions ->
  ONE MapInPandas cumsum (cached) -> tiny per-partition max agg to the
  driver -> broadcast-joined offsets. No window partitioned by a data
  value anywhere — the r4 hot-score straggler is structurally
  impossible.
- **qf_web_pipeline** — scan -> one round-robin Exchange -> the url,
  html-extraction, Gopher, C4 and toxicity projections -> ONE
  MapInPandas (langid + scrub, the score stage's kernels) -> the
  first-failing-stage drop_reason projection. No shuffle after the
  round-robin.
- **ngram_counts** — transform/sequence/explode/groupBy codegen'd;
  partial HashAggregate before the Exchange (map-side combine), so the
  shuffle carries (gram, partial_count), not raw grams.
- **dedup_exact** — md5 groupBy with partial agg; one shuffle keyed on
  the hash — the minimum for exact dedup.
- **dedup_minhash** — the shingle-hash + signature MapInPandas subtree
  appears once (persist + reuse) feeding the band join and both verify
  sides; candidate + verify joins broadcast at this SF (AQE picks SMJ
  at scale; the band shuffle carries (band, bucket-hash) only).
- **dedup_jaccard** — shingle-hash MapInPandas -> df-cap aggregation
  (map-side partial) -> inverted-index self-join on the int64 shingle
  hash; the frequency cap bounds the worst bucket before the join.
- **qf_decontaminate** — the corpus side is scan -> Generate (n-gram
  explode) -> BroadcastHashJoin with NO Exchange: the whole-corpus scan
  never shuffles. The only Exchanges are the tiny bench-dim distinct
  and the two-phase count-distinct over MATCHED rows (the contaminated
  fraction), exactly the 100 TB shape.
- **qf_corpus_rollup** — one Expand feeds one HashAggregate pair
  (partial map-side combine before the single Exchange): all three
  grouping levels in one pass, shuffle carries (source x lang) rows.
- **qf_url_dedup** (round 5) — winner-join URL dedup: hash-agg
  max(warc_ts)+count per norm_url (map-side partial collapses a
  million-times-recrawled page per partition), same-key join back
  (partitioning reused) and a second primitive-typed hash agg for the
  max-id tie-break. No Window, no SortAggregate — max(struct) would
  sort, and one BIGINT cannot pack (micros ts, 10^12-range id).

"""

QUERIES = [
    "qf_pipeline_full", "qf_keep_cheap", "ngram_counts", "dedup_exact",
    "dedup_jaccard", "dedup_minhash", "zh_correct_full",
    "qf_gopher_rules", "qf_web_pipeline", "qf_para_dedup", "dedup_substr",
    "nb_langid", "qf_decontaminate", "qf_corpus_rollup",
    "qf_token_budget", "qf_url_dedup",
]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as E
    from pycorrector_spark.session import get_spark

    spark = get_spark("plans", master="local[4]")
    qs = E.queries()
    out = [HEADER, "# Physical plans (explain formatted) — sf0.01\n"]
    for name in QUERIES:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"\n## {name}\n\n```\n{buf.getvalue().strip()}\n```\n")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCH", "PLANS.md")
    with open(path, "w") as f:
        f.write("".join(out))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()

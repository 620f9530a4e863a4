"""Compare two sets of untraced results, metric by metric and workload by
workload, against the bounds in BENCHMARK.json.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds detail files written by ``run.py`` (copies of
``perfbench/results/`` from two commits). Results are paired only when
every file of both sets has the same dims flavor, artifact fingerprint
and nproc; otherwise the comparison is refused (exit code 2).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PAIRING_KEYS = ("dims_flavor", "artifact_fingerprint", "nproc")


def load(d: str) -> list:
    out = []
    for path in sorted(glob.glob(os.path.join(d, "*_trace0.json"))):
        with open(path, encoding="utf-8") as f:
            out.append(json.load(f))
    if not out:
        raise SystemExit(f"no *_trace0.json results in {d}")
    return out


def spread(values) -> float:
    """Interquartile distance as a share of the median."""
    if len(values) < 2:
        return float("nan")
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("nan")


def compare(base: list, new: list, spec: dict) -> list:
    keys = {tuple(r["provenance"][k] for k in PAIRING_KEYS) for r in base + new}
    if len(keys) != 1:
        raise ValueError(f"refusing to pair results measured on {sorted(keys)} "
                         f"({', '.join(PAIRING_KEYS)})")
    rows = []
    for wl in sorted({r["workload"] for r in base + new}):
        for m in spec["end_to_end"]:
            b = [r["metrics"][m["name"]]["value"] for r in base if r["workload"] == wl]
            n = [r["metrics"][m["name"]]["value"] for r in new if r["workload"] == wl]
            if not b or not n:
                continue
            bm, nm = statistics.median(b), statistics.median(n)
            worse = (bm - nm) / bm if m["better"] == "higher" else (nm - bm) / bm
            if spread(b) > m["bound"]:
                verdict = "unresolved"
            else:
                verdict = "regressed" if worse > m["bound"] else "ok"
            rows.append({"workload": wl, "metric": m["name"], "unit": m["unit"],
                         "base_median": bm, "new_median": nm, "base_spread": spread(b),
                         "new_spread": spread(n), "worse_frac": worse,
                         "bound": m["bound"], "runs": (len(b), len(n)), "verdict": verdict})
    return rows


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    try:
        rows = compare(load(argv[0]), load(argv[1]), spec)
    except ValueError as e:
        print(f"compare: {e}", file=sys.stderr)
        return 2
    for r in rows:
        print(f"{r['workload']:10s} {r['metric']:12s} base {r['base_median']:.4g} "
              f"new {r['new_median']:.4g} {r['unit']}  worse {r['worse_frac']:+.3f} "
              f"(bound {r['bound']}, spreads {r['base_spread']:.3f}/{r['new_spread']:.3f}, "
              f"runs {r['runs'][0]}/{r['runs'][1]})  {r['verdict']}")
    return 1 if any(r["verdict"] == "regressed" for r in rows) else 0


if __name__ == "__main__":
    sys.exit(main())

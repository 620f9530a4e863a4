"""Self-tests of the benchmark: seeded inputs, the oracle check, and that
tracing changes no output. Spark-free; run with
``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import json
import subprocess
import time
from types import SimpleNamespace

import pandas as pd
import pytest

from perfbench import gen, oracle
from perfbench.provenance import fingerprint
from perfbench.run import alive, compact, descendants, stop_processes
from perfbench.trace import Tracer, self_times, summarize
from perfbench.workloads import WORKLOADS, same_outputs, score_serial, serial_batches


@pytest.fixture(scope="module")
def art():
    from pycorrector_spark.operators.score import build_artifacts

    return build_artifacts()


def _bytes(df, tmp_path, name):
    path = tmp_path / name
    gen.write_parquet(df, str(path))
    return path.read_bytes()


@pytest.mark.parametrize("make", [gen.web_en, gen.zh_crawl])
def test_same_seed_same_bytes_other_seed_differs(make, tmp_path):
    a = _bytes(make(7, 300), tmp_path, "a.parquet")
    b = _bytes(make(7, 300), tmp_path, "b.parquet")
    c = _bytes(make(8, 300), tmp_path, "c.parquet")
    assert a == b
    assert a != c


def test_zh_crawl_is_zh_heavy_with_distinct_fragments():
    from pycorrector_spark.textops import is_cjk_string, split_sentences_by_symbol

    df = gen.zh_crawl(3, 600)
    assert (df["lang"] == "zh").mean() >= 0.7
    frags = [f for t in df["text"]
             for f, _ in split_sentences_by_symbol(t, include_symbol=False)
             if is_cjk_string(f)]
    assert len(set(frags)) / len(frags) > 0.6


@pytest.fixture(scope="module")
def scored(art):
    """(input rows, serial output, oracle) for a small zh_crawl sample."""
    df = gen.zh_crawl(5, 60).drop(columns=["html"])
    _, out = score_serial([df], art)
    golden = oracle.golden_rows(art, df["text"], processes=1)
    return df[["url", "text"]], out, golden


def test_check_passes_on_program_output(scored):
    expected, out, golden = scored
    res = oracle.check_scored(out, expected, golden)
    assert res["failed"] == 0, res


def _corrupted(out, how):
    out = out.copy()
    i = int(out.index[out["keep"]][0])
    if how == "scrub_byte":
        t = out.at[i, "scrubbed_text"]
        out.at[i, "scrubbed_text"] = t[:-1] + chr(ord(t[-1]) ^ 1)
    elif how == "keep":
        out.at[i, "keep"] = not out.at[i, "keep"]
    elif how == "drop_row":
        out = out.drop(index=i)
    elif how == "dup_row":
        out = pd.concat([out, out.loc[[i]]], ignore_index=True)
    return out


@pytest.mark.parametrize("how", ["scrub_byte", "keep", "drop_row", "dup_row"])
def test_check_catches_one_corruption(scored, how):
    expected, out, golden = scored
    res = oracle.check_scored(_corrupted(out, how), expected, golden)
    assert res["failed"] == 1, res


def _audit(docs_out, run_id="r1"):
    parts = docs_out.assign(partition_id=[i % 3 for i in range(len(docs_out))])
    per = parts.groupby("partition_id").agg(
        n_rows=("url", "size"), n_keep=("keep", "sum")).reset_index()
    summary = pd.DataFrame({"partition_id": [-1], "n_rows": [len(docs_out)],
                            "n_keep": [int(docs_out["keep"].sum())]})
    return pd.concat([per, summary], ignore_index=True).assign(run_id=run_id)


@pytest.mark.parametrize("how", [None, "drop_row", "dup_row"])
def test_resume_check_catches_dropped_or_duplicated_docs_out_row(scored, how):
    expected, out, golden = scored
    audit = _audit(out)
    docs_out = out if how is None else _corrupted(out, how)
    res = oracle.check_resume(docs_out, audit, expected, golden)
    assert (res["failed"] == 0) == (how is None), res


def test_resume_check_catches_audit_mismatch(scored):
    expected, out, golden = scored
    audit = _audit(out)
    audit.loc[audit["partition_id"] == -1, "n_rows"] += 1
    assert oracle.check_resume(out, audit, expected, golden)["failed"] > 0


def test_curation_check_catches_a_flipped_flag():
    want = pd.DataFrame({"doc_id": [1, 2, 3], "keep": [True, False, True]})
    assert oracle.check_curation(want.copy(), want)["failed"] == 0
    got = want.copy()
    got.loc[1, "keep"] = True
    assert oracle.check_curation(got, want)["failed"] == 1


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_traced_and_untraced_outputs_identical(art, name):
    wl = WORKLOADS[name]
    df = wl.make(11, 120)
    sample = SimpleNamespace(input=df.drop(columns=["html"]), serial_docs=80)
    batches = serial_batches(sample, 11, art.cfg)
    _, plain = score_serial(batches, art)
    tr = Tracer()
    _, traced = score_serial(batches, art, tr)
    assert same_outputs(plain, traced)
    assert tr.spans and not tr._undo  # spans recorded, every patch undone


def test_tracer_restores_and_self_times_add_up():
    class Work:
        def outer(self):
            return self.inner() + self.inner()

        def inner(self):
            return sum(range(1000))

    w = Work()
    with Tracer() as tr:
        tr.span(w, "outer", "outer")
        tr.span(w, "inner", "inner")
        w.outer()
    assert "outer" not in vars(w) and "inner" not in vars(w)
    assert [s[0] for s in tr.spans] == ["outer", "inner", "inner"]
    assert tr.spans[1][3] == tr.spans[2][3] == 0
    root = tr.spans[0][2] - tr.spans[0][1]
    assert sum(self_times(tr.spans)) == root
    assert summarize(tr.spans)["inner"]["calls"] == 2


def test_fingerprint_ignores_token(art):
    from pycorrector_spark.operators.score import build_artifacts

    other = build_artifacts()
    assert other.token != art.token
    assert fingerprint(other) == fingerprint(art)


def test_compact_line_holds_only_contract_keys():
    detail = {"correct": True, "attempted": 5, "failed": 0, "checks": ["x" * 10_000],
              "metrics": {"docs_per_s": {"value": 1.5, "unit": "docs/s", "runs": [1] * 999}}}
    line = json.dumps(compact(detail))
    assert json.loads(line) == {"correct": True, "attempted": 5, "failed": 0,
                                "metrics": {"docs_per_s": {"value": 1.5, "unit": "docs/s"}}}


def test_stop_processes_waits_for_children_and_grandchildren():
    # the grandchild outlives its parent's exit unless it is stopped too
    child = subprocess.Popen(["sh", "-c", "sleep 60 & sleep 60"])
    deadline = time.monotonic() + 5
    while not (tree := descendants(child.pid)) and time.monotonic() < deadline:
        time.sleep(0.05)
    assert tree
    pids = [child.pid] + tree
    assert all(alive(p) for p in pids)
    stop_processes(grace_s=0.2)
    assert not any(alive(p) for p in pids)

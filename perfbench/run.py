"""Quality-filter benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload web_en --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. With ``--trace 0`` it sets the program up
three times (``setup_s``), runs one untimed warm-up job whose output is
checked against the oracle, then runs complete jobs back to back for
``--seconds`` (``docs_per_s``, ``peak_rss_mb``). With ``--trace 1``
it makes the separate traced run of NOTES.md and reports the per-layer
metrics instead. The last line of stdout is one compact JSON object; the
full detail goes to ``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RESULTS = os.path.join(ROOT, "perfbench", "results")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and let the workers import the program."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # a fixed, pre-touched 1 GB driver heap (workloads.session) keeps the
    # machine's memory use small and JVM RSS the same from run to run
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pycorrector_spark", "__init__.py")):
        print(f"perfbench: no pycorrector_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)

    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        detail = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there
    os.makedirs(RESULTS, exist_ok=True)
    path = os.path.join(RESULTS, f"{args.workload}_seed{args.seed}_trace{args.trace}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(detail, f, indent=1, sort_keys=True, default=str)
    print(json.dumps(compact(detail)))
    return 0


def stop_processes(grace_s: float = 30.0) -> None:
    """Stop every process this run started and wait until each has ended.

    Left alone, the Spark JVM outlives this process by seconds (it exits
    when it notices its stdin closed), the Python worker daemon with it,
    and the oracle pool's resource tracker until its pipe closes. So: stop
    the SparkContext, close the JVM's stdin and wait for it, stop the
    resource tracker, then wait for every descendant seen before the
    shutdown, escalating to SIGTERM and SIGKILL after ``grace_s``.
    """
    tree = descendants(os.getpid())
    try:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.stop()
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=grace_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
    except Exception:
        traceback.print_exc()
    try:
        from multiprocessing import resource_tracker

        resource_tracker._resource_tracker._stop()
    except Exception:
        traceback.print_exc()
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        for pid in tree:
            if sig is not None and alive(pid):
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        deadline = time.monotonic() + (grace_s if sig is None else 5.0)
        while any(alive(p) for p in tree) and time.monotonic() < deadline:
            time.sleep(0.05)
        if not any(alive(p) for p in tree):
            return
    print(f"perfbench: processes still running: {[p for p in tree if alive(p)]}",
          file=sys.stderr)


def descendants(root: int) -> list:
    """Pids of every live process below ``root``, from ``/proc``."""
    children: dict = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat", encoding="utf-8", errors="replace") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def alive(pid: int) -> bool:
    """Whether ``pid`` is still running (a zombie has ended; one of this
    process's own is reaped here)."""
    try:
        if os.waitpid(pid, os.WNOHANG)[0] == pid:
            return False
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8", errors="replace") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def compact(detail: dict) -> dict:
    """The bounded last line: the contract keys and one value per metric."""
    return {
        "correct": detail["correct"],
        "attempted": detail["attempted"],
        "failed": detail["failed"],
        "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                    for k, v in detail["metrics"].items()},
    }


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)

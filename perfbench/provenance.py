"""What a result was measured on; ``compare.py`` refuses to pair results
whose dims flavor, artifact fingerprint or nproc differ."""

from __future__ import annotations

import hashlib
import os
import pickle
import platform
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _feed(h, o) -> None:
    """Hash ``o`` independently of set/dict iteration order (string
    hashing is salted per process, so pickling a set is not stable)."""
    if isinstance(o, np.ndarray):
        h.update(f"A{o.dtype}{o.shape}".encode())
        h.update(np.ascontiguousarray(o).tobytes())
    elif isinstance(o, dict):
        h.update(b"D%d" % len(o))
        for k in sorted(o, key=repr):
            _feed(h, k)
            _feed(h, o[k])
    elif isinstance(o, (set, frozenset)):
        h.update(b"S%d" % len(o))
        for k in sorted(o, key=repr):
            _feed(h, k)
    elif isinstance(o, (list, tuple)):
        h.update(b"L%d" % len(o))
        for k in o:
            _feed(h, k)
    elif o is None or isinstance(o, (str, bytes, int, float, bool, np.generic)):
        h.update(repr(o).encode())
    elif hasattr(o, "__dict__"):
        h.update(type(o).__qualname__.encode())
        _feed(h, vars(o))
    else:
        h.update(pickle.dumps(o))


def fingerprint(art) -> str:
    """sha256 of the artifact bundle, its random ``token`` excluded."""
    h = hashlib.sha256()
    _feed(h, {k: v for k, v in vars(art).items() if k != "token"})
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    """HEAD of the checkout's git repository, or None outside one."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD"), encoding="utf-8") as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(git, ref)
        if os.path.isfile(path):
            with open(path, encoding="utf-8") as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs"), encoding="utf-8") as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        return None
    return None


def cpu_model() -> str | None:
    try:
        with open("/proc/cpuinfo", encoding="utf-8") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        return None
    return None


def provenance(art, seed: int, seconds: float, trace: bool, sizes: dict) -> dict:
    import pandas
    import pyarrow
    import pyspark

    from pycorrector_spark.dictio import data_dir

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu": cpu_model(),
        "dims_flavor": "full" if data_dir() else "fallback",
        "artifact_fingerprint": fingerprint(art),
        "git_commit": git_commit(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": np.__version__,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "sizes": sizes,
        "argv": sys.argv[1:],
    }

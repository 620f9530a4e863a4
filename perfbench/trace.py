"""In-memory spans recorded by wrappers the benchmark installs around the
program's public functions (the program itself carries no tracing).

A span is ``[name, start_ns, end_ns, parent, batch, meta]``; ``parent`` is
the index of the enclosing span (-1 at the root) and ``batch`` the id of
the Arrow batch being processed. Spans are appended in start order by one
thread, so children always follow their parent.
"""

from __future__ import annotations

import time
from collections import Counter, defaultdict


class Tracer:
    def __init__(self):
        self.spans: list = []
        self.counts: Counter = Counter()
        self.batch = -1
        self._stack: list = []
        self._undo: list = []

    def span(self, owner, attr: str, name: str, meta=None):
        """Replace ``owner.attr`` with a wrapper that records one span per
        call; ``meta(args, result)`` is stored with the span."""
        orig = getattr(owner, attr)
        spans, stack, clock = self.spans, self._stack, time.perf_counter_ns

        def wrapper(*args, **kwargs):
            rec = [name, 0, 0, stack[-1] if stack else -1, self.batch, None]
            stack.append(len(spans))
            spans.append(rec)
            rec[1] = clock()
            try:
                out = orig(*args, **kwargs)
            finally:
                rec[2] = clock()
                stack.pop()
            if meta is not None:
                rec[5] = meta(args, out)
            return out

        self._patch(owner, attr, wrapper)

    def count(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` with a wrapper that only counts calls
        (for per-word functions, where a span would cost more than the call)."""
        orig = getattr(owner, attr)
        counts = self.counts

        def wrapper(*args, **kwargs):
            counts[name] += 1
            return orig(*args, **kwargs)

        self._patch(owner, attr, wrapper)

    def _patch(self, owner, attr, wrapper):
        own = attr in vars(owner)
        self._undo.append((owner, attr, vars(owner).get(attr), own))
        setattr(owner, attr, wrapper)

    def close(self):
        """Restore every patched attribute, newest first."""
        while self._undo:
            owner, attr, orig, own = self._undo.pop()
            if own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


def self_times(spans) -> list:
    """Per-span self time in ns: duration minus the children's durations."""
    child = [0] * len(spans)
    for s in spans:
        if s[3] >= 0:
            child[s[3]] += s[2] - s[1]
    return [s[2] - s[1] - c for s, c in zip(spans, child)]


def summarize(spans) -> dict:
    """{name: {calls, total_s, self_s}} over all spans."""
    own = self_times(spans)
    out: dict = defaultdict(lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0})
    for s, st in zip(spans, own):
        d = out[s[0]]
        d["calls"] += 1
        d["total_s"] += (s[2] - s[1]) / 1e9
        d["self_s"] += st / 1e9
    return dict(out)


def by_parent(spans, name: str, parent: str) -> list:
    """Spans called ``name`` whose direct parent is called ``parent``."""
    return [s for s in spans if s[0] == name and s[3] >= 0 and spans[s[3]][0] == parent]

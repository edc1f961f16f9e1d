"""In-memory spans for the traced run.

A span is ``(name, start, end, trace)`` in epoch seconds; ``trace`` is the
trace id (``workload/unit/batch``). Spans come from three places: the
wrappers :func:`wrap` installs around program functions, the streaming
listener's per-batch durations, and the Spark event log. Because they are
recorded on different threads (foreachBatch bodies run on a callback
thread) and clocks of millisecond resolution, parents are assigned after
the run by interval containment: a span's parent is the shortest span
that encloses it.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict

from metrics import union_length


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, list] = defaultdict(list)
        self.trace = ""
        self._restore: list = []
        self.bookkeeping_s = 0.0

    def add(self, name: str, start: float, end: float, trace: str | None = None) -> None:
        self.spans.append(
            {"name": name, "start": start, "end": max(start, end), "trace": trace or self.trace}
        )

    def wrap(self, module, attr: str, name: str, record_result: bool = False) -> None:
        """Replace ``module.attr`` by a wrapper that records a span named
        ``name`` (and, with ``record_result``, the returned value under
        ``counts[name]``). Patch the module the caller looks the name up
        in. :meth:`unwrap` restores every original."""
        original = getattr(module, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            t0 = time.time()
            try:
                result = original(*args, **kwargs)
            finally:
                t1 = time.time()
                tracer.add(name, t0, t1)
            if record_result:
                tracer.counts[name].append(result)
            tracer.bookkeeping_s += time.time() - t1
            return result

        setattr(module, attr, wrapper)
        self._restore.append((module, attr, original))

    def unwrap(self) -> None:
        while self._restore:
            module, attr, original = self._restore.pop()
            setattr(module, attr, original)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": assign_parents(self.spans)}, fh)


def assign_parents(spans: list[dict]) -> list[dict]:
    """Copy of ``spans`` (sorted by start) where each carries ``id`` and
    ``parent`` (index of the shortest enclosing span, or ``None``). Units
    run one after another, so containment never crosses a trace; a span
    recorded without a batch id takes its parent's trace id."""
    out = sorted(
        (dict(s) for s in spans), key=lambda s: (s["start"], -(s["end"] - s["start"]))
    )
    for i, s in enumerate(out):
        s["id"] = i
        best = None
        for j, p in enumerate(out):
            if j == i:
                continue
            if p["start"] <= s["start"] and s["end"] <= p["end"]:
                longer = (p["end"] - p["start"], -j) > (s["end"] - s["start"], -i)
                # on equal intervals the later (deeper) candidate wins
                if longer and (
                    best is None or p["end"] - p["start"] <= out[best]["end"] - out[best]["start"]
                ):
                    best = j
        s["parent"] = best
        if best is not None and out[best]["trace"].startswith(s["trace"]):
            s["trace"] = out[best]["trace"]
    return out


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span name: each span's duration minus the part of
    it its children cover, summed by name. Over a tree with one root the
    values sum to the root's duration."""
    tree = assign_parents(spans)
    children: dict[int, list] = defaultdict(list)
    for s in tree:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in tree:
        out[s["name"]] += (s["end"] - s["start"]) - union_length(children[s["id"]])
    return dict(out)

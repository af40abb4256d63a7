"""Spans and counters for the traced run.

The tracer wraps module functions of the engine's layers from outside
(the engine itself is unchanged) and records a span per call: name,
start, end, parent span and op id. Spans stay in memory and are turned
into per-layer numbers at the end of the run. Wrappers are installed
only around the traced operations of the traced run.

Spark work per op is counted through a per-op job group
(``setJobGroup``) and the status tracker: jobs, their stages, and the
stages' tasks.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict[tuple[str, str], float] = defaultdict(float)
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op: tuple[str, int] | None = None  # (family, op number)

    # ---- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "op": self.op, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float = 1.0) -> None:
        family = self.op[0] if self.op else "setup"
        self.counts[(family, name)] += value

    # ---- wrappers --------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper. ``before(args)``
        runs ahead of the call (for memo-miss counts), ``after(args,
        result)`` after it (for row counts)."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if before is not None:
                before(args)
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if after is not None:
                after(args, out)
            return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ---- results ---------------------------------------------------------
    def durations(self, family: str) -> dict[str, list[float]]:
        """Span name -> durations (ms) of that span within ops of ``family``."""
        out: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            if s["op"] is not None and s["op"][0] == family:
                out[s["name"]].append((s["end"] - s["start"]) * 1e3)
        return out

    def unattributed_ms(self, family: str) -> tuple[float, float]:
        """Mean per op of the op span's wall, and of the part of it no
        named layer span covers. The ``op`` and ``query.plan`` spans are
        containers: their direct children count whole (a child's own
        children nest inside it), their own time outside those children
        is the remainder. Named children plus remainder equal the total."""
        kids: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                kids[s["parent"]].append(i)

        def dur(i: int) -> float:
            return (self.spans[i]["end"] - self.spans[i]["start"]) * 1e3

        ops = [i for i, s in enumerate(self.spans)
               if s["name"] == "op" and s["op"] is not None and s["op"][0] == family]
        total = rest = 0.0
        for i in ops:
            total += dur(i)
            rest += dur(i)
            frontier = list(kids[i])
            while frontier:
                c = frontier.pop()
                if self.spans[c]["name"] == "query.plan":
                    frontier.extend(kids[c])
                else:
                    rest -= dur(c)
        n = max(1, len(ops))
        return total / n, rest / n


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) that ran under job group ``group``."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is not None and si.numTasks:
                stages += 1
                tasks += si.numTasks
    return len(jobs), stages, tasks

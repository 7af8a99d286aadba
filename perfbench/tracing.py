"""Span recorder and Spark job counters used by the traced benchmark run.

Spans are recorded by the benchmark around calls into the library's public
functions; the library itself is not instrumented. A span has a name, a
start and end (``time.perf_counter`` seconds), the id of the span that
encloses it and the id of the operation it belongs to. Spans stay in
memory and are written as one JSON file when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing, so the
    untraced run pays one generator frame per ``span`` call and no more."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> list[tuple[dict, float]]:
        """(span, self seconds): each span's duration minus the time its
        direct children cover. Children of one span run one after another
        on the client thread, so their durations do not overlap."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [(s, (s["end"] - s["start"]) - child[s["id"]]) for s in self.spans]

    def per_op(self, name: str, inclusive: bool = False) -> dict[int | None, float]:
        """Seconds in spans called ``name``, summed per operation: self time,
        or with ``inclusive`` the whole span including its children."""
        out: dict[int | None, float] = {}
        for s, t in self.self_times():
            if s["name"] == name:
                if inclusive:
                    t = s["end"] - s["start"]
                out[s["op"]] = out.get(s["op"], 0.0) + t
        return out

    def median(self, name: str, inclusive: bool = False) -> float:
        """Median per-operation time of ``name``, over the traced
        operations that entered it (0 when none did)."""
        per = [t for op, t in self.per_op(name, inclusive).items() if op is not None]
        return statistics.median(per) if per else 0.0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


class SparkCounter:
    """Jobs, stages and tasks launched by one operation, read from outside
    through the status tracker.

    Each operation runs under a fresh job group (a group's job list grows
    for the group's whole life, so groups are never reused). Jobs that
    library code launches from its own threads (``build_segment`` runs its
    table writes from a thread pool) do not carry the caller's group; for
    such calls they are counted as the set difference of the group-less
    job ids across the call. Counts are resolved after the run, once the
    listener bus has caught up with the finished jobs."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self._calls: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def count(self, key: str, threads: bool = False):
        """Count the jobs of the enclosed block under ``key``. Blocks nest:
        an enclosing block's count includes the jobs of the blocks inside.
        ``threads=True`` also counts group-less jobs started during the
        block, for library calls that launch jobs from their own threads."""
        if not self.enabled:
            yield
            return
        idx = len(self._calls)
        group = f"perfbench-{idx}"
        tracker = self.sc.statusTracker()
        call = {"key": key, "group": group,
                "parent": self._stack[-1] if self._stack else None,
                "before": set(tracker.getJobIdsForGroup(None)) if threads else None}
        self._calls.append(call)
        self._stack.append(idx)
        self.sc.setJobGroup(group, key, interruptOnCancel=False)
        try:
            yield
        finally:
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._calls[self._stack[-1]]["group"], key,
                                    interruptOnCancel=False)
            else:
                self.sc.setJobGroup(None, None)
            before = call.pop("before")
            call["stray"] = (set(tracker.getJobIdsForGroup(None)) - before
                             if before is not None else set())

    def resolve(self) -> dict[str, list[dict]]:
        """{key: [{"jobs", "stages", "tasks"} per counted call]}."""
        time.sleep(0.5)  # let the listener bus post the last job/stage ends
        tracker = self.sc.statusTracker()
        jobsets = [set(tracker.getJobIdsForGroup(c["group"])) | c["stray"]
                   for c in self._calls]
        # a nested call starts after its parent, so it has the larger index
        for i in range(len(self._calls) - 1, -1, -1):
            parent = self._calls[i]["parent"]
            if parent is not None:
                jobsets[parent] |= jobsets[i]
        out: dict[str, list[dict]] = {}
        for call, jobs in zip(self._calls, jobsets):
            key = call["key"]
            stages = tasks = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    st = tracker.getStageInfo(sid)
                    if st is not None and st.numCompletedTasks > 0:
                        stages += 1
                        tasks += st.numCompletedTasks
            out.setdefault(key, []).append(
                {"jobs": len(jobs), "stages": stages, "tasks": tasks})
        return out

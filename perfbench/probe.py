"""Measurement helpers: spans, Spark status-store diffs and JVM memory.

Nothing here reaches into the library; every number is taken from
outside, around the benchmark's own calls into ``graphlite_spark``.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# per-stage counters summed over the stages a call submitted
STAGE_FIELDS = (
    "numTasks",
    "executorRunTime",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


class StatusProbe:
    """Diffs Spark's ``AppStatusStore`` stage list around a call.

    ``mark()`` returns the highest stage id seen so far; ``diff(mark)``
    sums the counters of every stage with a larger id and finds the task
    run-time skew (max / median) of the stage that ran longest.  Both
    drain the listener bus first, because the store is fed
    asynchronously."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        jvm, gw = sc._jvm, sc._gateway
        # stageList(java.util.List, boolean, boolean, double[], java.util.List):
        # Python None is rejected, so pass typed empty arguments (all
        # statuses, no details, no summaries)
        self._args = (
            jvm.java.util.ArrayList(),
            False,
            False,
            gw.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        self._quantiles = gw.new_array(jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    def _stages(self):
        self._jsc.listenerBus().waitUntilEmpty()
        return self._store.stageList(*self._args)

    def mark(self) -> int:
        # stageList returns the newest stage first
        seq = self._stages()
        return seq.apply(0).stageId() if seq.length() else -1

    def diff(self, mark: int) -> dict[str, float]:
        seq = self._stages()
        out = {f: 0.0 for f in STAGE_FIELDS}
        out["stages"] = 0.0
        longest, longest_rt = None, -1
        # walk from the newest stage back to the mark; a SKIPPED stage
        # reused earlier shuffle output and ran no tasks
        for i in range(seq.length()):
            st = seq.apply(i)
            if st.stageId() <= mark:
                break
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for f in STAGE_FIELDS:
                out[f] += float(getattr(st, f)())
            if st.executorRunTime() > longest_rt:
                longest, longest_rt = st, st.executorRunTime()
        out["task_skew"] = 0.0
        if longest is not None:
            dist = self._store.taskSummary(
                longest.stageId(), longest.attemptId(), self._quantiles
            )
            if dist.isDefined():
                rt = dist.get().executorRunTime()
                med, mx = rt.apply(0), rt.apply(1)
                out["task_skew"] = mx / med if med > 0 else 1.0
        return out


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    counters: dict[str, float] = field(default_factory=dict)


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    Disabled, ``span`` only yields.  Enabled, it records (name, start,
    end, parent, run id) and, given a :class:`StatusProbe`, the stage
    counters of the call; the probe's own work is recorded as a
    ``trace.probe`` child span so it never counts as a layer's self
    time."""

    PROBE = "trace.probe"

    def __init__(self, enabled: bool, probe: StatusProbe | None = None):
        self.enabled = enabled
        self.probe = probe
        self.spans: list[Span] = []
        self.run_id = ""
        self._stack: list[int] = []

    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        now = time.perf_counter()
        self.spans.append(Span(name, now, now, parent, self.run_id))
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def _close(self, idx: int) -> None:
        self._stack.pop()
        self.spans[idx].end = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        mark = None
        if self.probe is not None:
            p = self._open(self.PROBE)
            mark = self.probe.mark()
            self._close(p)
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)
            if self.probe is not None:
                p = self._open(self.PROBE)
                self.spans[idx].counters = self.probe.diff(mark)
                self._close(p)

    def of_run(self, run_id: str) -> list[Span]:
        return [s for s in self.spans if s.run_id == run_id]

    def self_times(self, run_id: str) -> dict[str, float]:
        """Seconds per span name in one run, minus the time covered by
        child spans (children never overlap: the calls are sequential)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            if s.run_id == run_id:
                out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - c
        return out

    def to_json(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "run_id": s.run_id,
                "counters": s.counters,
            }
            for s in self.spans
        ]


class JvmMemory:
    """Peak resident set of the driver JVM, from ``/proc``.

    ``reset()`` sets the kernel's high-water mark back to the current RSS
    (``clear_refs`` value 5), so each timed job reports its own peak."""

    def __init__(self, pid: int):
        self.pid = pid

    def reset(self) -> None:
        with open(f"/proc/{self.pid}/clear_refs", "w") as f:
            f.write("5")

    def peak_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

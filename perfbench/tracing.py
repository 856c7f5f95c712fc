"""Spans, per-call Spark counters and the statistics the benchmark reports.

A :class:`Tracer` wraps each call into an engine layer. With tracing off it
only times the call (wall clock and, where asked, CPU seconds). With tracing
on it also

- records a span (name, start, end, parent, run id) kept in memory until the
  run ends, and
- runs the call under its own Spark job group and, when the call returns,
  reads that group's jobs, stages and tasks from Spark's status store.

Everything is measured from outside the engine: no engine code is touched.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import math
import os
import time
import uuid
from dataclasses import dataclass, field


# ------------------------------------------------------------------ statistics
def tail_percentile(n: int) -> int | None:
    """The highest whole percentile with at least ten of ``n`` samples above
    it under :func:`percentile`'s interpolation, or None when ``n`` is too
    small for any (``n <= 10``). The p-th percentile sits at sorted position
    (n-1)p/100, which has ten samples above it while that position is below
    n-10."""
    if n <= 10:
        return None
    return math.ceil(100.0 * (n - 10) / (n - 1)) - 1


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolation percentile (numpy's default rule)."""
    if not values:
        return 0.0
    s = sorted(values)
    pos = (len(s) - 1) * pct / 100.0
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def latency_summary(values: list[float]) -> dict:
    """Median and tail (see :func:`tail_percentile`) of successful calls. With
    ten samples or fewer no percentile qualifies; the tail is then the
    maximum and ``tail_pct`` is 100."""
    pct = tail_percentile(len(values))
    return {
        "n": len(values),
        "p50": percentile(values, 50),
        "tail_pct": 100 if pct is None else pct,
        "tail": max(values, default=0.0) if pct is None else percentile(values, pct),
    }


def _stat(path: str) -> list[str]:
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def _ticks(fields: list[str]) -> int:
    """utime + stime + cutime + cstime from a ``/proc/<pid>/stat`` line."""
    return sum(int(v) for v in fields[11:15])


def cpu_seconds() -> float:
    """CPU seconds used so far by this process and every live descendant:
    the JVM it launched and the JVM's Python workers. JIT compilation and
    garbage collection count, as they are CPU the engine costs its users."""
    root = os.getpid()
    procs: dict[int, tuple[int, int]] = {}
    for e in os.listdir("/proc"):
        if e.isdigit():
            try:
                f = _stat(f"/proc/{e}/stat")
            except OSError:  # exited while listing
                continue
            procs[int(e)] = (int(f[1]), _ticks(f))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def e2e_values(lat: list[float], op_cpu_s: float, **batch) -> dict:
    """A workload's end-to-end figures: per-operation wall latency (median,
    tail, count), CPU seconds per operation, and its batch figures."""
    s = latency_summary(lat)
    return {"op_p50_s": s["p50"], "op_tail_s": s["tail"], "op_tail_pct": s["tail_pct"],
            "op_n": s["n"], "op_cpu_s": op_cpu_s, **batch}


def failed_ratio(attempted: int, failed: int) -> float:
    if attempted <= 0:
        raise ValueError("no operations attempted")
    return failed / attempted


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    sid: int
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, spans: list[Span]) -> float:
    """Duration of ``span`` minus the part of its interval that its direct
    children cover (overlapping children are counted once)."""
    iv = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.sid
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in iv:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return span.duration - covered


# ---------------------------------------------------------------- Spark status
_ZERO = {
    "jobs": 0, "stages": 0, "tasks": 0, "shuffle_read_mb": 0.0,
    "shuffle_write_mb": 0.0, "spill_mb": 0.0, "input_rows": 0,
    "executor_run_s": 0.0, "output_mb": 0.0, "after_write_s": 0.0,
}


class StatusStore:
    """Reads job/stage counters for one job group from Spark's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc_sc = self.sc._jsc.sc()
        self._store = self._jsc_sc.statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the finished call's final stage data."""
        self._jsc_sc.listenerBus().waitUntilEmpty(30_000)

    def group_counts(self, group: str) -> dict:
        """The group's jobs, stages, tasks and stage counters. ``after_write_s``
        sums the durations of the jobs that ran after the group's last job
        that wrote output (all of its jobs when none wrote)."""
        self.drain()
        out = dict(_ZERO)
        tracker = self.sc.statusTracker()
        for jid in sorted(tracker.getJobIdsForGroup(group)):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            wrote = False
            for sid in info.stageIds if info else ():
                st = self._store.lastStageAttempt(sid)
                if st.numCompleteTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
                out["input_rows"] += st.inputRecords()
                out["output_mb"] += st.outputBytes() / 1e6
                out["executor_run_s"] += st.executorRunTime() / 1e3
                wrote = wrote or st.outputBytes() > 0
            out["after_write_s"] = 0.0 if wrote else out["after_write_s"] + self._job_s(jid)
        return out

    def _job_s(self, jid: int) -> float:
        job = self._store.job(jid)
        t0, t1 = job.submissionTime(), job.completionTime()
        if t0.isEmpty() or t1.isEmpty():
            return 0.0
        return (t1.get().getTime() - t0.get().getTime()) / 1e3

    def storage(self) -> tuple[int, float]:
        """(persisted RDDs, MB they hold in memory and on disk)."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        n, mb = 0, 0.0
        for info in infos:
            if info.numCachedPartitions() > 0:
                n += 1
                mb += (info.memSize() + info.diskSize()) / 1e6
        return n, mb


@contextlib.contextmanager
def _timed(rec: dict, cpu: bool):
    """Fill ``rec`` with the enclosed block's start, end, ``wall_s`` and,
    with ``cpu``, ``cpu_s`` (see :func:`cpu_seconds`)."""
    c0 = cpu_seconds() if cpu else 0.0
    rec["t0"] = time.perf_counter()
    try:
        yield
    finally:
        rec["t1"] = time.perf_counter()
        rec["wall_s"] = rec["t1"] - rec["t0"]
        if cpu:
            rec["cpu_s"] = cpu_seconds() - c0


class Tracer:
    """Times layer calls; with ``enabled`` also records spans and per-call
    job-group counters. ``overhead_s`` is the time the tracer itself spent
    (job-group bookkeeping and status-store reads)."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._ids = itertools.count()
        self._stack: list[int] = []
        self._store = StatusStore(spark) if enabled else None
        self._sc = spark.sparkContext
        self.cpu = cpu_seconds

    @contextlib.contextmanager
    def span(self, name: str, cpu: bool = False, **attrs):
        """Time the enclosed call. Yields a dict that receives ``wall_s``,
        with ``cpu`` also ``cpu_s`` (see :func:`cpu_seconds`) and, when
        tracing, the call's job-group counters. Nested spans count their
        jobs to the innermost group."""
        rec: dict = {}
        if not self.enabled:
            with _timed(rec, cpu):
                yield rec
            return
        o0 = time.perf_counter()
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        group = f"perfbench-{self.run_id}-{sid}"
        prev = self._sc.getLocalProperty("spark.jobGroup.id")
        self._sc.setJobGroup(group, name)
        self._stack.append(sid)
        self.overhead_s += time.perf_counter() - o0
        try:
            with _timed(rec, cpu):
                yield rec
        finally:
            o1 = time.perf_counter()
            self._stack.pop()
            if prev:
                self._sc.setJobGroup(prev, "")
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            rec.update(self._store.group_counts(group))
            self.spans.append(Span(name, rec["t0"], rec["t1"], parent, self.run_id, sid,
                                   {**attrs, **rec}))
            self.overhead_s += time.perf_counter() - o1

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "run_id": s.run_id, "id": s.sid,
                    "self_s": self_time(s, self.spans), **s.attrs,
                }) + "\n")

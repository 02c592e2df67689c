"""Shared pieces of the benchmark: timing spans, Spark's own counters,
fixture generation and the statistics the report uses.

Everything here measures the program from outside: it times calls into
the package's public functions and reads counters Spark already keeps
(the status store, a query's tracker, a stream's progress). Nothing in
the package is patched.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGE_COUNTERS = ("task_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "jobs")


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return float(s[k])


def cpu_jiffies() -> tuple[int, int]:
    """(busy, stolen) CPU time of this machine, summed over its CPUs.

    On a virtual machine "stolen" is time a CPU was runnable but the
    hypervisor ran another guest; it is charged to no process here."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


def steal_share(a: tuple[int, int], b: tuple[int, int]) -> float:
    """Share of runnable CPU time stolen between two cpu_jiffies()."""
    busy, steal = b[0] - a[0], b[1] - a[1]
    return steal / (busy + steal) if busy + steal > 0 else 0.0


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    counters: dict[str, float] = field(default_factory=dict)
    cpu0: tuple[int, int] = (0, 0)
    cpu1: tuple[int, int] = (0, 0)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def steal(self) -> float:
        return steal_share(self.cpu0, self.cpu1)

    @property
    def adjusted(self) -> float:
        """Wall time less the stolen share: what the span would have
        taken on CPUs of its own (exact for CPU-bound work)."""
        return self.seconds * (1.0 - self.steal)


class Tracer:
    """Spans around calls into the program's layers.

    Every span is timed. Only when ``enabled`` (the traced run) does a
    span also run its Spark jobs under a job group of its own and read
    the status store afterwards, which is the tracing overhead; the
    spans are kept in memory and written once by :meth:`dump`.
    """

    def __init__(self, spark, enabled: bool, run_id: str) -> None:
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sp = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None,
                  cpu0=cpu_jiffies())
        idx = len(self.spans)
        self.spans.append(sp)
        self._stack.append(idx)
        sc = self.spark.sparkContext
        group = f"{self.run_id}-{idx}"
        if self.enabled:
            sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.cpu1 = cpu_jiffies()
            self._stack.pop()
            if self.enabled:
                sp.counters = job_group_counters(self.spark, group)
                if self._stack:
                    sc.setJobGroup(f"{self.run_id}-{self._stack[-1]}", self.spans[self._stack[-1]].name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def self_seconds(self, idx: int) -> float:
        """A span's duration minus the union of its children's."""
        sp = self.spans[idx]
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == idx)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.seconds - covered

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        rows = [
            {
                "id": i,
                "run": self.run_id,
                "name": s.name,
                "parent": s.parent,
                "start_s": round(s.start - t0, 6),
                "end_s": round(s.end - t0, 6),
                "self_s": round(self.self_seconds(i), 6),
                **s.counters,
            }
            for i, s in enumerate(self.spans)
        ]
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as fh:
            json.dump(rows, fh, indent=0)


def job_group_counters(spark, group: str) -> dict[str, float]:
    """Task time, GC time, shuffle write, spill and job count of every
    job run under ``group``, read from Spark's status store after the
    listener bus has delivered their events."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    out = dict.fromkeys(STAGE_COUNTERS, 0.0)
    job_ids = tracker.getJobIdsForGroup(group)
    out["jobs"] = float(len(job_ids))
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — evicted or never run (skipped)
                continue
            out["task_s"] += st.executorRunTime() / 1000.0
            out["gc_s"] += st.jvmGcTime() / 1000.0
            out["shuffle_write_bytes"] += float(st.shuffleWriteBytes())
            out["spill_bytes"] += float(st.memoryBytesSpilled() + st.diskBytesSpilled())
    return out


def plan_seconds(df) -> float:
    """Catalyst time of ``df``'s own query execution: analysis,
    optimization and physical planning, from its phase tracker. Forces
    planning, so only the traced run calls it. The write that follows
    builds a query execution of its own and plans the query again, so
    this is a separate planning of the same query, not the write's."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    it = phases.values().iterator()
    total_ms = 0
    while it.hasNext():
        p = it.next()
        total_ms += p.endTimeMs() - p.startTimeMs()
    return total_ms / 1000.0


def jvm_peak_rss_mb(spark) -> float:
    """The JVM's VmHWM (local mode: one JVM holds all of Spark)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def fixture_module(root: str):
    """The repo's scaled-fixture generator (tools/gen_scaled_fixture.py)."""
    tools = os.path.join(root, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import gen_scaled_fixture

    return gen_scaled_fixture


def frames_match(got, want) -> str | None:
    """The repo's oracle-parity comparison of two pandas frames
    (tests/test_oracle_parity.py: order-insensitive, floats to 1e-9
    relative); returns its first line on mismatch, else None."""
    from tests.test_oracle_parity import assert_frames_match

    try:
        assert_frames_match(got, want, "frame")
    except AssertionError as exc:
        return str(exc).splitlines()[0]
    return None


@dataclass
class Result:
    """What one workload run reports."""

    attempted: int = 0
    failed: int = 0
    e2e: dict[str, float] = field(default_factory=dict)
    samples: dict[str, int] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.notes.append(f"FAILED {what}")

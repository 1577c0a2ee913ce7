"""Spans around each call into a layer, plus Spark's own accounting of
the jobs that call ran.

Every op runs under its own Spark job group, so its jobs are found by
group, not by position in the job list (which Spark caps at
``spark.ui.retainedJobs``). Spans stay in memory; ``write`` dumps them
once at the end of a run. Nothing here changes what the engine does:
it reads Spark's status stores and the filesystem only.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_SIZE = re.compile(r"([\d.]+) (B|KiB|MiB|GiB|TiB)")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_PY_METRICS = ("data sent to Python workers", "data returned from Python workers")


def steal_s() -> float:
    """Seconds the hypervisor ran something else while this VM's CPUs
    were ready to run (the ``steal`` column of /proc/stat, summed over
    CPUs); 0 where the kernel does not report it. Reported beside the
    measured wall, never subtracted from it."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
    except OSError:
        return 0.0
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


@dataclass
class Span:
    name: str
    layer: str
    parent: int | None
    t0: float  # epoch seconds
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class SparkStatus:
    """Reads jobs, stages and SQL metrics of one job group."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.last_exec = self._max_execution_id()

    def _max_execution_id(self) -> int:
        n = self.sql_store.executionsCount()
        if n == 0:
            return -1
        return self.sql_store.executionsList(int(n) - 1, 1).head().executionId()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self.jsc.listenerBus().waitUntilEmpty(10_000)

    def collect(self, group: str, t0: float, t1: float) -> dict:
        """Counts and times of the jobs in ``group`` (run in [t0, t1])."""
        self.drain()
        jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        out = dict.fromkeys(
            ("stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_bytes",
             "spill_bytes"),
            0,
        )
        intervals = []
        for jid in jobs:
            jd = self.store.job(jid)
            sub, end = jd.submissionTime(), jd.completionTime()
            if sub.isDefined():
                a = sub.get().getTime() / 1000
                b = end.get().getTime() / 1000 if end.isDefined() else t1
                intervals.append((max(a, t0), min(b, t1)))
            for sid in str(jd.stageIds().mkString(",")).split(","):
                if sid:
                    self._add_stage(int(sid), out)
        out["jobs"] = len(jobs)
        out["job_s"] = _union(intervals)
        out["py_bytes"] = self._python_bytes()
        return out

    def _add_stage(self, sid: int, out: dict) -> None:
        st = self.store.lastStageAttempt(sid)
        if str(st.status().toString()) == "SKIPPED":
            return
        out["stages"] += 1
        out["tasks"] += st.numTasks()
        out["run_s"] += st.executorRunTime() / 1e3
        out["cpu_s"] += st.executorCpuTime() / 1e9
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()

    def _python_bytes(self) -> float:
        """Python-worker bytes (sent + returned) of SQL executions that
        started since the previous call."""
        n = int(self.sql_store.executionsCount())
        k = min(n, 64)
        total = 0.0
        it = self.sql_store.executionsList(n - k, k).iterator()
        newest = self.last_exec
        while it.hasNext():
            ex = it.next()
            eid = ex.executionId()
            if eid <= self.last_exec:
                continue
            newest = max(newest, eid)
            names = {}
            mit = ex.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                if m.name() in _PY_METRICS:
                    names[m.accumulatorId()] = m.name()
            if not names:
                continue
            values = self.sql_store.executionMetrics(eid)
            for acc in names:
                v = values.get(acc)
                if v.isDefined():
                    total += _parse_size(str(v.get()))
        self.last_exec = newest
        return total

    def plan_seconds(self, df) -> float:
        """Catalyst time (analysis, optimization, physical planning) of
        ``df``'s query, from its QueryExecution tracker. Plans ``df``
        once more, after the timed op."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        jvm = self.sc._jvm
        phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            qe.tracker().phases()
        )
        return sum(p.durationMs() for p in phases.values()) / 1e3


def _parse_size(text: str) -> float:
    # "total (min, med, max ...)\n12.3 KiB (...)": the total comes first
    m = _SIZE.search(text.split("\n", 1)[-1])
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Spans in memory, Spark accounting per op when enabled.

    ``op`` opens a root span under a fresh job group; ``phase`` opens a
    child span inside it. With tracing off, both only set the job group
    and time nothing beyond what the caller times itself."""

    def __init__(self, spark, cores: int):
        self.spark = spark
        self.cores = cores
        self.enabled = False
        self.spans: list[Span] = []
        self.status = SparkStatus(spark)
        self._seq = 0
        self._stack: list[int] = []
        #: seconds spent recording: status-store reads, planning probes
        #: and the callers' filesystem walks (``bookkeeping``)
        self.cost = 0.0

    @contextmanager
    def bookkeeping(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.cost += time.perf_counter() - t0

    @contextmanager
    def op(self, name: str, layer: str):
        self._seq += 1
        group = f"bench-{self._seq}"
        self.spark.sparkContext.setJobGroup(group, name, False)
        if not self.enabled:
            try:
                yield None
            finally:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            return
        span = Span(name, layer, None, time.time())
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        try:
            yield span
        finally:
            span.t1 = time.time()
            self._stack.pop()
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            with self.bookkeeping():
                spark_part = self.status.collect(group, span.t0, span.t1)
            spark_part["self_s"] = max(span.wall - spark_part["job_s"], 0.0)
            span.attrs["spark"] = spark_part

    @contextmanager
    def phase(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        span = Span(name, layer, self._stack[-1] if self._stack else None,
                    time.time())
        self.spans.append(span)
        try:
            yield span
        finally:
            span.t1 = time.time()

    def write(self, path: str) -> None:
        """One JSON line per span; ``parent`` is the ``id`` of the span
        that caused it."""
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **s.__dict__}, default=str)
                         + "\n")

"""Counters read from outside the engine: Spark's status store and /proc.

Every call the benchmark makes into an engine layer runs under its own
Spark job group (`Tracer.span`). After the call returns, the group's jobs
and stages are read back from the driver's AppStatusStore (the same
store the Spark UI and REST API serve), serialized to JSON inside the
JVM so one py4j round trip fetches one job or stage. Nothing in
graphit_spark is instrumented.
"""

from __future__ import annotations

import contextlib
import gc
import json
import time
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0

# counters summed per job group; units are converted in `group_counters`
_STAGE_SUMS = (
    "executorRunTime",  # ms
    "executorCpuTime",  # ns
    "jvmGcTime",  # ms
    "shuffleWriteBytes",
    "shuffleReadBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "numCompleteTasks",
)


@dataclass
class Span:
    """One traced layer call: wall interval plus the counters of its jobs."""

    layer: str
    group: str
    start_ms: float
    wall_s: float
    cached_mb: float  # storage the call left cached (RDDs new since its start)
    counters: dict = field(default_factory=dict)


class SparkStats:
    """Reads job/stage/storage counters for one SparkContext."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._ssc = sc._jsc.sc()
        self._store = self._ssc.statusStore()
        jvm = sc._jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._mapper = mapper
        self._jvm = jvm
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def set_job_group(self, group: str) -> None:
        self._sc.setJobGroup(group, group.split("#")[0])

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds all jobs that have finished."""
        self._ssc.listenerBus().waitUntilEmpty()

    def group_counters(self, group: str, start_ms: float, end_ms: float) -> dict:
        """Jobs, stages, tasks, CPU, GC, shuffle and spill of one job group.

        A stage counts once, and only if it ran inside [start_ms, end_ms]:
        a stage id that a later job lists as skipped keeps the metrics of
        the run that produced it, which may belong to another group.
        `job_busy_s` is the time inside the window covered by at least
        one running job of the group."""
        self.drain()
        jobs = [
            self._json(self._store.job(j))
            for j in self._sc.statusTracker().getJobIdsForGroup(group)
        ]
        sums = dict.fromkeys(_STAGE_SUMS, 0)
        n_stages = 0
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            st = self._json(self._store.lastStageAttempt(sid))
            sub = st.get("submissionTime")
            if st["status"] == "SKIPPED" or sub is None or not start_ms <= sub <= end_ms:
                continue
            n_stages += 1
            for k in _STAGE_SUMS:
                sums[k] += st.get(k) or 0
        intervals = sorted(
            (max(j["submissionTime"], start_ms), min(j["completionTime"] or end_ms, end_ms))
            for j in jobs
            if j.get("submissionTime") is not None
        )
        busy_ms, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in intervals:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    busy_ms += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            busy_ms += cur_hi - cur_lo
        return {
            "jobs": len(jobs),
            "stages": n_stages,
            "tasks": sums["numCompleteTasks"],
            "run_s": sums["executorRunTime"] / 1e3,
            "cpu_s": sums["executorCpuTime"] / 1e9,
            "gc_s": sums["jvmGcTime"] / 1e3,
            "shuffle_write_mb": sums["shuffleWriteBytes"] / MB,
            "shuffle_read_mb": sums["shuffleReadBytes"] / MB,
            "spill_mb": (sums["memoryBytesSpilled"] + sums["diskBytesSpilled"]) / MB,
            "job_busy_s": max(busy_ms, 0.0) / 1e3,
        }

    def cached_rdds(self) -> list[dict]:
        """RDDs that currently hold storage: [{id, name, mb}]."""
        self.drain()
        out = []
        for r in self._json(self._store.rddList(True)):
            mb = ((r.get("memoryUsed") or 0) + (r.get("diskUsed") or 0)) / MB
            out.append({"id": r["id"], "name": r.get("name"), "mb": mb})
        return out

    def settle_storage(self, timeout_s: float = 10.0) -> list[dict]:
        """Collect garbage on both sides of py4j until the set of cached
        RDDs stops changing, then return it. Blocks of checkpoints nobody
        references are only freed by the JVM ContextCleaner after a GC."""
        prev = None
        deadline = time.monotonic() + timeout_s
        while True:
            gc.collect()
            self._jvm.java.lang.System.gc()
            time.sleep(0.3)
            now = self.cached_rdds()
            key = sorted((r["id"], round(r["mb"], 3)) for r in now)
            if key == prev or time.monotonic() > deadline:
                return now
            prev = key

    def peak_rss_mb(self) -> float:
        """High-water resident set of the Spark JVM (VmHWM), from /proc."""
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")


class Tracer:
    """Wraps layer calls in job groups when enabled; a no-op otherwise
    apart from the one group that `call_group` opens per timed call."""

    def __init__(self, stats: SparkStats, enabled: bool):
        self.stats = stats
        self.enabled = enabled
        self.spans: list[Span] = []
        self._seq = 0
        self._outer = None

    def _group(self, label: str) -> str:
        self._seq += 1
        group = f"{label}#{self._seq}"
        self.stats.set_job_group(group)
        return group

    def call_group(self, label: str) -> str:
        """Open the job group of one whole workload call."""
        self._outer = self._group(label)
        return self._outer

    @contextlib.contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        before = {r["id"] for r in self.stats.cached_rdds()}
        group = self._group(layer)
        start_ms = time.time() * 1e3
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            if self._outer is not None:
                self.stats.set_job_group(self._outer)
            cached = sum(r["mb"] for r in self.stats.cached_rdds() if r["id"] not in before)
            self.spans.append(Span(layer, group, start_ms, wall, cached))

    def take_spans(self) -> list[Span]:
        """Spans recorded since the last take, with their counters filled."""
        spans, self.spans = self.spans, []
        for sp in spans:
            end_ms = sp.start_ms + sp.wall_s * 1e3
            sp.counters = self.stats.group_counters(sp.group, sp.start_ms, end_ms)
        return spans

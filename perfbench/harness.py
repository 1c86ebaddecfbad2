"""Measurement helpers shared by the workloads.

* ``Recorder`` — per-operation outcome bookkeeping (attempted, failed,
  latency samples), the session-conf leak check run after every
  operation, and — in a traced run — spans around calls into the
  engine's public functions plus Spark status-store counts per call.
* ``StageCounts`` — reads Spark's own status store
  (``AppStatusStore.lastStageAttempt``) for the stages of every job
  run under one job group.  The store is populated with
  ``spark.ui.enabled=false`` too.
* percentile, CPU-time, memory (resident set, JVM heap, cached
  blocks) helpers.
"""

from __future__ import annotations

import math
import os
import resource
import time
import traceback
from contextlib import contextmanager

#: session confs an operation must leave as it found them
GUARDED_CONFS = ("spark.sql.shuffle.partitions", "spark.sql.session.timeZone")

#: StageData accessors summed per job group
_STAGE_FIELDS = {
    "run_ms": "executorRunTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "mem_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
    "output_bytes": "outputBytes",
    "input_records": "inputRecords",
    "tasks": "numCompleteTasks",
}


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(1, math.ceil(q / 100.0 * len(s)))
    return s[k - 1]


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least ten samples beyond it
    (0 when fewer than 11 samples)."""
    if n <= 10:
        return 0
    return int(math.floor(100.0 * (n - 10) / n))


class StageCounts:
    """Status-store reader: sums stage metrics over every job of a
    job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()

    def for_group(self, group: str) -> dict[str, float]:
        out = dict.fromkeys(_STAGE_FIELDS, 0)
        out["jobs"] = 0
        out["stages"] = 0
        out["job_intervals"] = []
        for job in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(job)
            if info is None:
                continue
            out["jobs"] += 1
            try:
                jd = self.store.job(job)
                out["job_intervals"].append(
                    (jd.submissionTime().get().getTime() / 1000.0,
                     jd.completionTime().get().getTime() / 1000.0))
            except Exception:  # still running or evicted
                pass
            for stage in info.stageIds:
                try:
                    data = self.store.lastStageAttempt(stage)
                except Exception:  # skipped stage: never attempted
                    continue
                out["stages"] += 1
                for key, accessor in _STAGE_FIELDS.items():
                    out[key] += getattr(data, accessor)()
        return out


class Recorder:
    """Outcome and trace bookkeeping for one benchmark process."""

    def __init__(self, spark, trace: bool):
        self.spark = spark
        self.trace = trace
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.spans: list[dict] = []
        self.tracing = False
        self.counts = StageCounts(spark) if trace else None
        self._confs = {k: spark.conf.get(k) for k in GUARDED_CONFS}
        self._group_seq = 0
        #: largest block-manager memory held by persisted frames seen
        #: after a traced call
        self.cached_peak = 0

    # -- outcomes ------------------------------------------------------
    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def check_confs(self, op: str) -> bool:
        """True when the guarded confs are unchanged; a leak is
        restored so later operations plan under the intended confs."""
        ok = True
        for key, want in self._confs.items():
            got = self.spark.conf.get(key)
            if got != want:
                ok = False
                self.errors.append(f"{op}: conf {key} leaked {want!r} -> {got!r}")
                self.spark.conf.set(key, want)
        return ok

    @contextmanager
    def operation(self, op: str):
        """One attempted operation: counts it, marks it failed on an
        exception or a leaked conf.  Yields a dict the body may set
        ``ok=False`` in to record a wrong output."""
        self.attempted += 1
        status = {"ok": True}
        try:
            yield status
        except Exception:
            status["ok"] = False
            self.errors.append(f"{op}: {traceback.format_exc(limit=3)}")
        if not self.check_confs(op):
            status["ok"] = False
        if not status["ok"]:
            self.failed += 1

    # -- tracing -------------------------------------------------------
    @contextmanager
    def traced(self, on: bool):
        """Trace the calls made inside the block when ``on`` (and this
        is a traced run); a traced run alternates traced and untraced
        operations so it can report its own overhead."""
        prev, self.tracing = self.tracing, self.trace and on
        try:
            yield
        finally:
            self.tracing = prev

    def call(self, layer_fn: str, fn, *args, **kwargs):
        """Call ``fn`` (a public engine function); while tracing,
        record a span named ``layer_fn`` with the status-store counts
        of every Spark job the call ran."""
        if not self.tracing:
            return fn(*args, **kwargs)
        self._group_seq += 1
        group = f"perfbench-{self._group_seq}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, layer_fn)
        w0, t0 = time.time(), time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1, w1 = time.perf_counter(), time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            span = {"name": layer_fn, "seconds": t1 - t0}
            span.update(self.counts.for_group(group))
            covered = _union_within(span.pop("job_intervals"), w0, w1)
            span["driver_seconds"] = max(0.0, (w1 - w0) - covered)
            self.spans.append(span)
            self.cached_peak = max(self.cached_peak, cached_bytes(self.spark))

    def span_values(self, name: str, key: str = "seconds") -> list[float]:
        return [s[key] for s in self.spans if s["name"] == name]

    def span_total(self, key: str, names: tuple[str, ...] = ()) -> float:
        return sum(s[key] for s in self.spans
                   if not names or s["name"] in names)


def _union_within(intervals: list[tuple[float, float]], lo: float,
                  hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def layer_metrics(rec: Recorder, ops: int, cores: int) -> dict[str, float]:
    """Per-operation Spark counts over every traced span."""
    ops = max(ops, 1)
    wall = rec.span_total("seconds")
    return {
        "spark.jobs_per_op": rec.span_total("jobs") / ops,
        "spark.stages_per_op": rec.span_total("stages") / ops,
        "spark.tasks_per_op": rec.span_total("tasks") / ops,
        "spark.input_records_per_op": rec.span_total("input_records") / ops,
        "spark.shuffle_bytes_per_op": rec.span_total("shuffle_write_bytes") / ops,
        "spark.executor_ms_per_op": rec.span_total("run_ms") / ops,
        "spark.driver_ms_per_op": 1000.0 * rec.span_total("driver_seconds") / ops,
        "spark.cpu_busy_ratio": (rec.span_total("run_ms") / 1000.0
                                 / max(wall * cores, 1e-9)),
    }


def cached_bytes(spark) -> int:
    """Block-manager memory held by persisted RDDs and DataFrames."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(info.memSize()) for info in infos)


def jvm_heap_peak_mb(spark) -> float:
    """Sum of the driver JVM's heap pools' peak usage (MB): the heap
    the engine actually held, whatever size the heap was allowed to
    grow to."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    total = 0
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getType().toString() == "Heap memory":
            total += pool.getPeakUsage().getUsed()
    return total / 2**20


def process_cpu_s(spark) -> float:
    """CPU seconds used so far by this Python process and the driver
    JVM (user + system)."""
    ru = resource.getrusage(resource.RUSAGE_SELF)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    ticks = os.sysconf("SC_CLK_TCK")
    return ru.ru_utime + ru.ru_stime + (int(fields[11]) + int(fields[12])) / ticks


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0

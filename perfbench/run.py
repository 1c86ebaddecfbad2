"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0

Run from the repository root.  Generates the workload's inputs from
``--seed`` under ``.perfbench_work/`` (in a helper process, while the
session starts; the helper also runs every output check, so neither
shows in the engine's memory), starts one Spark session sized for this
machine through the engine's own factory (``session.get_spark``) and
its environment variables, drives the workload from a single
closed-loop client, checks every output, and prints one JSON object as
the last line of stdout::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports
the per-layer metrics (spans around the engine's public functions
plus Spark status-store counts per call).  See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import multiprocessing  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
from concurrent.futures import ProcessPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_engineering_pipeline_project_cloud_spark"
WORKLOADS = {
    "etl_batch": "wl_etl",
    "lakehouse_dml": "wl_dml",
}


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


#: driver heap: Spark's own 1 GB default, well below physical RAM (the
#: engine's default, 24g, exceeds small machines); an sf 0.1 pipeline
#: pass ran as fast with 1g as with 3g
DRIVER_MEM = "1g"


def configure_env(work: str) -> None:
    """Size the session through the engine's environment variables
    and keep every scratch file inside ``work``.  The heap is fixed at
    its maximum (``-Xms``): a growing heap resized at moments that
    differ from run to run, which moved the peak resident set by up to
    20 % between identical runs; with a fixed heap the resident set
    follows the pages the engine touches (eden, retained old
    generation, metaspace, code cache), and ``jvm.heap_peak_mb``
    reports the heap in use."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["GRAFT_CATALOG_DIR"] = os.path.join(work, "catalog")
    # no hsperfdata files: the JVMs write them to /tmp whatever tmpdir is
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Xms{DRIVER_MEM} -XX:-UsePerfData "
        f"-Djava.io.tmpdir={tmp}' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None,
                   help="input scale factor (default: the workload's own)")
    p.add_argument("--corrupt", action="store_true",
                   help="self-test only: corrupt one output before the "
                        "checks, which must then fail")
    return p.parse_args(argv)


#: end-to-end metrics, printed by every workload with ``--trace 0``
END_TO_END = {"setup_s": "s", "job_mean_ms": "ms", "query_mean_ms": "ms",
              "peak_rss_mb": "MB"}
#: per-layer metrics, printed by every workload with ``--trace 1``
PER_LAYER = {
    "session.get_spark_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.input_records_per_op": "count",
    "spark.shuffle_bytes_per_op": "B",
    "spark.executor_ms_per_op": "ms",
    "spark.driver_ms_per_op": "ms",
    "spark.cpu_busy_ratio": "ratio",
    "caching.cached_bytes": "B",
    "jvm.heap_peak_mb": "MB",
    "trace.overhead_ratio": "ratio",
}


class Context:
    """What a workload gets: the session, the recorder, its args, a
    private work directory and the helper process."""

    def __init__(self, args, spark, rec, work, gen_s, helper):
        self.args = args
        self.spark = spark
        self.rec = rec
        self.work = work
        self.gen_s = gen_s
        self.helper = helper
        self.cores = _nproc()

    def cpu(self) -> float:
        from harness import process_cpu_s

        return process_cpu_s(self.spark)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def offload(self, fn, *args):
        """Run ``fn(*args)`` in the helper process and return its
        result (output checks: DuckDB, pyarrow rewrites)."""
        return self.helper.submit(fn, *args).result()

    def setup_done(self) -> float:
        """Seconds from process start to now, less any wait for input
        generation after the session started — call right before the
        first timed operation."""
        return time.perf_counter() - T_PROCESS - self.gen_s


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work)
    become_subreaper()
    # a SIGTERM unwinds through the cleanup below instead of killing
    # this process and orphaning the driver JVM and the helper
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    wl = importlib.import_module(WORKLOADS[args.workload])

    spark = None
    # forked before the session starts, so no JVM thread is copied;
    # unlike "spawn", "fork" starts no resource-tracker process, which
    # would outlive this one
    helper = ProcessPoolExecutor(
        max_workers=1, mp_context=multiprocessing.get_context("fork"))
    try:
        # inputs are generated while the session starts
        generated = helper.submit(wl.generate, args,
                                  os.path.join(work, "input"))

        from data_engineering_pipeline_project_cloud_spark.session import get_spark

        from harness import Recorder, jvm_heap_peak_mb, peak_rss_mb

        t = time.perf_counter()
        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        t = time.perf_counter()
        inputs = generated.result()
        gen_s = time.perf_counter() - t
        ctx = Context(args, spark, Recorder(spark, bool(args.trace)), work,
                      gen_s, helper)
        e2e, layer, detail = wl.run(ctx, inputs)
        rec = ctx.rec
        e2e["peak_rss_mb"] = peak_rss_mb(spark)
        layer["session.get_spark_s"] = session_s
        layer["caching.cached_bytes"] = rec.cached_peak
        layer["jvm.heap_peak_mb"] = jvm_heap_peak_mb(spark)
        if args.trace:
            metrics = {k: {"value": layer[k], "unit": u}
                       for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u}
                       for k, u in END_TO_END.items()}
        for err in rec.errors[:20]:
            print(f"perfbench: {err}", file=sys.stderr)
        # the workload's own named metrics, with their sample counts
        print(json.dumps({"detail": {
            k: {"value": v, "unit": u, "n": n}
            for k, (v, u, n) in detail.items()}}))
        print(json.dumps({
            "correct": rec.failed == 0,
            "attempted": rec.attempted,
            "failed": rec.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            helper.shutdown(wait=True, cancel_futures=True)
            reap_children()
            shutil.rmtree(work, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit: the
    gateway JVM ends when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    # close the py4j connections and callback server (foreachBatch), so
    # nothing on the Python side talks to the JVM after it exits
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


#: prctl option that makes orphaned descendants children of this process
PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Adopt every orphaned descendant, so ``reap_children`` can wait
    for all of them: the shell that ``spark-class`` forks to build the
    JVM command line, and any Python worker the JVM starts, outlive
    their parents and would otherwise pass to init."""
    import ctypes

    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):  # not Linux: children only
        pass


def _children() -> list[int]:
    me = str(os.getpid())
    kids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = fh.read().rsplit(")", 1)[1].split()[1]
        except OSError:  # exited meanwhile
            continue
        if ppid == me:
            kids.append(int(pid))
    return kids


def reap_children(grace_s: float = 20.0) -> None:
    """Wait until this process has no child left, running or exited;
    children still running after ``grace_s`` are sent SIGTERM, and
    SIGKILL ten seconds later."""
    start = time.monotonic()
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        waited = time.monotonic() - start
        if waited > grace_s:
            sig = signal.SIGKILL if waited > grace_s + 10 else signal.SIGTERM
            for kid in _children():
                try:
                    os.kill(kid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.02)


if __name__ == "__main__":
    sys.exit(main())

"""lakehouse_dml — writes beside reads on the manifest table format.

The bronze table is made by CTAS from the seeded orders through
``statements.graft_sql``; one closed-loop client then runs a fixed
cycle of statements against it, their parameters drawn from the seed:

* MERGE upserts (Zipf-distributed keys, a share of new keys), UPDATE,
  copy-on-write DELETE, deletion-vector DELETE (the table's
  ``enableDeletionVectors`` property is switched on around it), INSERT
  — the jobs, with OPTIMIZE and VACUUM once a cycle;
* SELECTs at the latest version and at ``VERSION AS OF`` versions
  drawn across the retained history — the queries;
* a streaming hop once a cycle: ``drain_available_now`` of
  the bronze change feed into a silver table through
  ``cdc_apply_writer``.

After every commit the client calls ``sources.load_manifest`` to learn
the new version.  A shadow model of the table (a dict keyed by
``order_id``) follows every statement; every SELECT is compared with
the model's aggregate at the version it read, and at the end the whole
bronze and silver tables are compared with the model row by row.

Set-up is the CTAS and one untimed SELECT.  The timed loop runs whole
cycles, another only if it should end inside the window; the first
cycle runs in a process that has not run these statements before, like
a client that starts, applies a batch of changes and exits, so its
times include JIT, code generation and class loading, and its hop
(which creates silver from the whole history) is the process's first
streaming query.
"""

from __future__ import annotations

import math
import os
import time
from statistics import fmean, median

import numpy as np

import checks
import gen
from harness import layer_metrics, percentile, tail_percentile

SF = 0.01
#: data files the CTAS writes
CTAS_FILES = 8
#: one cycle of the client's steps
CYCLE = ("merge", "select", "select_v", "update", "select", "select_v",
         "delete", "select", "select_v", "insert", "select", "select_v",
         "delete_dv", "select", "select_v", "merge", "select", "select_v",
         "optimize", "select", "hop", "vacuum", "select", "select_v")
COMMITS = ("merge", "update", "delete", "delete_dv", "insert", "optimize",
           "vacuum")
#: VACUUM RETAIN n VERSIONS; versioned reads draw from this window
RETAIN = 12
COLS = ("order_id", "cust_id", "status", "total", "priority")
MERGE_ROWS, NEW_SHARE, INSERT_ROWS = 40, 0.2, 10
UPDATE_WIDTH, DELETE_WIDTH = 60, 25
MAX_CYCLES = 30


def _plan(rng: np.random.Generator, n_orders: int) -> list[dict]:
    """Seeded parameters of every step of ``MAX_CYCLES`` cycles."""
    perm = rng.permutation(n_orders)
    next_id = n_orders
    steps = []

    def row(k: int, status: str) -> tuple:
        return (int(k), int(rng.integers(0, 10_000)), status,
                float(np.round(rng.uniform(900.0, 450_000.0), 2)),
                gen.PRIORITIES[int(rng.integers(0, len(gen.PRIORITIES)))])

    for i in range(MAX_CYCLES * len(CYCLE)):
        kind = CYCLE[i % len(CYCLE)]
        step = {"kind": kind}
        if kind == "merge":
            keys: dict[int, None] = {}
            for _ in range(MERGE_ROWS):
                if rng.random() < NEW_SHARE:
                    keys[next_id] = None
                    next_id += 1
                else:
                    rank = min(int(rng.zipf(1.3)), n_orders) - 1
                    keys[int(perm[rank])] = None
            step["rows"] = [row(k, "M") for k in keys]
        elif kind == "insert":
            step["rows"] = [row(next_id + j, "I") for j in range(INSERT_ROWS)]
            next_id += INSERT_ROWS
        elif kind in ("update", "delete", "delete_dv"):
            lo = int(rng.integers(0, n_orders))
            width = UPDATE_WIDTH if kind == "update" else DELETE_WIDTH
            step["range"] = (lo, lo + width)
        elif kind == "select_v":
            step["u"] = float(rng.random())
        steps.append(step)
    return steps


def generate(args, in_dir: str) -> dict:
    os.makedirs(in_dir, exist_ok=True)
    rng = np.random.default_rng(args.seed)
    orders = gen.tables(args.seed, args.sf or SF)["orders"]
    path = os.path.join(in_dir, "orders.parquet")
    import pyarrow.parquet as pq

    pq.write_table(orders, path)
    base = list(zip(orders.column("o_orderkey").to_pylist(),
                    orders.column("o_custkey").to_pylist(),
                    orders.column("o_orderstatus").to_pylist(),
                    orders.column("o_totalprice").to_pylist(),
                    orders.column("o_orderpriority").to_pylist()))
    return {"orders": path, "base": base,
            "steps": _plan(rng, orders.num_rows)}


class Model:
    """The shadow table: ``order_id -> row`` plus the status
    aggregate at every version the table reached."""

    def __init__(self, rows: list[tuple]):
        self.rows = {r[0]: tuple(r) for r in rows}
        self.by_version: dict[int, dict] = {}

    def aggregate(self) -> dict:
        agg: dict[str, list] = {}
        for r in self.rows.values():
            a = agg.setdefault(r[2], [0, 0.0])
            a[0] += 1
            a[1] += r[3]
        return {k: (n, s) for k, (n, s) in agg.items()}

    def apply(self, step: dict) -> int:
        """Apply one statement; return the rows it changed."""
        kind = step["kind"]
        if kind in ("merge", "insert"):
            for r in step["rows"]:
                self.rows[r[0]] = r
            return len(step["rows"])
        if kind in ("update", "delete", "delete_dv"):
            lo, hi = step["range"]
            hit = [k for k in range(lo, hi) if k in self.rows]
            for k in hit:
                if kind == "update":
                    r = self.rows[k]
                    self.rows[k] = (r[0], r[1], "U", r[3] + 1.5, r[4])
                else:
                    del self.rows[k]
            return len(hit)
        return 0


def _same_agg(got: list, want: dict) -> bool:
    have = {r[0]: (int(r[1]), float(r[2])) for r in got}
    if set(have) != set(want):
        return False
    return all(have[k][0] == want[k][0]
               and math.isclose(have[k][1], want[k][1], rel_tol=1e-9)
               for k in want)


def _canon(rows) -> list[tuple]:
    return sorted((int(r[0]), int(r[1]), r[2], round(float(r[3]), 6), r[4])
                  for r in rows)


def _values(rows: list[tuple]) -> str:
    return ", ".join(f"({k}, {c}, '{s}', {t!r}, '{p}')"
                     for k, c, s, t, p in rows)


class Table:
    """The client's view of the bronze table's storage, from
    ``load_manifest`` after every commit."""

    def __init__(self, path: str):
        self.path = path
        self.live: dict[str, int] = {}

    def _file(self, p: str) -> str:
        return p if os.path.isabs(p) else os.path.join(self.path, p)

    def update(self, m: dict) -> dict:
        live = {}
        dv_rows = rows = 0
        for f in m["files"]:
            if f.get("dead"):
                continue
            p = self._file(f["path"])
            live[p] = self.live.get(p) or os.path.getsize(p)
            rows += int(f["rows"])
            dv_rows += int(f.get("dvRows", 0))
        new = [p for p in live if p not in self.live]
        out = {"files_rewritten": sum(1 for p in self.live if p not in live),
               "bytes_written": sum(live[p] for p in new),
               "live_files": len(live), "live_bytes": sum(live.values()),
               "rows": rows - dv_rows, "dv_rows": dv_rows}
        self.live = live
        return out

    def dir_bytes(self) -> tuple[int, int]:
        """(all bytes under the table directory, bytes not in live
        data files: log, checkpoints, sidecars, dead files)."""
        total = 0
        for dirpath, _, files in os.walk(self.path):
            total += sum(os.path.getsize(os.path.join(dirpath, f))
                         for f in files)
        return total, total - sum(self.live.values())


def run(ctx, inputs: dict):
    from data_engineering_pipeline_project_cloud_spark import graft_sql
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        load_manifest,
    )
    from data_engineering_pipeline_project_cloud_spark.streaming.sinks import (
        cdc_apply_writer,
        drain_available_now,
    )

    spark, rec, args = ctx.spark, ctx.rec, ctx.args
    bronze, silver = ctx.path("lake", "bronze"), ctx.path("lake", "silver")
    ckpt = ctx.path("lake", "_checkpoint")
    model, table = Model(inputs["base"]), Table(bronze)
    steps = inputs["steps"]
    state = {"version": 0, "pending": [], "changed": 0, "cycle": 0}
    io = {"written": 0, "changed_bytes": 0.0}

    def sql(layer: str, stmt: str) -> list:
        return rec.call(layer, lambda: graft_sql(spark, stmt).collect())

    def after_commit(changed: int) -> None:
        t = time.perf_counter()
        m = rec.call("sources.load_manifest", load_manifest, bronze)
        rec.sample("load_manifest_ms", 1000.0 * (time.perf_counter() - t))
        st = table.update(m)
        state["version"] = int(m["version"])
        model.by_version[state["version"]] = model.aggregate()
        state["pending"].append(time.perf_counter())
        state["changed"] += changed
        io["written"] += st["bytes_written"]
        io["changed_bytes"] += changed * st["live_bytes"] / max(1, st["rows"])
        for key in ("files_rewritten", "bytes_written", "live_files",
                    "dv_rows"):
            rec.sample(key, st[key])

    def hop() -> None:
        def build():
            return (spark.readStream.format("graft_manifest")
                    .option("path", bronze).option("readChangeFeed", "true")
                    .option("keyCols", "order_id").load())

        writer = cdc_apply_writer(silver, ["order_id"], ["order_id"],
                                  "perfbench")
        t = time.perf_counter()
        batches = rec.call("streaming.drain_available_now",
                           drain_available_now, build, writer, ckpt)
        end = time.perf_counter()
        rec.sample("drain_ms", 1000.0 * (end - t))
        rec.sample("batches_per_drain", batches)
        rec.sample("rows_per_drain", state["changed"])
        for t_commit in state["pending"]:
            rec.sample("cdc_lag_ms", 1000.0 * (end - t_commit))
        state["pending"], state["changed"] = [], 0

    def timed(kind: str, ms: float) -> None:
        if rec.tracing:
            rec.sample("traced_ms", ms)
        else:
            rec.sample("commit_ms" if kind in COMMITS else "query_ms", ms)
            rec.sample(f"{kind}_ms", ms)
            if state["cycle"] == 1:
                rec.sample("warm_ms", ms)

    def step(s: dict) -> None:
        kind = s["kind"]
        if kind == "hop":
            with rec.operation("hop"):
                hop()
            return
        if kind in ("select", "select_v"):
            version = state["version"]
            clause = ""
            if kind == "select_v":
                lo = max(min(model.by_version), version - RETAIN + 1)
                version = lo + int(s["u"] * (version - lo + 1))
                t = time.perf_counter()
                rec.call("sources.load_manifest_versioned", load_manifest,
                         bronze, version)
                rec.sample("load_manifest_versioned_ms",
                           1000.0 * (time.perf_counter() - t))
                clause = f" VERSION AS OF {version}"
            with rec.operation(kind) as st:
                t = time.perf_counter()
                got = sql(f"statements.select_{'versioned' if clause else 'latest'}",
                          "SELECT status, count(*) AS n, sum(total) AS s "
                          f"FROM graft.`{bronze}`{clause} GROUP BY status")
                timed(kind, 1000.0 * (time.perf_counter() - t))
                if not _same_agg(got, model.by_version[version]):
                    st["ok"] = False
                    rec.errors.append(f"{kind} at v{version}: {got} != model")
            return
        if kind == "delete_dv":
            # switch deletion vectors on for this DELETE only; the
            # property commits are not statement samples
            with rec.operation("alter"):
                sql("statements.alter",
                    f"ALTER TABLE `{bronze}` SET TBLPROPERTIES "
                    "('enableDeletionVectors' = 'true')")
                after_commit(0)
        stmt = {
            "merge": f"MERGE INTO `{bronze}` AS t USING perfbench_src AS s "
                     "ON t.order_id = s.order_id WHEN MATCHED THEN UPDATE "
                     "SET * WHEN NOT MATCHED THEN INSERT *",
            "insert": f"INSERT INTO `{bronze}` VALUES ",
            "optimize": f"OPTIMIZE `{bronze}`",
            "vacuum": f"VACUUM `{bronze}` RETAIN {RETAIN} VERSIONS "
                      "RETAIN 0 HOURS",
        }.get(kind)
        if kind == "merge":
            spark.createDataFrame(
                s["rows"], "order_id long, cust_id long, status string, "
                           "total double, priority string",
            ).createOrReplaceTempView("perfbench_src")
        elif kind == "insert":
            stmt += _values(s["rows"])
        elif kind == "update":
            lo, hi = s["range"]
            stmt = (f"UPDATE `{bronze}` SET total = total + 1.5, status = 'U' "
                    f"WHERE order_id >= {lo} AND order_id < {hi}")
        elif kind in ("delete", "delete_dv"):
            lo, hi = s["range"]
            stmt = (f"DELETE FROM `{bronze}` "
                    f"WHERE order_id >= {lo} AND order_id < {hi}")
        with rec.operation(kind):
            t = time.perf_counter()
            sql(f"statements.{kind}", stmt)
            timed(kind, 1000.0 * (time.perf_counter() - t))
            after_commit(model.apply(s))
        if kind == "delete_dv":
            with rec.operation("alter"):
                sql("statements.alter",
                    f"ALTER TABLE `{bronze}` SET TBLPROPERTIES "
                    "('enableDeletionVectors' = 'false')")
                after_commit(0)

    # set-up: the bronze table
    # key-range clustered files, as a table loaded in key order is:
    # range UPDATEs and DELETEs can prune to the files they touch
    spark.read.parquet(inputs["orders"]).repartitionByRange(
        CTAS_FILES, "o_orderkey").createOrReplaceTempView("perfbench_orders")
    with rec.operation("ctas"):
        sql("statements.ctas",
            f"CREATE TABLE `{bronze}` AS SELECT o_orderkey AS order_id, "
            "o_custkey AS cust_id, o_orderstatus AS status, "
            "o_totalprice AS total, o_orderpriority AS priority "
            "FROM perfbench_orders")
        after_commit(len(model.rows))
    # the first read of a process plans the manifest read path cold;
    # warm it once so the timed SELECTs compare like with like
    graft_sql(spark, f"SELECT count(*) FROM graft.`{bronze}`").collect()
    rec.samples.clear()
    state["pending"] = []
    setup_s = ctx.setup_done()

    cpu0, t_start = ctx.cpu(), time.perf_counter()
    cycles, last = 0, 0.0
    # a traced run adds a warm untraced cycle and a warm traced one,
    # so it reports its own tracing overhead
    min_cycles = 3 if args.trace else 1
    # whole cycles: another only if it should end inside the window
    while (cycles < min_cycles
           or time.perf_counter() - t_start + last <= args.seconds) \
            and cycles < MAX_CYCLES:
        t_cycle = time.perf_counter()
        state["cycle"] = cycles
        with rec.traced(cycles == 2):
            for s in steps[cycles * len(CYCLE):(cycles + 1) * len(CYCLE)]:
                step(s)
        last = time.perf_counter() - t_cycle
        cycles += 1
    cpu = ctx.cpu() - cpu0

    # checks: bronze and silver, row by row, against the model
    want = _canon(model.rows.values())
    cols = ", ".join(COLS)
    with rec.operation("final check") as st:
        for name, path in (("bronze", bronze), ("silver", silver)):
            got = _canon(graft_sql(spark, f"SELECT {cols} FROM graft.`{path}`")
                         .collect())
            if args.corrupt and name == "bronze":
                got = got[1:]
            if got != want:
                st["ok"] = False
                rec.errors.append(f"{name}: {len(got)} rows differ from the "
                                  f"model's {len(want)}")
    dir_total, log_bytes = table.dir_bytes()
    plain = ctx.offload(checks.parquet_bytes,
                        {c: [r[i] for r in model.rows.values()]
                         for i, c in enumerate(COLS)})

    s = rec.samples
    commits, reads = s["commit_ms"], s["query_ms"]
    e2e = {"setup_s": setup_s, "job_mean_ms": fmean(commits),
           "query_mean_ms": fmean(reads)}
    detail = {
        "commit_p50_ms": (median(commits), "ms", len(commits)),
        "read_p50_ms": (median(reads), "ms", len(reads)),
        "cdc_lag_ms": (median(s["cdc_lag_ms"]), "ms", len(s["cdc_lag_ms"])),
        "write_amp": (io["written"] / max(io["changed_bytes"], 1.0), "ratio",
                      len(s["bytes_written"])),
        "space_amp": (dir_total / plain, "ratio", 1),
        "cpu_s_per_cycle": (cpu / cycles, "s", cycles),
        "table_version": (state["version"], "count", 1),
    }
    for name, lat in (("commit", commits), ("read", reads)):
        tail = tail_percentile(len(lat))
        if tail:
            detail[f"{name}_p{tail}_ms"] = (percentile(lat, tail), "ms", len(lat))
    for kind, name in [(k, k) for k in COMMITS] + [
            ("select", "select_latest"), ("select_v", "select_versioned")]:
        detail[f"statements.{name}_ms"] = (median(s[f"{kind}_ms"]), "ms",
                                           len(s[f"{kind}_ms"]))
    n_lm = len(s["load_manifest_ms"])
    detail.update({
        "sources.load_manifest_ms": (median(s["load_manifest_ms"]), "ms", n_lm),
        "sources.load_manifest_versioned_ms": (
            median(s["load_manifest_versioned_ms"]), "ms",
            len(s["load_manifest_versioned_ms"])),
        "sources.log_bytes": (log_bytes, "B", 1),
        "sources.live_files": (s["live_files"][-1], "count", 1),
        "sources.files_rewritten_per_commit": (fmean(s["files_rewritten"]),
                                               "count", n_lm),
        "sources.bytes_written_per_commit": (fmean(s["bytes_written"]), "B",
                                             n_lm),
        "sources.dv_masked_rows": (max(s["dv_rows"]), "count", n_lm),
        "streaming.drain_ms": (median(s["drain_ms"]), "ms", len(s["drain_ms"])),
        "streaming.batches_per_drain": (fmean(s["batches_per_drain"]), "count",
                                        len(s["drain_ms"])),
        "streaming.rows_per_drain": (fmean(s["rows_per_drain"]), "count",
                                     len(s["drain_ms"])),
    })
    layer = {}
    if args.trace:
        traced = s["traced_ms"]
        n = len(traced)
        layer = layer_metrics(rec, n, ctx.cores)
        layer["trace.overhead_ratio"] = sum(traced) / sum(s["warm_ms"])
        stmt_spans = tuple(f"statements.{k}" for k in COMMITS)
        n_c = sum(1 for x in rec.spans if x["name"] in stmt_spans)
        detail["statements.jobs_per_commit"] = (
            rec.span_total("jobs", stmt_spans) / max(n_c, 1), "count", n_c)
        detail["statements.tasks_per_commit"] = (
            rec.span_total("tasks", stmt_spans) / max(n_c, 1), "count", n_c)
    return e2e, layer, detail

"""etl_batch — the reference's batch job, its corpus dedup, and the
clients that read their results.

* The job: a full ``etl.run_pipeline`` pass (raw load → dimension
  build → quality gate → master build) over seeded TPC-H-ish inputs,
  then the document dedup chain of ``corpus.py`` (``operators``).  It
  runs once, in a process that has not run it before, as the
  reference runs its nightly ``scripts/pipeline.py``: its time
  includes JIT, code generation and class loading.
* The queries: the written ``master_table`` is served
  (``plans.parity.serve``), one query of every kind is sent untimed,
  then one client sends dashboard refreshes of short queries through
  ``spark.sql`` (``dashboard.py``) with a kNN similarity query
  (``ivf_ann_topk``) after every tenth — whole refreshes, another only
  if it should end inside the window.

Set-up is the session start.

Checks: the written ``master_table`` is hashed and compared with the
engine's DuckDB oracle SQL (``ORACLE_SQL["master_table"]`` plus the
serving-grain dedup) on the staged input; raw-layer row counts, the
dimension size and the quality-gate report are checked too; the dedup
chain and the kNN answers as ``corpus.py`` says; every dashboard
result is compared with DuckDB running the same SQL over the written
mart.

A traced job calls the four stage functions one by one (what
``run_pipeline`` does) so each gets its own span, and forces each
operator stage of the dedup chain on its own.  A traced run sends
every query twice, untraced and traced, and reports the ratio of the
two sides as its tracing overhead.
"""

from __future__ import annotations

import time
from statistics import fmean, median

import checks
import corpus
import dashboard
import gen
from harness import layer_metrics, percentile, tail_percentile

SF = 0.03
#: dashboard queries per refresh; a kNN query follows every KNN_EVERY-th
REFRESH, KNN_EVERY = len(dashboard.CYCLE), 10
STAGES = ("run_raw_load", "run_dim_build", "run_quality_gate",
          "run_master_build")


def generate(args, in_dir: str) -> dict:
    counts = gen.write_tables(in_dir, args.seed, args.sf or SF)
    return {"dir": in_dir, "counts": counts,
            "oracle": checks.master_oracle_digest(in_dir),
            "queries": dashboard.query_stream(args.seed, counts["orders"]),
            "warmup": dashboard.warmup_queries(args.seed + 1, counts["orders"]),
            "corpus": corpus.make_corpus(args.seed, in_dir)}


def _pass(ctx, in_dir: str, out_dir: str) -> dict:
    from data_engineering_pipeline_project_cloud_spark import etl

    rec = ctx.rec
    if not rec.tracing:
        report = rec.call("etl.run_pipeline", etl.run_pipeline,
                          ctx.spark, in_dir, out_dir)
        return {s["stage"]: s["result"] for s in report["stages"]}
    return {
        "raw_load": rec.call("etl.run_raw_load", etl.run_raw_load,
                             ctx.spark, in_dir, out_dir),
        "dim_build": rec.call("etl.run_dim_build", etl.run_dim_build,
                              ctx.spark, in_dir, out_dir),
        "quality_gate": rec.call("etl.run_quality_gate", etl.run_quality_gate,
                                 ctx.spark, in_dir),
        "master_build": rec.call("etl.run_master_build", etl.run_master_build,
                                 ctx.spark, in_dir, out_dir),
    }


def _verify(ctx, result: dict, inputs: dict, out_dir: str,
            corrupt: bool) -> list[str]:
    bad = []
    for table, n in inputs["counts"].items():
        if result["raw_load"].get(table) != n:
            bad.append(f"raw {table}: {result['raw_load'].get(table)} != {n}")
    if result["dim_build"] != 25:
        bad.append(f"dim_locations rows {result['dim_build']} != 25")
    if any(result["quality_gate"].values()):
        bad.append(f"quality gate violations {result['quality_gate']}")
    names, want = inputs["oracle"]
    got = ctx.offload(checks.master_digest, f"{out_dir}/master_table",
                      names, corrupt)
    if got != want or result["master_build"] != want[0]:
        bad.append(f"master_table digest {got} != oracle {want}")
    return bad


def _serve(ctx, mart: str) -> float:
    """(Re-)register the serving views over the freshly written mart;
    a view over the previous pass's files would read deleted files."""
    from data_engineering_pipeline_project_cloud_spark.plans import parity

    t = time.perf_counter()
    ctx.rec.call("plans.serve", parity.serve, ctx.spark, mart)
    return time.perf_counter() - t


def _query(ctx, fn, *args) -> list[tuple]:
    """One timed query: ``fn(*args)`` returns its rows."""
    rec = ctx.rec
    t0 = time.perf_counter()
    rows = fn(*args)
    ms = 1000.0 * (time.perf_counter() - t0)
    rec.sample("traced_query_ms" if rec.tracing else "query_ms", ms)
    return rows


def _sql(ctx, q: str) -> list[tuple]:
    rec = ctx.rec
    t0 = time.perf_counter()
    df = rec.call("plans.sql_plan", ctx.spark.sql, q)
    t1 = time.perf_counter()
    rows = rec.call("plans.sql_exec", df.collect)
    if rec.tracing:
        rec.sample("plan_ms", 1000.0 * (t1 - t0))
        rec.sample("exec_ms", 1000.0 * (time.perf_counter() - t1))
        rec.sample("rows", len(rows))
    return [tuple(r) for r in rows]


def _job(ctx, inputs: dict, out_dir: str, corrupt: bool) -> None:
    """One batch job: a pipeline pass, then the dedup chain."""
    rec = ctx.rec
    in_dir = inputs["dir"]
    with rec.operation("pipeline pass") as st:
        t0 = time.perf_counter()
        result = _pass(ctx, in_dir, out_dir)
        t1 = time.perf_counter()
        bad = _verify(ctx, result, inputs, out_dir, corrupt)
        if bad:
            st["ok"] = False
            rec.errors.extend(bad)
    with rec.operation("dedup chain") as st:
        t2 = time.perf_counter()
        out = corpus.dedup_chain(ctx.spark, in_dir, rec)
        t3 = time.perf_counter()
        if corrupt:
            out["keep"] = out["keep"][1:]
        bad, recall = corpus.check_chain(out, inputs["corpus"])
        if bad:
            st["ok"] = False
            rec.errors.extend(bad)
    rec.sample("traced_job_ms" if rec.tracing else "job_ms",
               1000.0 * ((t1 - t0) + (t3 - t2)))
    rec.sample("pass_ms", 1000.0 * (t1 - t0))
    rec.sample("chain_ms", 1000.0 * (t3 - t2))
    if rec.tracing:
        rec.sample("candidates", out["candidates"])
        rec.sample("verified", len(out["pairs"]))
    rec.sample("near_recall", recall)


def _refresh(ctx, queries: list[str], knn_ids: list[int], index, n: int,
             results: list, knn: dict) -> None:
    """One dashboard refresh: ``REFRESH`` queries from position ``n``
    of the stream, a kNN query after every ``KNN_EVERY``-th.  A traced
    run sends each query twice, untraced and traced, in alternating
    order so neither side gains from running second."""
    rec = ctx.rec
    for i in range(n, n + REFRESH):
        modes = ((False, True) if i % 2 else (True, False)) \
            if rec.trace else (False,)
        q = queries[i % len(queries)]
        for traced in modes:
            with rec.traced(traced), rec.operation("query"):
                results.append((q, _query(ctx, _sql, ctx, q)))
        if i % KNN_EVERY == KNN_EVERY - 1:
            qid = knn_ids[(i // KNN_EVERY) % len(knn_ids)]
            for traced in modes:
                with rec.traced(traced), rec.operation("knn query"):
                    t = time.perf_counter()
                    knn[qid] = _query(ctx, corpus.knn_query, ctx.spark,
                                      index, qid, rec)
                    rec.sample("traced_knn_ms" if rec.tracing else "knn_ms",
                               1000.0 * (time.perf_counter() - t))


def run(ctx, inputs: dict):
    in_dir, out_dir = inputs["dir"], ctx.path("out")
    mart = f"{out_dir}/master_table"
    rec, args, spark = ctx.rec, ctx.args, ctx.spark
    queries, knn_ids = inputs["queries"], inputs["corpus"]["knn_queries"]
    knn: dict[int, list] = {}
    results: list[tuple[str, list]] = []

    index = corpus.load_index(spark, in_dir)
    setup_s = ctx.setup_done()

    # the job, in a process that has not run it before — as the
    # reference runs its nightly pipeline; traced in a traced run
    cpu0 = ctx.cpu()
    with rec.traced(True):
        _job(ctx, inputs, out_dir, args.corrupt)
    cpu_job = ctx.cpu() - cpu0
    serve_s = [_serve(ctx, mart)]
    # warm-up: one query of every kind, untimed
    for q in inputs["warmup"]:
        spark.sql(q).collect()
    knn[knn_ids[-1]] = corpus.knn_query(spark, index, knn_ids[-1], rec)

    # the serving client: whole refreshes, another only if it should
    # end inside the window
    cpu0, t_start = ctx.cpu(), time.perf_counter()
    refreshes, last = 0, 0.0
    while refreshes < 1 or time.perf_counter() - t_start + last <= args.seconds:
        t = time.perf_counter()
        _refresh(ctx, queries, knn_ids, index, refreshes * REFRESH,
                 results, knn)
        last = time.perf_counter() - t
        refreshes += 1
    cpu_query = (ctx.cpu() - cpu0) / max(1, len(results))

    # checks: every dashboard result against DuckDB over the mart,
    # every kNN answer against numpy brute force
    want = ctx.offload(checks.dashboard_results, mart,
                       [q for q, _ in results])
    for n, (q, got) in enumerate(results):
        if args.corrupt and n == 0:
            got = got[1:] if got else [("corrupted",)]
        if not dashboard.same(dashboard.norm(got), want[q]):
            rec.fail(f"query result differs from DuckDB: {q}")
    truth = ctx.offload(checks.knn_truth, f"{in_dir}/vectors.parquet",
                        list(knn))
    if args.corrupt:
        qid = next(iter(knn))
        knn[qid] = [(c, s + 0.01, r) for c, s, r in knn[qid]]
    bad, knn_recall = corpus.check_knn(knn, truth)
    for problem in bad:
        rec.fail(problem)

    s = rec.samples
    lat = s["query_ms"]
    job = s["traced_job_ms"] if args.trace else s["job_ms"]
    e2e = {"setup_s": setup_s, "job_mean_ms": fmean(job),
           "query_mean_ms": fmean(lat)}
    n_docs = len(inputs["corpus"]["texts"])
    detail = {"batch_s": (median(s["pass_ms"]) / 1000.0, "s", len(job)),
              "docs_per_s": (n_docs / (median(s["chain_ms"]) / 1000.0),
                             "1/s", len(job)),
              "query_p50_ms": (median(lat), "ms", len(lat)),
              "knn_p50_ms": (median(s["knn_ms"]), "ms", len(s["knn_ms"])),
              "plans.serve_s": (median(serve_s), "s", len(serve_s)),
              "operators.planted_dup_recall": (fmean(s["near_recall"]),
                                               "ratio", len(s["near_recall"])),
              "operators.ann_recall_at_k": (knn_recall, "ratio", len(knn)),
              "cpu_s_per_job": (cpu_job, "s", 1),
              "cpu_s_per_query": (cpu_query, "s", len(results))}
    tail = tail_percentile(len(lat))
    if tail:
        detail[f"query_p{tail}_ms"] = (percentile(lat, tail), "ms", len(lat))
    layer = {}
    if args.trace:
        traced_q = s["traced_query_ms"]
        n = 1
        layer = layer_metrics(rec, n + len(traced_q), ctx.cores)
        layer["trace.overhead_ratio"] = fmean(traced_q) / fmean(lat)
        for stage in STAGES:
            detail[f"etl.{stage}_s"] = (median(rec.span_values(f"etl.{stage}")),
                                        "s", n)
        _span_detail(ctx, detail, "etl", tuple(f"etl.{x}" for x in STAGES), n)
        for stage in corpus.STAGES:
            detail[f"operators.{stage}_s"] = (
                median(rec.span_values(f"operators.{stage}")), "s", n)
        _span_detail(ctx, detail, "operators",
                     tuple(f"operators.{x}" for x in corpus.STAGES), n)
        detail["operators.candidate_pairs"] = (fmean(s["candidates"]), "count", n)
        detail["operators.pair_precision"] = (
            sum(s["verified"]) / max(1, sum(s["candidates"])), "ratio", n)
        knn_spans = rec.span_values("operators.ivf_ann_topk")
        detail["operators.ivf_ann_topk_ms"] = (1000.0 * median(knn_spans), "ms",
                                               len(knn_spans))
        nq = len(s["plan_ms"])
        sql = ("plans.sql_plan", "plans.sql_exec")
        detail["plans.sql_plan_ms"] = (median(s["plan_ms"]), "ms", nq)
        detail["plans.sql_exec_ms"] = (median(s["exec_ms"]), "ms", nq)
        detail["plans.tasks_per_query"] = (rec.span_total("tasks", sql) / nq,
                                           "count", nq)
        detail["plans.rows_examined_per_row"] = (
            rec.span_total("input_records", sql)
            / max(1, sum(s["rows"])), "ratio", nq)
    return e2e, layer, detail


def _span_detail(ctx, detail: dict, layer: str, spans: tuple, n: int) -> None:
    """Per-job Spark counts of one layer's spans."""
    rec = ctx.rec
    if layer == "etl":
        detail["etl.jobs"] = (rec.span_total("jobs", spans) / n, "count", n)
        detail["etl.spill_bytes"] = (
            (rec.span_total("mem_spill_bytes", spans)
             + rec.span_total("disk_spill_bytes", spans)) / n, "B", n)
        detail["etl.bytes_written"] = (rec.span_total("output_bytes", spans) / n,
                                       "B", n)
    detail[f"{layer}.shuffle_bytes"] = (
        rec.span_total("shuffle_write_bytes", spans) / n, "B", n)
    detail[f"{layer}.cpu_busy_ratio"] = (
        rec.span_total("run_ms", spans) / 1000.0
        / max(rec.span_total("seconds", spans) * ctx.cores, 1e-9), "ratio", n)

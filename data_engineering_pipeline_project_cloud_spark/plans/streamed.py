"""Streaming-engine queries for the driver registry.

Each entry runs the REAL Structured Streaming pipeline (readStream →
watermark → stateful/windowed agg → AvailableNow drain) and returns
the drained result, so the driver's DuckDB differential check covers
the incremental execution path, not just the batch expression of the
same logic (SURVEY.md §5.5).
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..streaming import (
    read_events_stream,
    run_available_now,
    stream_session_windows,
    stream_tumbling_hourly,
    stream_user_lifetime_stats,
)
from ..streaming import stream_dedup_events
from ..streaming.joins import stream_click_purchase_join
from ..sources import load_table
from ..sources.manifest_source import read_manifest


def _source_bytes(*paths: str) -> int | None:
    """Total on-disk bytes of the files/dirs a stream reads."""
    import os

    total = 0
    for p in paths:
        if os.path.isfile(p):
            total += os.path.getsize(p)
        elif os.path.isdir(p):
            for root, _, files in os.walk(p):
                total += sum(os.path.getsize(os.path.join(root, f))
                             for f in files)
    return total or None


def _drain_partitions(spark: SparkSession, source_bytes: int | None) -> int:
    """Scale-adaptive state-partition count for an AvailableNow drain
    (guide §2.2: derive partition counts from input size, never a
    constant).  AQE does not apply to stateful streaming — the state
    partition count is pinned from ``spark.sql.shuffle.partitions`` at
    checkpoint creation, and EVERY partition is one state-store
    instance whose per-micro-batch commit (delta file write + snapshot
    maintenance) is paid even when it holds a handful of rows.  At
    bench SF a 32-partition drain spends most of its wall clock in 32
    near-empty store commits.  Derive the count from the source volume
    (~32 MB of stream input per state partition), clamped to the
    session setting, so a real firehose (GBs+ per drain) keeps the
    session's full parallelism while small drains stop paying the
    fixed per-store cost.  Partition count never changes WHAT a
    stateful aggregation computes, only where keys live — output
    equality across counts is asserted in tests/test_streaming.py.
    """
    try:
        sess = int(spark.conf.get("spark.sql.shuffle.partitions", None))
    except (TypeError, ValueError):
        # unset or not a number: size from the cluster instead
        sess = spark.sparkContext.defaultParallelism
    if not source_bytes:
        return sess
    return int(max(1, min(sess, (source_bytes + (32 << 20) - 1) >> 25)))


def _drain(df: DataFrame, spark: SparkSession, mode: str = "complete",
           source_bytes: int | None = None) -> DataFrame:
    import shutil

    name = "q_" + uuid.uuid4().hex[:12]
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(_drain_partitions(spark, source_bytes)))
        run_available_now(df, name, ckpt, output_mode=mode)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        # the memory sink holds the drained rows; the checkpoint is
        # only needed while the query runs — drop it so a long session
        # doesn't accumulate one dir per drain
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def _events_bytes(sf_dir: str) -> int | None:
    return _source_bytes(f"{sf_dir}/events.parquet")


def streaming_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    out = _drain(stream_tumbling_hourly(ev).drop("approx_users"), spark,
                 source_bytes=_events_bytes(sf_dir))
    # canonical output rule (plans/parity.py): decimal state sums are
    # presented as DOUBLE after the drain
    return out.select("window_start", "event_type", "n_events",
                      F.col("sum_value").cast("double").alias("sum_value"))


def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    # deliberately NOT source-sized: session-window state is KEY-DENSE
    # (sub-second-jittered timestamps → ~one session per event, 95k
    # state rows per 100k events at sf0.1), so the drain's cost is the
    # per-partition session merge, not near-empty store commits —
    # shrinking partitions measured 1.56 → 1.79 s, the opposite of the
    # sparse-state tumbling face.  Keep session parallelism.
    return _drain(stream_session_windows(ev), spark).select(
        "user_id", "session_start", "n_events",
        F.col("sum_value").cast("double").alias("sum_value"))


def streaming_user_lifetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState).  Update-mode
    output carries one row per (user, micro-batch); the final state is
    the row with the highest running count."""
    ev = read_events_stream(spark, sf_dir)
    # deliberately NOT source-sized (source_bytes=None → session
    # parallelism): this drain's cost is the per-key Python work inside
    # applyInPandasWithState, where the partition count IS the
    # Python-worker parallelism — shrinking it serializes 1,500 user
    # groups through one worker (measured 2.6 → 5.9 s), the opposite
    # trade from the JVM state-store faces.
    out = _drain(stream_user_lifetime_stats(ev), spark, mode="update")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (out.withColumn("__rn", F.row_number().over(w))
            .filter("__rn = 1").drop("__rn"))


def streaming_enriched_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched with the static
    customer dimension (broadcast per micro-batch, no state, no
    watermark) — the standard streaming dimension lookup.  The static
    side is re-resolvable every batch, so slowly-changing dims pick
    up updates between batches."""
    from pyspark.sql import functions as F

    from ..sources import load_table

    ev = read_events_stream(spark, sf_dir)
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
            F.col("c_nationkey").alias("nation_key")))
    enriched = (ev.join(cust, "user_id", "left")
                .select("event_id", "user_id", "event_type",
                        F.coalesce("segment", F.lit("NONE")).alias("segment"),
                        F.coalesce("nation_key", F.lit(-1)).cast("long")
                        .alias("nation_key")))
    return _drain(enriched, spark, mode="append",
                  source_bytes=_events_bytes(sf_dir))


def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked exactly-once dedup through the real engine (the
    source has unique event_ids, so output == conformed input; the
    redelivery-dropping behavior is pytest-covered with a duplicated
    source)."""
    ev = read_events_stream(spark, sf_dir)
    out = _drain(stream_dedup_events(ev), spark, mode="append",
                 source_bytes=_events_bytes(sf_dir))
    return out.select("event_id", "ts", "user_id", "event_type",
                      F.col("value").cast("double").alias("value"))


def streaming_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join through the real engine (append mode:
    rows emit as the watermark closes their match window)."""
    ev = read_events_stream(spark, sf_dir)
    return _drain(stream_click_purchase_join(ev), spark, mode="append",
                  source_bytes=_events_bytes(sf_dir))


def streaming_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless corpus firehose filter through the real engine: the
    batch quality operator attached to a document stream (no state, no
    watermark, append drain) — output must equal the batch filter,
    which is exactly what the oracle asserts."""
    from ..streaming.documents import read_documents_stream, stream_quality_filter

    docs = read_documents_stream(spark, sf_dir)
    return _drain(stream_quality_filter(docs), spark, mode="append",
                  source_bytes=_source_bytes(f"{sf_dir}/documents.parquet"))


def streaming_manifest_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manifest table as a STREAM source
    (sources/manifest_source.py:ManifestStreamReader): nation is laid
    out as a manifest table once per sf_dir, then read back through
    the streaming engine — the manifest's append-only file list is the
    changelog, offsets index into it (how table formats tail their
    transaction log).  Draining the whole log must equal the batch
    read, which is what the oracle (plain nation scan) checks;
    append-only-new-files incremental behavior is asserted with a
    checkpoint in tests/test_manifest_source.py."""
    from ..sources.manifest_source import register, write_manifest_table
    from .scratch import scoped_scratch

    register(spark)

    def build(path: str) -> None:
        nat = load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey")
        write_manifest_table(nat.repartition(4, "n_nationkey"), path,
                             ["n_nationkey"])

    tmp = scoped_scratch("manifest_stream", sf_dir, build)
    stream = (spark.readStream.format("graft_manifest")
              .option("path", tmp).load())
    return _drain(stream, spark, mode="append",
                  source_bytes=_source_bytes(tmp)).select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        "n_name",
        F.col("n_regionkey").cast("long").alias("n_regionkey"))


def streaming_manifest_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming INTO the manifest table: the conformed
    event stream drains through a ``foreachBatch`` +
    ``manifest_append_writer`` sink (streaming/sinks.py) — each
    micro-batch appends new files and claims ONE manifest version with
    its (appId, batch_id) watermark recorded, so a replayed batch
    no-ops inside the commit protocol.  The face then reads the table
    back; the oracle is the plain batch conform of events, so the
    driver hash proves the stream → commit → read loop is lossless and
    duplicate-free.  Replay/restart idempotence is asserted in
    tests/test_sinks_ingest.py.  Sink cost is O(batch) — new files +
    one manifest claim — never a read-modify-write of the table, which
    is what makes the pattern hold at a 100 TB table size."""
    from ..streaming.sinks import manifest_append_writer, run_foreach_batch
    from ..sources.manifest_source import register
    from .scratch import scoped_scratch

    register(spark)

    def build(path: str) -> None:
        import os

        src = os.path.join(path, "src")
        table = os.path.join(path, "table")
        ckpt = os.path.join(path, "ckpt")
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type",
            F.col("value").cast("decimal(12,2)").cast("double")
            .alias("value"))
        # two source files + maxFilesPerTrigger=1 → the sink commits
        # across MULTIPLE micro-batches, each one manifest version
        ev.repartition(2).write.mode("overwrite").parquet(src)
        stream = (spark.readStream
                  .schema(spark.read.parquet(src).schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        run_foreach_batch(
            stream, manifest_append_writer(table, ["event_id"], "evsink"),
            ckpt)

    import os

    path = scoped_scratch("manifest_sink_events", sf_dir, build)
    return (read_manifest(spark, os.path.join(path, "table"))
            .select(F.col("event_id").cast("long").alias("event_id"),
                    F.col("user_id").cast("long").alias("user_id"),
                    "event_type", "value"))


def streaming_manifest_upsert_view(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Streaming CDC-upsert materialized view: the stateful per-user
    lifetime aggregation (applyInPandasWithState, update mode) is
    MERGED into a manifest table per micro-batch
    (streaming/sinks.py:manifest_merge_writer) — each batch rewrites
    only the files whose key stats might hold an updated user, under a
    txn-gated atomic commit, so the table always holds exactly one
    CURRENT row per user and replayed batches no-op.  The face reads
    the converged view; the oracle is the batch aggregate over the
    full event history, which is precisely what the view must equal.
    This is the composition that replaces a full-table rewrite per
    batch with O(affected files + batch) work — the keyed-state story
    that holds at a 100 TB view."""
    import os

    from ..sources.manifest_source import register
    from ..streaming.sinks import manifest_merge_writer, run_foreach_batch
    from .scratch import scoped_scratch

    register(spark)

    def build(path: str) -> None:
        src = os.path.join(path, "src")
        table = os.path.join(path, "table")
        ckpt = os.path.join(path, "ckpt")
        ev = load_table(spark, sf_dir, "events")
        ev.repartition(2).write.mode("overwrite").parquet(src)
        stream = (spark.readStream
                  .schema(spark.read.parquet(src).schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        run_foreach_batch(
            stream_user_lifetime_stats(stream),
            manifest_merge_writer(table, ["user_id"], ["user_id"],
                                  "ulview"),
            ckpt)

    import os

    path = scoped_scratch("manifest_upsert_view", sf_dir, build)
    return (read_manifest(spark, os.path.join(path, "table"))
            .select("user_id", "n_events",
                    F.col("total_value").cast("double").alias("total_value"),
                    "last_seen"))


def streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC-APPLY through the full merge clause matrix
    (round 10 — streaming/sinks.py:merge_apply_writer → merge_apply):
    a CDC log stream of (key, op, px) change rows — deletes, updates,
    inserts, each key carrying exactly ONE op so the converged state
    is independent of micro-batch boundaries — applies to the orders
    table batch by batch, each batch ONE txn-gated atomic commit
    mixing clause kinds.  The oracle replays the same op matrix
    relationally; equality proves every op landed exactly once
    through the streamed path."""
    import os

    from ..sources.manifest_source import register, write_manifest_table
    from ..streaming.sinks import merge_apply_writer, run_foreach_batch
    from .scratch import scoped_scratch

    register(spark)

    def build(path: str) -> None:
        src = os.path.join(path, "src")
        table = os.path.join(path, "table")
        ckpt = os.path.join(path, "ckpt")
        orders = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").cast("decimal(12,2)").cast("double")
            .alias("total_price"))
        write_manifest_table(
            orders.repartitionByRange(4, "o_orderkey"), table,
            ["o_orderkey"])
        cdc = (orders.filter(F.col("o_orderkey") % 10 == 3)
               .select("o_orderkey", F.lit("D").alias("op"),
                       F.lit(0.0).alias("px"))
               .unionByName(
                   orders.filter(F.col("o_orderkey") % 10 == 4)
                   .select("o_orderkey", F.lit("U").alias("op"),
                           (F.col("total_price") + F.lit(2.5))
                           .alias("px")))
               .unionByName(
                   spark.range(25).select(
                       (F.lit(2_000_000_000) + F.col("id"))
                       .alias("o_orderkey"),
                       F.lit("I").alias("op"),
                       F.col("id").cast("double").alias("px"))))
        cdc.repartition(3).write.mode("overwrite").parquet(src)
        stream = (spark.readStream
                  .schema(spark.read.parquet(src).schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        run_foreach_batch(
            stream,
            merge_apply_writer(
                table, ["o_orderkey"], ["o_orderkey"], "cdcapply",
                matched=[
                    {"cond": "s.op = 'D'", "action": "delete"},
                    {"cond": "s.op = 'U'", "action": "update",
                     "set": {"total_price": "s.px",
                             "status": "'updated'"}}],
                not_matched=[
                    {"cond": "s.op = 'I'",
                     "values": {"o_orderkey": "s.o_orderkey",
                                "status": "'new'",
                                "total_price": "s.px"}}]),
            ckpt)

    import os

    path = scoped_scratch("streaming_cdc_apply", sf_dir, build)
    return (read_manifest(spark, os.path.join(path, "table"))
            .select("o_orderkey", "status", "total_price"))


def streaming_dv_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming RIGHT-TO-BE-FORGOTTEN: a stream of erasure requests
    (every 9th customer key) is applied to the orders manifest table
    micro-batch by micro-batch through pure-metadata deletion-vector
    commits (streaming/sinks.py:dv_delete_writer) — no file rewrites,
    txn-gated exactly-once per batch, O(pruned files + batch keys)
    per request batch.  The face aggregates the surviving table; the
    oracle applies the same erasure predicate relationally — equality
    proves the whole stream of deletes landed exactly once."""
    import os

    from ..sources.manifest_source import register, write_manifest_table
    from ..streaming.sinks import dv_delete_writer, run_foreach_batch
    from .scratch import scoped_scratch

    register(spark)

    def build(path: str) -> None:
        src = os.path.join(path, "src")
        table = os.path.join(path, "table")
        ckpt = os.path.join(path, "ckpt")
        orders = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            F.col("o_custkey").cast("long").alias("o_custkey"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").cast("decimal(12,2)").cast("double")
            .alias("total_price"))
        write_manifest_table(
            orders.repartitionByRange(4, "o_custkey"), table,
            ["o_custkey"])
        # the erasure-request stream: every 9th customer, in 2 files
        (orders.filter(F.col("o_custkey") % 9 == 0)
         .select("o_custkey").distinct()
         .repartition(2).write.mode("overwrite").parquet(src))
        stream = (spark.readStream
                  .schema(spark.read.parquet(src).schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        run_foreach_batch(
            stream, dv_delete_writer(table, ["o_custkey"],
                                     ["o_custkey"], "dvforget"),
            ckpt)

    path = scoped_scratch("manifest_dv_forget", sf_dir, build)
    return (read_manifest(spark, os.path.join(path, "table"))
            .groupBy("status")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                 F.sum(F.col("total_price").cast("decimal(12,2)"))
                 .cast("double").alias("sum_price")))


def _cdc_orders_path(spark: SparkSession, sf_dir: str) -> str:
    """A manifest table with a deterministic 3-commit history (v0 =
    conformed orders, v1 = CDC merge: every 10th key updated + 5
    inserts, v2 = delete every 7th key), its CDC stream drained to a
    parquet feed, and a DOWNSTREAM table maintained from that stream —
    shared by the cdc-feed and cdc-downstream faces."""
    import os

    from ..sources.manifest_source import (
        delete_from_manifest,
        merge_into_manifest,
        register,
        write_manifest_table,
    )
    from ..streaming.sinks import (
        cdc_agg_delta_writer,
        cdc_apply_writer,
        run_foreach_batch,
    )
    from .relational import MERGE_INSERT_BASE, _orders_manifest_frame
    from .scratch import scoped_scratch

    register(spark)

    def build(path: str) -> None:
        src = os.path.join(path, "src")
        orders = _orders_manifest_frame(spark, sf_dir)
        write_manifest_table(
            orders.repartitionByRange(4, "o_orderkey"), src,
            ["o_orderkey"])  # v0
        updates = (orders.filter(F.col("o_orderkey") % 10 == 0)
                   .select("o_orderkey", F.lit("U").alias("status"),
                           (F.col("total_price") + F.lit(1.0))
                           .alias("total_price")))
        inserts = spark.range(5).select(
            (F.lit(MERGE_INSERT_BASE) + F.col("id")).alias("o_orderkey"),
            F.lit("N").alias("status"),
            (F.col("id").cast("double") + F.lit(0.5)).alias("total_price"))
        merge_into_manifest(updates.unionByName(inserts), src,
                            ["o_orderkey"], ["o_orderkey"])  # v1
        doomed = (read_manifest(spark, src)
                  .filter(F.col("o_orderkey") % 7 == 0)
                  .select("o_orderkey"))
        delete_from_manifest(doomed, src, ["o_orderkey"],
                             ["o_orderkey"])  # v2
        stream = (spark.readStream.format("graft_manifest")
                  .option("path", src)
                  .option("readChangeFeed", "true")
                  .option("keyCols", "o_orderkey").load())
        # feed: the raw change log, durably sunk
        q = (stream.writeStream.format("parquet")
             .option("path", os.path.join(path, "feed"))
             .option("checkpointLocation", os.path.join(path, "feed_ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        # downstream: a second keyed view maintained FROM the CDC
        # stream (medallion hop — never rescans src)
        run_foreach_batch(
            (spark.readStream.format("graft_manifest")
             .option("path", src)
             .option("readChangeFeed", "true")
             .option("keyCols", "o_orderkey").load()),
            cdc_apply_writer(os.path.join(path, "table"),
                             ["o_orderkey"], ["o_orderkey"], "cdcview"),
            os.path.join(path, "view_ck"))
        # gold hop: an AGGREGATE view maintained by retraction deltas
        # from the preimage-enabled CDC stream
        run_foreach_batch(
            (spark.readStream.format("graft_manifest")
             .option("path", src)
             .option("readChangeFeed", "true")
             .option("updatePreimages", "true")
             .option("keyCols", "o_orderkey").load()),
            cdc_agg_delta_writer(os.path.join(path, "agg"),
                                 ["status"], "total_price", "cdcagg"),
            os.path.join(path, "agg_ck"))

    return scoped_scratch("manifest_cdc_orders", sf_dir, build)


def streaming_manifest_cdc_feed(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The manifest table's CHANGE DATA FEED as a stream
    (sources/manifest_source.py:ManifestCDCStreamReader,
    ``option("readChangeFeed", "true")``): draining the 3-commit
    orders history must emit exactly the row-level change log —
    every base row as insert@0, the merge's post-image updates and
    inserts @1, the delete pre-images @2 — and NOTHING for rows the
    rewrites copied unchanged (the raw manifest tail would re-emit
    every copied row; this source diffs each commit instead).  The
    oracle derives the identical change log relationally from the raw
    orders table."""
    import os

    path = _cdc_orders_path(spark, sf_dir)
    return (spark.read.parquet(os.path.join(path, "feed"))
            .select("o_orderkey", "status",
                    F.col("total_price").cast("double").alias("total_price"),
                    "change_type", "commit_version"))


def manifest_cdc_downstream_view(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Changefeed-driven MATERIALIZED VIEW (streaming/sinks.py:
    cdc_apply_writer): a downstream manifest table maintained from the
    source table's CDC stream — per batch, collapse to the latest
    change per key, MERGE the post-images, DELETE the deleted keys —
    so the view converges to the source's latest state without ever
    rescanning the source (the bronze→silver medallion hop; per-batch
    cost is O(changes + affected files)).  The oracle recomputes the
    same end state relationally from the raw orders table, so the
    driver hash proves feed → apply → view end-to-end."""
    import os

    path = _cdc_orders_path(spark, sf_dir)
    return (read_manifest(spark, os.path.join(path, "table"))
            .select("o_orderkey", "status",
                    F.col("total_price").cast("double")
                    .alias("total_price")))


def cdc_incremental_agg_view(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Incrementally-maintained AGGREGATE view
    (streaming/sinks.py:cdc_agg_delta_writer): per-status order count
    and revenue, maintained purely from the preimage-enabled CDC
    stream by retraction deltas (+1 for insert/update_postimage, −1
    for delete/update_preimage) — the source table is never rescanned
    and updates that MOVE a row between statuses transfer it between
    groups.  Sums accumulate in exact DECIMAL, so the converged view
    equals the batch aggregate bit-for-bit, which is precisely what
    the oracle asserts."""
    import os

    path = _cdc_orders_path(spark, sf_dir)
    return (read_manifest(spark, os.path.join(path, "agg"))
            .select("status",
                    F.col("n_rows").alias("n_orders"),
                    F.col("sum_value").cast("double").alias("sum_price")))


ORACLE_SQL: dict[str, str] = {
    "cdc_incremental_agg_view": """
        WITH final AS (
            SELECT CASE WHEN o_orderkey % 10 = 0 THEN 'U'
                        ELSE o_orderstatus END AS status,
                   CASE WHEN o_orderkey % 10 = 0
                        THEN CAST(CAST(o_totalprice AS DECIMAL(12,2))
                                  AS DOUBLE) + 1.0
                        ELSE CAST(CAST(o_totalprice AS DECIMAL(12,2))
                                  AS DOUBLE) END AS total_price
            FROM orders
            WHERE o_orderkey % 7 <> 0
            UNION ALL
            SELECT 'N' AS status, CAST(i AS DOUBLE) + 0.5 AS total_price
            FROM range(5) AS t(i)
            WHERE (1000000000 + i) % 7 <> 0
        )
        SELECT status,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(total_price AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_price
        FROM final GROUP BY status
    """,
    "streaming_manifest_cdc_feed": """
        WITH merged AS (
            SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
                   CASE WHEN o_orderkey % 10 = 0 THEN 'U'
                        ELSE o_orderstatus END AS status,
                   CASE WHEN o_orderkey % 10 = 0
                        THEN CAST(CAST(o_totalprice AS DECIMAL(12,2))
                                  AS DOUBLE) + 1.0
                        ELSE CAST(CAST(o_totalprice AS DECIMAL(12,2))
                                  AS DOUBLE) END AS total_price
            FROM orders
            UNION ALL
            SELECT CAST(1000000000 + i AS BIGINT) AS o_orderkey,
                   'N' AS status, CAST(i AS DOUBLE) + 0.5 AS total_price
            FROM range(5) AS t(i)
        )
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
               o_orderstatus AS status,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
                   AS total_price,
               'insert' AS change_type,
               CAST(0 AS BIGINT) AS commit_version
        FROM orders
        UNION ALL
        SELECT CAST(o_orderkey AS BIGINT), 'U',
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) + 1.0,
               'update', CAST(1 AS BIGINT)
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT CAST(1000000000 + i AS BIGINT), 'N',
               CAST(i AS DOUBLE) + 0.5, 'insert', CAST(1 AS BIGINT)
        FROM range(5) AS t(i)
        UNION ALL
        SELECT o_orderkey, status, total_price, 'delete',
               CAST(2 AS BIGINT)
        FROM merged WHERE o_orderkey % 7 = 0
    """,
    "manifest_cdc_downstream_view": """
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
               CASE WHEN o_orderkey % 10 = 0 THEN 'U'
                    ELSE o_orderstatus END AS status,
               CASE WHEN o_orderkey % 10 = 0
                    THEN CAST(CAST(o_totalprice AS DECIMAL(12,2))
                              AS DOUBLE) + 1.0
                    ELSE CAST(CAST(o_totalprice AS DECIMAL(12,2))
                              AS DOUBLE) END AS total_price
        FROM orders
        WHERE o_orderkey % 7 <> 0
        UNION ALL
        SELECT CAST(1000000000 + i AS BIGINT) AS o_orderkey,
               'N' AS status, CAST(i AS DOUBLE) + 0.5 AS total_price
        FROM range(5) AS t(i)
        WHERE (1000000000 + i) % 7 <> 0
    """,
    "streaming_cdc_apply": """
        WITH base AS (
            SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
                   o_orderstatus AS status,
                   CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
                       AS total_price
            FROM orders)
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 10 = 4 THEN 'updated'
                    ELSE status END AS status,
               CASE WHEN o_orderkey % 10 = 4 THEN total_price + 2.5
                    ELSE total_price END AS total_price
        FROM base
        WHERE o_orderkey % 10 <> 3
        UNION ALL
        SELECT CAST(2000000000 + i AS BIGINT) AS o_orderkey,
               'new' AS status, CAST(i AS DOUBLE) AS total_price
        FROM range(25) AS t(i)
    """,
    "streaming_dv_forget": """
        SELECT o_orderstatus AS status,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_price
        FROM orders
        WHERE o_custkey % 9 <> 0
        GROUP BY 1
    """,
    "streaming_manifest_upsert_view": """
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                   AS total_value,
               MAX(ts) AS last_seen
        FROM events GROUP BY user_id
    """,
    "streaming_manifest_tail": """
        SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
               CAST(n_regionkey AS BIGINT) AS n_regionkey
        FROM nation
    """,
    "streaming_manifest_sink": """
        SELECT CAST(event_id AS BIGINT) AS event_id,
               CAST(user_id AS BIGINT) AS user_id,
               event_type,
               CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS value
        FROM events
    """,
    "streaming_enriched_events": """
        SELECT e.event_id, e.user_id, e.event_type,
               COALESCE(c.c_mktsegment, 'NONE') AS segment,
               CAST(COALESCE(c.c_nationkey, -1) AS BIGINT) AS nation_key
        FROM events e
        LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
    "streaming_dedup": """
        SELECT event_id, ts, user_id, event_type,
               CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS value
        FROM events
    """,
    "streaming_click_purchase": """
        SELECT c.event_id AS click_id,
               p.event_id AS purchase_id,
               c.user_id,
               c.ts AS click_ts,
               p.ts AS purchase_ts,
               CAST(round(EPOCH(p.ts) - EPOCH(c.ts), 6) AS DOUBLE) AS lag_seconds
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts
         AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
    "streaming_tumbling_hourly": """
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    "streaming_sessionize": """
        WITH flagged AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN EPOCH(ts) - EPOCH(LAG(ts) OVER w) >= 1800
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        ),
        ids AS (
            SELECT user_id, ts, value,
                   SUM(new_session) OVER (PARTITION BY user_id
                        ORDER BY ts ASC, event_id ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS session_seq
            FROM flagged
        )
        SELECT user_id, MIN(ts) AS session_start,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM ids GROUP BY user_id, session_seq
    """,
    "streaming_quality_filter": """
        WITH base AS (
            SELECT doc_id,
                   len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok,
                   len(text) AS n_char,
                   len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha,
                   len(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
                   len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                       w -> lower(w) IN
                       ('the','a','of','and','to','in','is'))) AS stop_hits,
                   len(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
                       AS n_distinct
            FROM documents
        ),
        scores AS (
            SELECT doc_id,
                   least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) AS length_score,
                   least(CAST(stop_hits AS DOUBLE) / n_tok * 5.0, 1.0)
                       AS stopword_score,
                   CAST(n_alpha AS DOUBLE) / n_char AS alpha_score,
                   CAST(n_distinct AS DOUBLE) / n_tok AS repetition_score,
                   1.0 - CAST(n_digit AS DOUBLE) / n_char AS digit_score
            FROM base
        )
        SELECT doc_id,
               CAST(round(length_score, 6) AS DOUBLE) AS length_score,
               CAST(round(stopword_score, 6) AS DOUBLE) AS stopword_score,
               CAST(round(alpha_score, 6) AS DOUBLE) AS alpha_score,
               CAST(round(repetition_score, 6) AS DOUBLE) AS repetition_score,
               CAST(round(digit_score, 6) AS DOUBLE) AS digit_score,
               CAST(round((length_score + stopword_score + alpha_score
                    + repetition_score + digit_score) / 5.0, 6) AS DOUBLE)
                   AS quality,
               ((length_score + stopword_score + alpha_score
                    + repetition_score + digit_score) / 5.0 >= 0.7)
                   AS passes_filter
        FROM scores
        WHERE round((length_score + stopword_score + alpha_score
                    + repetition_score + digit_score) / 5.0, 6) >= 0.7
    """,
    "streaming_user_lifetime": """
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
               MAX(ts) AS last_seen
        FROM events GROUP BY user_id
    """,
}

QUERIES = {
    "streaming_enriched_events": streaming_enriched_events,
    "streaming_dedup": streaming_dedup,
    "streaming_click_purchase": streaming_click_purchase,
    "streaming_quality_filter": streaming_quality_filter,
    "streaming_tumbling_hourly": streaming_tumbling_hourly,
    "streaming_sessionize": streaming_sessionize,
    "streaming_user_lifetime": streaming_user_lifetime,
    "streaming_manifest_tail": streaming_manifest_tail,
    "streaming_manifest_sink": streaming_manifest_sink,
    "streaming_manifest_upsert_view": streaming_manifest_upsert_view,
    "streaming_dv_forget": streaming_dv_forget,
    "streaming_cdc_apply": streaming_cdc_apply,
    "streaming_manifest_cdc_feed": streaming_manifest_cdc_feed,
    "manifest_cdc_downstream_view": manifest_cdc_downstream_view,
    "cdc_incremental_agg_view": cdc_incremental_agg_view,
}

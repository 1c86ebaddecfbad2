"""Batch-vs-stream equivalence (SURVEY.md §5.5): the same logical
operators run via ``read`` and via ``readStream`` + AvailableNow must
agree row-for-row.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from data_engineering_pipeline_project_cloud_spark.plans.temporal import (
    sessionize_events,
    sliding_events,
    tumbling_hourly_events,
)
from data_engineering_pipeline_project_cloud_spark.streaming import (
    read_events_stream,
    run_available_now,
    stream_session_windows,
    stream_sliding_counts,
    stream_tumbling_hourly,
    stream_user_lifetime_stats,
)
from data_engineering_pipeline_project_cloud_spark.testing import diff_results


@pytest.fixture()
def events_stream(spark, sf_dir):
    return read_events_stream(spark, sf_dir)


def _compare(batch_df, spark, table):
    got = spark.table(table)
    problems = diff_results(
        got.columns, [tuple(r) for r in got.collect()],
        batch_df.columns, [tuple(r) for r in batch_df.collect()])
    assert not problems, "; ".join(problems)


def test_stream_tumbling_matches_batch(spark, sf_dir, events_stream, tmp_path):
    run_available_now(
        stream_tumbling_hourly(events_stream).drop("approx_users"),
        "t_tumbling", str(tmp_path / "ckpt"))
    batch = tumbling_hourly_events(spark, sf_dir).drop("n_users")
    _compare(batch, spark, "t_tumbling")


def test_stream_sliding_matches_batch(spark, sf_dir, events_stream, tmp_path):
    run_available_now(stream_sliding_counts(events_stream),
                      "t_sliding", str(tmp_path / "ckpt"))
    _compare(sliding_events(spark, sf_dir), spark, "t_sliding")


def test_stream_sessions_match_batch(spark, sf_dir, events_stream, tmp_path):
    run_available_now(stream_session_windows(events_stream),
                      "t_sessions", str(tmp_path / "ckpt"))
    # align faces: batch emits (user, seq, start, end, n, sum) where
    # end = last event ts; session_window's end = last ts + gap.  Key
    # both on (user_id, session_start) and compare counts and sums.
    batch = sessionize_events(spark, sf_dir).select(
        "user_id", "session_start", "n_events", "sum_value")
    stream = spark.table("t_sessions").select(
        "user_id", "session_start", "n_events", "sum_value")
    problems = diff_results(
        stream.columns, [tuple(r) for r in stream.collect()],
        batch.columns, [tuple(r) for r in batch.collect()])
    assert not problems, "; ".join(problems)


def test_stream_stream_join_matches_batch(spark, sf_dir, events_stream,
                                          tmp_path):
    from data_engineering_pipeline_project_cloud_spark.plans.temporal import (
        click_purchase_correlation,
    )
    from data_engineering_pipeline_project_cloud_spark.streaming.joins import (
        stream_click_purchase_join,
    )

    run_available_now(stream_click_purchase_join(events_stream),
                      "t_ssjoin", str(tmp_path / "ckpt"),
                      output_mode="append")
    _compare(click_purchase_correlation(spark, sf_dir), spark, "t_ssjoin")


def test_stateful_survives_multiple_microbatches(spark, sf_dir, tmp_path):
    """Split the events table into 3 files and stream with
    maxFilesPerTrigger=1: the stateful operator must fold 3 separate
    micro-batches into the same final state as one batch pass — the
    incremental-correctness property a single-batch drain can't test."""
    from data_engineering_pipeline_project_cloud_spark.sources import load_table
    from data_engineering_pipeline_project_cloud_spark.streaming.events import (
        stream_user_lifetime_stats,
    )

    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "chunks")
    ev.repartition(3).write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    run_available_now(stream_user_lifetime_stats(stream), "t_multi",
                      str(tmp_path / "ckpt"), output_mode="update")
    final = (spark.table("t_multi")
             .withColumn("rn", F.row_number().over(
                 Window.partitionBy("user_id")
                 .orderBy(F.col("n_events").desc())))
             .filter("rn = 1").drop("rn"))
    batch = (ev.groupBy("user_id")
             .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                  F.sum(F.col("value").cast("decimal(12,2)")).cast("double")
                  .alias("total_value"),
                  F.max("ts").alias("last_seen")))
    # at least 2 distinct micro-batch emissions must exist for some user
    per_user_rows = (spark.table("t_multi").groupBy("user_id").count()
                     .agg(F.max("count")).collect()[0][0])
    assert per_user_rows >= 2, "stream did not split into micro-batches"
    problems = diff_results(
        final.columns, [tuple(r) for r in final.collect()],
        batch.columns, [tuple(r) for r in batch.collect()])
    assert not problems, "; ".join(problems)


def test_stream_quality_filter_matches_batch(spark, sf_dir, tmp_path):
    """The LLM-data quality filter composed with streaming: identical
    rows to the batch operator."""
    from data_engineering_pipeline_project_cloud_spark.operators import (
        textstats as tx,
    )
    from data_engineering_pipeline_project_cloud_spark.sources import load_table
    from data_engineering_pipeline_project_cloud_spark.streaming.documents import (
        read_documents_stream,
        stream_quality_filter,
    )

    stream = read_documents_stream(spark, sf_dir)
    run_available_now(stream_quality_filter(stream), "t_quality",
                      str(tmp_path / "ckpt"), output_mode="append")
    batch_scored = tx.quality_score(load_table(spark, sf_dir, "documents"))
    batch = batch_scored.filter(batch_scored["quality"] >= 0.7)
    _compare(batch, spark, "t_quality")


def test_stream_dedup_drops_redeliveries(spark, sf_dir, tmp_path):
    """Duplicate the whole events table (simulated at-least-once
    redelivery) and stream it through dropDuplicatesWithinWatermark:
    exactly the original rows must survive."""
    from data_engineering_pipeline_project_cloud_spark.sources import load_table
    from data_engineering_pipeline_project_cloud_spark.streaming import (
        stream_dedup_events,
    )

    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "dup_src")
    ev.unionByName(ev).write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .parquet(src))
    run_available_now(stream_dedup_events(stream), "t_dedup",
                      str(tmp_path / "ckpt"), output_mode="append")
    got = spark.table("t_dedup")
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()


def test_checkpoint_restart_resumes_state(spark, sf_dir, tmp_path):
    """Exactly-once recovery: run the stateful lifetime aggregation,
    stop, add NEW source files, and restart from the SAME checkpoint —
    the second run must process only the new files, resume the saved
    per-user state, and converge to the batch answer over all files."""
    import shutil

    from data_engineering_pipeline_project_cloud_spark.sources import load_table
    from data_engineering_pipeline_project_cloud_spark.streaming.events import (
        stream_user_lifetime_stats,
    )

    ev = load_table(spark, sf_dir, "events")
    staged = str(tmp_path / "staged")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    ev.repartition(4).write.mode("overwrite").parquet(staged)
    import os
    os.makedirs(src)
    parts = sorted(f for f in os.listdir(staged) if f.endswith(".parquet"))
    assert len(parts) == 4
    schema = spark.read.parquet(staged).schema

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (stream_user_lifetime_stats(stream, output_mode="append")
             .writeStream.format("parquet")
             .option("path", sink)
             .option("checkpointLocation", ckpt)
             .outputMode("append")
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()

    # run 1: two files; run 2: two more files, same checkpoint
    for f in parts[:2]:
        shutil.copy(f"{staged}/{f}", f"{src}/{f}")
    run_once()
    for f in parts[2:]:
        shutil.copy(f"{staged}/{f}", f"{src}/{f}")
    run_once()

    final = (spark.read.parquet(sink)
             .withColumn("rn", F.row_number().over(
                 Window.partitionBy("user_id")
                 .orderBy(F.col("n_events").desc())))
             .filter("rn = 1").drop("rn"))
    batch = (ev.groupBy("user_id")
             .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                  F.sum(F.col("value").cast("decimal(12,2)")).cast("double")
                  .alias("total_value"),
                  F.max("ts").alias("last_seen")))
    problems = diff_results(
        final.columns, [tuple(r) for r in final.collect()],
        batch.columns, [tuple(r) for r in batch.collect()])
    assert not problems, "; ".join(problems)


def test_stateful_lifetime_matches_batch(spark, sf_dir, events_stream,
                                         tmp_path):
    run_available_now(stream_user_lifetime_stats(events_stream),
                      "t_lifetime", str(tmp_path / "ckpt"),
                      output_mode="update")
    # update mode appends one row per (user, micro-batch); the final
    # state per user is the row with the highest n_events.
    from data_engineering_pipeline_project_cloud_spark.sources import load_table

    final = (spark.table("t_lifetime")
             .withColumn("rn", F.row_number().over(
                 Window.partitionBy("user_id")
                 .orderBy(F.col("n_events").desc())))
             .filter("rn = 1").drop("rn"))
    batch = (load_table(spark, sf_dir, "events")
             .groupBy("user_id")
             .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                  F.sum(F.col("value").cast("decimal(12,2)")).cast("double")
                  .alias("total_value"),
                  F.max("ts").alias("last_seen")))
    problems = diff_results(
        final.columns, [tuple(r) for r in final.collect()],
        batch.columns, [tuple(r) for r in batch.collect()])
    assert not problems, "; ".join(problems)


def test_stream_left_outer_join_emits_null_after_watermark(
        spark, tmp_path):
    """Outer-join watermark semantics, driven batch by batch: an
    unmatched click must NOT emit while the watermark could still
    admit a matching purchase, and MUST emit exactly once with NULL
    purchase columns after later input pushes the watermark past its
    match window.  Matched pairs emit like the inner join."""
    import datetime as dt
    import os

    from data_engineering_pipeline_project_cloud_spark.streaming.joins import (
        stream_click_purchase_left_outer,
    )

    def ev(eid, ts, uid, etype):
        return (eid, dt.datetime.fromisoformat(ts), uid, etype, 1.0)

    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    os.makedirs(src)

    def add_batch(name, rows):
        (spark.createDataFrame(rows, schema).coalesce(1)
         .write.mode("overwrite").parquet(str(tmp_path / "stage")))
        part = [f for f in os.listdir(str(tmp_path / "stage"))
                if f.endswith(".parquet")][0]
        os.rename(os.path.join(str(tmp_path / "stage"), part),
                  os.path.join(src, name + ".parquet"))

    def run_once():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = (stream_click_purchase_left_outer(stream)
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt).outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination()
        if not any(f.endswith(".parquet") for f in os.listdir(sink)):
            return spark.createDataFrame(
                [], "click_id long, user_id long, click_ts timestamp, "
                    "purchase_id long, purchase_ts timestamp")
        return spark.read.parquet(sink)

    # batch 1: u1 click+purchase (match), u2 click (never matched)
    add_batch("b1", [
        ev(1, "2024-01-01T10:00:00", 1, "click"),
        ev(2, "2024-01-01T10:30:00", 1, "purchase"),
        ev(3, "2024-01-01T10:00:00", 2, "click"),
    ])
    out1 = run_once()
    got1 = {(r["click_id"], r["purchase_id"]) for r in out1.collect()}
    # the u2 NULL row must be withheld: watermark (max_ts - 2h) has
    # not passed 10:00 + 1h yet
    assert (3, None) not in got1
    # batch 2: far-future events advance the watermark past the
    # window.  BOTH sides must advance — the global watermark is the
    # MIN across the two withWatermark nodes (multipleWatermarkPolicy
    # default), so a far-future click alone leaves the purchase
    # watermark (and therefore the global one) stuck: the first
    # operational caveat every outer-join consumer must know.  The
    # second: the watermark updates at END of the batch that read the
    # new max event time, and under availableNow restarts the flush
    # needs a subsequent DATA batch — so batch 3 delivers the NULL.
    add_batch("b2", [ev(4, "2024-01-02T12:00:00", 3, "click"),
                     ev(5, "2024-01-02T12:00:00", 3, "purchase")])
    run_once()
    add_batch("b3", [ev(6, "2024-01-03T12:00:00", 4, "click"),
                     ev(7, "2024-01-03T12:00:00", 4, "purchase")])
    out3 = run_once()
    rows = [(r["click_id"], r["purchase_id"]) for r in out3.collect()]
    assert rows.count((1, 2)) == 1      # matched pair, exactly once
    assert rows.count((4, 5)) == 1      # batch-2 pair matched inline
    assert rows.count((3, None)) == 1   # unmatched click, NULL emit
    assert not any(c is None for c, _ in rows)


def test_drain_partitions_scale_adaptive(spark):
    """plans/streamed.py:_drain_partitions derives the state-partition
    count from the stream's source volume (guide §2.2): small drains
    use few state stores, large inputs clamp to the session setting."""
    from data_engineering_pipeline_project_cloud_spark.plans.streamed import (
        _drain_partitions,
    )

    sess = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert _drain_partitions(spark, None) == sess          # unknown → session
    assert _drain_partitions(spark, 1) == 1                # tiny → one store
    assert _drain_partitions(spark, 33 << 20) == min(sess, 2)
    assert _drain_partitions(spark, 1 << 40) == sess       # 1 TB → clamped


@pytest.mark.parametrize("conf_value", [None, "", "auto"])
def test_drain_partitions_falls_back_to_default_parallelism(conf_value):
    """An unset or non-numeric ``spark.sql.shuffle.partitions`` sizes
    the drain from ``sparkContext.defaultParallelism`` instead of
    raising."""
    from types import SimpleNamespace

    from data_engineering_pipeline_project_cloud_spark.plans.streamed import (
        _drain_partitions,
    )

    fake = SimpleNamespace(
        conf=SimpleNamespace(get=lambda key, default=None: conf_value),
        sparkContext=SimpleNamespace(defaultParallelism=6))
    assert _drain_partitions(fake, None) == 6
    assert _drain_partitions(fake, 1) == 1
    assert _drain_partitions(fake, 1 << 40) == 6


def test_stateful_drain_output_independent_of_partition_count(
        spark, sf_dir, events_stream, tmp_path):
    """State-partition count decides WHERE keys live, never what the
    aggregation computes: the tumbling drain must be row-identical at
    1 and at 8 state partitions (the invariant _drain relies on when
    it sizes partitions from the source volume)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    outs = []
    try:
        for i, parts in enumerate(("1", "8")):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            name = f"t_dp{i}"
            run_available_now(
                stream_tumbling_hourly(events_stream).drop("approx_users"),
                name, str(tmp_path / f"ckpt{i}"))
            outs.append(sorted(map(tuple, spark.table(name).collect())))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert outs[0] == outs[1] and outs[0]

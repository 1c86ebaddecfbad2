"""Round-5 manifest capabilities: log-based incremental changefeed,
CDC streaming source (readChangeFeed), serializable key-range conflict
detection, vacuum retention age, and commit-refusal orphan cleanup
(sources/manifest_source.py).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from data_engineering_pipeline_project_cloud_spark.sources import load_table
from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
    ManifestArrowWriter,
    _FileCommit,
    delete_from_manifest,
    load_manifest,
    manifest_changes,
    manifest_changes_incremental,
    merge_into_manifest,
    register,
    write_manifest_table,
)


@pytest.fixture()
def history_table(spark, sf_dir, tmp_path):
    """A manifest table with a 4-commit history: v0 multi-file initial
    load, v1 MERGE (1 update + 1 insert), v2 DELETE, v3 append."""
    path = str(tmp_path / "hist")
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"), "n_name")
    write_manifest_table(
        nat.filter("n_nationkey < 20").repartitionByRange(3, "n_nationkey"),
        path, ["n_nationkey"])  # v0
    merge_into_manifest(
        spark.createDataFrame([(0, "ZED"), (100, "NEWLAND")],
                              "n_nationkey long, n_name string"),
        path, ["n_nationkey"], ["n_nationkey"])  # v1
    delete_from_manifest(
        spark.createDataFrame([(5,)], "n_nationkey long"),
        path, ["n_nationkey"], ["n_nationkey"])  # v2
    (nat.filter("n_nationkey >= 20").coalesce(1)
     .write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "n_nationkey").save())  # v3
    return path


def test_incremental_changefeed_equals_full_diff(spark, history_table):
    """The log-based changefeed must equal the full-snapshot diff on
    every version window of the same history."""
    for lo, hi in [(0, None), (0, 2), (1, 2), (1, None), (2, None),
                   (3, 3)]:
        full = {tuple(r) for r in manifest_changes(
            spark, history_table, lo, hi, ["n_nationkey"]).collect()}
        inc = {tuple(r) for r in manifest_changes_incremental(
            spark, history_table, lo, hi, ["n_nationkey"]).collect()}
        assert inc == full, f"window {(lo, hi)} diverged"
    got = {r["n_nationkey"]: r["change_type"]
           for r in manifest_changes_incremental(
               spark, history_table, 0, None, ["n_nationkey"]).collect()}
    assert got[0] == "update" and got[100] == "insert" \
        and got[5] == "delete"
    assert all(got[k] == "insert" for k in range(20, 25))


def test_incremental_changefeed_reads_only_delta_files(
        spark, history_table, monkeypatch):
    """The whole point of the log-based form: only files in the live-set
    symmetric difference are opened — the v0 file(s) a later commit
    never touched must NOT be read for a v1→v2 window."""
    from pyspark.sql.readwriter import DataFrameReader

    opened: list[str] = []
    real = DataFrameReader.parquet

    def spy(self, *paths):
        opened.extend(paths)
        return real(self, *paths)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    manifest_changes_incremental(
        spark, history_table, 1, 2, ["n_nationkey"]).collect()
    m1 = load_manifest(history_table, 1)
    m2 = load_manifest(history_table, 2)
    live1 = {f["path"] for f in m1["files"] if not f.get("dead")}
    live2 = {f["path"] for f in m2["files"] if not f.get("dead")}
    delta = (live1 - live2) | (live2 - live1)
    assert delta, "fixture must contain a rewrite between v1 and v2"
    assert set(opened) == delta
    # strictly fewer files than the two full snapshots the value diff
    # would otherwise scan
    assert len(set(opened)) < len(live1 | live2)


def _drain_cdc(spark, path: str, ckpt: str, key_cols: str = "n_nationkey"):
    """Drain the CDC stream into a parquet sink (supports checkpoint
    recovery, unlike the memory sink) and return the accumulated
    sink contents."""
    register(spark)
    stream = (spark.readStream.format("graft_manifest")
              .option("path", path)
              .option("readChangeFeed", "true")
              .option("keyCols", key_cols).load())
    sink = ckpt + "_sink"
    q = (stream.writeStream.format("parquet")
         .option("path", sink)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.read.parquet(sink)


def test_cdc_stream_emits_row_level_changes(spark, history_table, tmp_path):
    """readChangeFeed emits the history's row-level change log:
    inserts at v0/v3, the merge's update+insert at v1, the delete at
    v2 — and rows the rewrites copied unchanged are NOT re-emitted
    (the raw tail's duplicate leak is exactly what this closes)."""
    got = _drain_cdc(spark, history_table, str(tmp_path / "ck")).collect()
    by_ver: dict[int, dict[int, str]] = {}
    for r in got:
        by_ver.setdefault(r["commit_version"], {})[r["n_nationkey"]] = \
            r["change_type"]
    assert set(by_ver[0]) == set(range(20)) \
        and set(by_ver[0].values()) == {"insert"}
    assert by_ver[1] == {0: "update", 100: "insert"}
    assert by_ver[2] == {5: "delete"}
    assert by_ver[3] == {k: "insert" for k in range(20, 25)}
    # images: update/insert carry post, delete carries pre
    vals = {(r["commit_version"], r["n_nationkey"]): r["n_name"]
            for r in got}
    assert vals[(1, 0)] == "ZED" and vals[(1, 100)] == "NEWLAND"
    assert vals[(2, 5)] is not None
    # total row count: no unchanged row ever re-emitted
    assert len(got) == 20 + 2 + 1 + 5


def test_cdc_stream_checkpoint_resume_no_reemit(spark, history_table,
                                                tmp_path):
    """Restarting from the checkpoint after new commits emits ONLY the
    new commits' changes (version offsets are durable)."""
    ckpt = str(tmp_path / "ck2")
    first = _drain_cdc(spark, history_table, ckpt).count()
    assert first == 28
    merge_into_manifest(
        spark.createDataFrame([(1, "ALTERED")],
                              "n_nationkey long, n_name string"),
        history_table, ["n_nationkey"], ["n_nationkey"])  # v4
    # the parquet sink accumulates across runs: exactly ONE new row —
    # the resumed query emitted only the new commit, nothing replayed
    got = _drain_cdc(spark, history_table, ckpt).collect()
    assert len(got) == 28 + 1
    new = [r for r in got if r["commit_version"] == 4]
    assert [(r["n_nationkey"], r["change_type"], r["n_name"])
            for r in new] == [(1, "update", "ALTERED")]


def test_cdc_stream_compaction_emits_nothing(spark, sf_dir, tmp_path):
    """OPTIMIZE rewrites layout, not values — the CDC stream must emit
    zero rows for a compaction commit (the raw tail would re-emit
    every compacted row)."""
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        compact_manifest,
    )

    path = str(tmp_path / "cmp")
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"), "n_name")
    write_manifest_table(nat.filter("n_nationkey < 10").coalesce(1),
                         path, ["n_nationkey"])
    (nat.filter("n_nationkey >= 10").coalesce(1)
     .write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "n_nationkey").save())
    compact_manifest(spark, path, ["n_nationkey"], 1_000_000)
    assert load_manifest(path)["version"] == 2
    got = _drain_cdc(spark, path, str(tmp_path / "ck3")).collect()
    assert {r["commit_version"] for r in got} == {0, 1}
    assert len(got) == 25


def test_cdc_stream_requires_key_cols_for_rewrites(spark, history_table,
                                                   tmp_path):
    register(spark)
    stream = (spark.readStream.format("graft_manifest")
              .option("path", history_table)
              .option("readChangeFeed", "true").load())
    q = (stream.writeStream.format("memory").queryName("cdc_nokeys")
         .option("checkpointLocation", str(tmp_path / "ck4"))
         .trigger(availableNow=True).start())
    with pytest.raises(Exception, match="keyCols"):
        q.awaitTermination()


def test_cdc_batch_read_refused(spark, history_table):
    register(spark)
    with pytest.raises(Exception, match="streaming option"):
        (spark.read.format("graft_manifest")
         .option("path", history_table)
         .option("readChangeFeed", "true").load().collect())


def _staged_append(spark, path: str, rows: dict, stats: dict,
                   conflict: str | None = None):
    """Driver-side stand-in for an executor append: a writer plus one
    staged data file, not yet committed (house pattern from
    test_manifest_source.py's CAS tests)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    opts = {"path": path, "statcols": ",".join(stats)}
    if conflict is not None:
        opts["conflictkeys"] = conflict
    w = ManifestArrowWriter(
        opts, spark.createDataFrame(
            [(0, "x")], "n_nationkey long, n_name string").schema,
        overwrite=False)
    tmp = os.path.join(path, f".stage.{w._commit_id}.tmp")
    final = os.path.join(path, f"part-x-{w._commit_id}.parquet")
    pq.write_table(pa.table(rows), tmp)
    return w, [_FileCommit(tmp_path=tmp, final_path=final,
                           rows=len(next(iter(rows.values()))),
                           stats=stats)]


def test_serializable_conflict_append_vs_merge(spark, sf_dir, tmp_path):
    """A MERGE planned at version V must FAIL at commit time when a
    concurrent append that landed after V inserted one of the merged
    keys — previously it silently won, leaving duplicate keys in the
    keyed view (SCALE.md's documented WriteSerializable gap)."""
    path = str(tmp_path / "ser")
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"), "n_name")
    write_manifest_table(nat.coalesce(1), path, ["n_nationkey"])  # v0

    # the merge, staged as a writer that planned against v0
    base = load_manifest(path)
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        _conflict_option,
        _key_pruning_info,
    )

    updates = spark.createDataFrame([(3, "PATCHED")],
                                    "n_nationkey long, n_name string")
    bounds, keys, _ = _key_pruning_info(updates, ["n_nationkey"])
    conflict = _conflict_option(base["version"], "n_nationkey",
                                bounds, keys)
    w, msgs = _staged_append(
        spark, path, {"n_nationkey": [3], "n_name": ["PATCHED"]},
        {"n_nationkey": {"min": 3, "max": 3}}, conflict=conflict)

    # concurrent plain append inserting the SAME key lands first
    (spark.createDataFrame([(3, "RACER")],
                           "n_nationkey long, n_name string")
     .coalesce(1).write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "n_nationkey").save())  # v1

    v_before = load_manifest(path)["version"]
    with pytest.raises(ValueError, match="serializable conflict"):
        w.commit(msgs)
    assert load_manifest(path)["version"] == v_before
    assert not os.path.exists(msgs[0].final_path)


def test_disjoint_concurrent_append_still_commits(spark, sf_dir, tmp_path):
    """The conflict check is key-range-exact, not a table lock: a
    concurrent append whose keys are DISJOINT from the merge's key set
    must not fail the merge (stats/bisect prove disjointness)."""
    path = str(tmp_path / "serok")
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"), "n_name")
    write_manifest_table(nat.coalesce(1), path, ["n_nationkey"])  # v0
    base = load_manifest(path)
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        _conflict_option,
        _key_pruning_info,
    )

    updates = spark.createDataFrame([(3, "PATCHED")],
                                    "n_nationkey long, n_name string")
    bounds, keys, _ = _key_pruning_info(updates, ["n_nationkey"])
    conflict = _conflict_option(base["version"], "n_nationkey",
                                bounds, keys)
    w, msgs = _staged_append(
        spark, path, {"n_nationkey": [3], "n_name": ["PATCHED"]},
        {"n_nationkey": {"min": 3, "max": 3}}, conflict=conflict)
    # concurrent append far away in key space
    (spark.createDataFrame([(900, "FARAWAY")],
                           "n_nationkey long, n_name string")
     .coalesce(1).write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "n_nationkey").save())  # v1
    w.commit(msgs)  # must succeed
    latest = load_manifest(path)
    assert latest["version"] == base["version"] + 2
    assert msgs[0].final_path in [f["path"] for f in latest["files"]]


def test_merge_api_detects_racing_append(spark, sf_dir, tmp_path,
                                         monkeypatch):
    """End-to-end through merge_into_manifest: an append racing in
    between the merge's planning read and its commit raises the
    serializable-conflict error (injected via the planning hook)."""
    import data_engineering_pipeline_project_cloud_spark.sources.manifest_source as ms

    path = str(tmp_path / "serapi")
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"), "n_name")
    write_manifest_table(nat.coalesce(1), path, ["n_nationkey"])  # v0

    real = ms._key_pruning_info
    fired = {"done": False}

    def race_then_plan(updates, key_cols, max_driver_keys=100_000):
        out = real(updates, key_cols, max_driver_keys)
        if not fired["done"]:
            fired["done"] = True
            (spark.createDataFrame([(7, "RACER")],
                                   "n_nationkey long, n_name string")
             .coalesce(1).write.format("graft_manifest").mode("append")
             .option("path", path).option("statCols", "n_nationkey")
             .save())
        return out

    monkeypatch.setattr(ms, "_key_pruning_info", race_then_plan)
    with pytest.raises(Exception, match="serializable conflict"):
        merge_into_manifest(
            spark.createDataFrame([(7, "PATCHED")],
                                  "n_nationkey long, n_name string"),
            path, ["n_nationkey"], ["n_nationkey"])
    # table state: the racer's row is intact, the merge left nothing
    rows = {r["n_name"]
            for r in (spark.read.format("graft_manifest")
                      .option("path", path).load()
                      .filter("n_nationkey = 7").collect())}
    assert "RACER" in rows and "PATCHED" not in rows


def test_vacuum_min_age_protects_young_files(spark, sf_dir, tmp_path):
    """The retention-age guard: unreferenced data/staging files younger
    than min_age_seconds survive vacuum (they may belong to an
    in-flight commit between file publish and manifest claim); an aged
    vacuum removes them."""
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        vacuum_manifest,
    )

    path = str(tmp_path / "vage")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name")
    write_manifest_table(nat.coalesce(1), path, ["n_nationkey"])
    orphan = os.path.join(path, "part-v9999-deadbeef-00000.parquet")
    staging = os.path.join(path, ".part-x.123.tmp")
    import shutil

    src = [f["path"] for f in load_manifest(path)["files"]][0]
    shutil.copy(src, orphan)
    with open(staging, "w") as fh:
        fh.write("x")
    res = vacuum_manifest(path, keep_versions=1, min_age_seconds=3600)
    assert orphan not in res["removed_files"]
    assert staging not in res["removed_files"]
    assert os.path.exists(orphan) and os.path.exists(staging)
    res2 = vacuum_manifest(path, keep_versions=1, min_age_seconds=0)
    assert orphan in res2["removed_files"]
    assert staging in res2["removed_files"]


def test_schema_refusal_cleans_published_files(spark, sf_dir, tmp_path):
    """A commit refused for illegal schema evolution (type change) must
    unpublish its already-renamed data files — no orphan parquet left
    behind (round-4 ADVICE)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "sref")
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"), "n_name")
    write_manifest_table(nat.coalesce(1), path, ["n_nationkey"])  # v0
    w = ManifestArrowWriter(
        {"path": path, "statcols": ""},
        spark.createDataFrame([("a", "b")],
                              "n_nationkey string, n_name string").schema,
        overwrite=False)
    tmp = os.path.join(path, f".stage.{w._commit_id}.tmp")
    final = os.path.join(path, f"part-x-{w._commit_id}.parquet")
    pq.write_table(pa.table({"n_nationkey": ["a"], "n_name": ["b"]}), tmp)
    msg = _FileCommit(tmp_path=tmp, final_path=final, rows=1, stats={})
    with pytest.raises(ValueError, match="schema evolution"):
        w.commit([msg])
    assert not os.path.exists(final)
    live = {f["path"] for f in load_manifest(path)["files"]}
    leftovers = {os.path.join(path, n) for n in os.listdir(path)
                 if n.endswith(".parquet")} - live
    assert not leftovers


def test_cdc_preimages_emit_both_update_images(spark, history_table,
                                               tmp_path):
    """updatePreimages=true: every update emits an update_preimage row
    (old values) AND an update_postimage row (new values); inserts and
    deletes are unchanged."""
    register(spark)
    stream = (spark.readStream.format("graft_manifest")
              .option("path", history_table)
              .option("readChangeFeed", "true")
              .option("updatePreimages", "true")
              .option("keyCols", "n_nationkey").load())
    sink = str(tmp_path / "pre_sink")
    q = (stream.writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", str(tmp_path / "pre_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(sink).collect()
    v1 = {(r["change_type"], r["n_nationkey"]): r["n_name"]
          for r in got if r["commit_version"] == 1}
    assert ("update_preimage", 0) in v1 and v1[("update_preimage", 0)] != "ZED"
    assert v1[("update_postimage", 0)] == "ZED"
    assert v1[("insert", 100)] == "NEWLAND"
    assert ("update", 0) not in v1
    # one extra row vs the single-image feed (the update doubled)
    assert len(got) == 28 + 1


def test_cdc_agg_view_incremental_across_batches(spark, sf_dir, tmp_path):
    """Retraction-based IVM over TWO stream runs: run 1 builds the agg
    view from the initial history; a later cross-group update commit
    is applied by run 2 from its deltas alone — the view must equal
    the batch aggregate after each run, including the group transfer."""
    from data_engineering_pipeline_project_cloud_spark.streaming.sinks import (
        cdc_agg_delta_writer,
        run_foreach_batch,
    )

    src = str(tmp_path / "aggsrc")
    agg = str(tmp_path / "aggview")
    ckpt = str(tmp_path / "aggck")
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        F.col("n_name").alias("grp"),
        F.lit(10.0).alias("v"))
    grp_of = {r["n_nationkey"]: r["grp"] for r in nat.collect()}
    write_manifest_table(
        nat.filter("n_nationkey < 10").coalesce(1), src, ["n_nationkey"])

    def drain():
        run_foreach_batch(
            (spark.readStream.format("graft_manifest")
             .option("path", src).option("readChangeFeed", "true")
             .option("updatePreimages", "true")
             .option("keyCols", "n_nationkey").load()),
            cdc_agg_delta_writer(agg, ["grp"], "v", "aggtest"), ckpt)
        return {r["grp"]: (r["n_rows"], float(r["sum_value"]))
                for r in (spark.read.format("graft_manifest")
                          .option("path", agg).load().collect())}

    first = drain()
    assert first == {grp_of[k]: (1, 10.0) for k in range(10)}
    # cross-group move: key 3 changes group and value
    merge_into_manifest(
        spark.createDataFrame([(3, grp_of[7], 2.5)],
                              "n_nationkey long, grp string, v double"),
        src, ["n_nationkey"], ["n_nationkey"])
    second = drain()
    want = {grp_of[k]: (1, 10.0) for k in range(10) if k != 3}
    want[grp_of[3]] = (0, 0.0)              # retracted, group emptied
    want[grp_of[7]] = (2, 12.5)             # received the moved row
    assert second == want


def test_timestamp_as_of_travels_by_commit_time(spark, sf_dir, tmp_path):
    """timestampAsOf resolves the latest version committed at or
    before the requested time; a time before the first commit errors;
    versionAsOf+timestampAsOf together are refused."""
    path = str(tmp_path / "tt")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name")
    write_manifest_table(nat.filter("n_nationkey < 10").coalesce(1),
                         path, ["n_nationkey"])  # v0
    (nat.filter("n_nationkey >= 10").coalesce(1)
     .write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "n_nationkey").save())  # v1
    t0 = load_manifest(path, 0)["committedAt"]
    t1 = load_manifest(path, 1)["committedAt"]
    assert t1 >= t0
    register(spark)

    def count_at(ts):
        return (spark.read.format("graft_manifest").option("path", path)
                .option("timestampAsOf", str(ts)).load().count())

    assert count_at(t0) == 10           # exactly at v0's commit
    assert count_at((t0 + t1) / 2) == 10 if t1 > t0 else True
    assert count_at(t1 + 1) == 25       # after v1
    with pytest.raises(Exception, match="committed at or before"):
        count_at(t0 - 10)
    with pytest.raises(Exception, match="not both"):
        (spark.read.format("graft_manifest").option("path", path)
         .option("timestampAsOf", str(t1))
         .option("versionAsOf", "0").load().collect())


def test_write_constraints_reject_bad_batches(spark, sf_dir, tmp_path):
    """A constraint-violating write fails the job, publishes NOTHING
    (no manifest version, no data files, no staging leftovers), and a
    conforming write under the same constraints lands."""
    path = str(tmp_path / "con")
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"), "n_name")
    write_manifest_table(nat.coalesce(1), path, ["n_nationkey"])  # v0
    v0 = load_manifest(path)["version"]
    register(spark)
    cons = json.dumps([{"col": "n_nationkey", "notNull": True,
                        "min": 0, "max": 99}])
    bad = spark.createDataFrame([(500, "TOOBIG")],
                                "n_nationkey long, n_name string")
    with pytest.raises(Exception, match="constraint violated"):
        (bad.coalesce(1).write.format("graft_manifest").mode("append")
         .option("path", path).option("statCols", "n_nationkey")
         .option("constraints", cons).save())
    assert load_manifest(path)["version"] == v0
    assert not [n for n in os.listdir(path) if n.endswith(".tmp")]
    good = spark.createDataFrame([(50, "FINE")],
                                 "n_nationkey long, n_name string")
    (good.coalesce(1).write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "n_nationkey")
     .option("constraints", cons).save())
    assert load_manifest(path)["version"] == v0 + 1
    bad_null = spark.createDataFrame([(None, "NULLKEY")],
                                     "n_nationkey long, n_name string")
    with pytest.raises(Exception, match="NULL value"):
        (bad_null.coalesce(1).write.format("graft_manifest").mode("append")
         .option("path", path).option("statCols", "n_nationkey")
         .option("constraints", cons).save())


def test_fsck_reports_integrity_violations(spark, sf_dir, tmp_path):
    """fsck on a healthy table is clean; a deleted live file, a
    truncated row count, and an unreferenced parquet are each
    reported."""
    import shutil

    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        fsck_manifest,
    )

    path = str(tmp_path / "fsck")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name")
    write_manifest_table(
        nat.repartitionByRange(2, "n_nationkey"), path, ["n_nationkey"])
    rep = fsck_manifest(path)
    assert rep["ok"], rep
    live = [f["path"] for f in load_manifest(path)["files"]
            if not f.get("dead")]
    orphan = os.path.join(path, "part-v9999-feedface-00000.parquet")
    shutil.copy(live[0], orphan)
    os.remove(live[1])
    rep2 = fsck_manifest(path)
    assert not rep2["ok"]
    assert rep2["missing_files"] == [live[1]]
    assert rep2["orphan_files"] == [orphan]


def test_cdc_stream_across_schema_evolution_boundary(
        spark, sf_dir, tmp_path):
    """The CDC stream (and the raw tail) must survive a schema
    evolution INSIDE the streamed window: the stream's schema is fixed
    at query start, so partitions for pre-evolution versions align
    their files to the LATEST schema (Delta-CDF semantics) — before
    this was pinned, a drop/add commit mid-history made pre-boundary
    batches emit a mismatched Arrow schema and killed the write task."""
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        drop_column_from_manifest,
    )

    path = str(tmp_path / "evostream")
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        "n_name", F.col("n_regionkey").cast("long").alias("n_regionkey"))
    write_manifest_table(nat.coalesce(1), path, ["n_nationkey"])  # v0
    drop_column_from_manifest(path, "n_regionkey")                # v1
    (spark.createDataFrame([(100, "NEWLAND")],
                           "n_nationkey long, n_name string")
     .coalesce(1).write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "n_nationkey").save())  # v2
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    q = (spark.readStream.format("graft_manifest").option("path", path)
         .option("readChangeFeed", "true")
         .option("keyCols", "n_nationkey").load()
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    res = spark.read.parquet(out)
    assert set(res.columns) == {"n_nationkey", "n_name", "change_type",
                                "commit_version"}
    assert res.count() == 26  # 25 v0 inserts + 1 post-drop insert
    assert res.filter("commit_version = 1").count() == 0  # pure metadata
    # the raw tail crosses the same boundary in the latest schema
    q2 = (spark.readStream.format("graft_manifest")
          .option("path", path).load()
          .writeStream.format("parquet")
          .option("path", str(tmp_path / "out2"))
          .option("checkpointLocation", str(tmp_path / "ckpt2"))
          .trigger(availableNow=True).start())
    q2.awaitTermination(180)
    tail = spark.read.parquet(str(tmp_path / "out2"))
    assert set(tail.columns) == {"n_nationkey", "n_name"}
    assert tail.count() == 26


def test_changefeed_after_update_where(spark, sf_dir, tmp_path):
    """Round 9 (r8 verdict nit): an `update_manifest` commit flows
    through the changefeed as update rows — it commits through the
    same replacePaths+dvState protocol as MERGE, so the diff treats
    it identically; this pins that no UPDATE-specific gap exists."""
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        update_manifest,
    )

    path = str(tmp_path / "upd_cdc")
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        "n_name")
    write_manifest_table(
        nat.repartitionByRange(3, "n_nationkey"), path,
        ["n_nationkey"])  # v0
    update_manifest(spark, path, {"n_name": "upper(n_name) || '!'"},
                    "n_nationkey % 5 = 0")  # v1
    got = {(r["n_nationkey"], r["change_type"])
           for r in manifest_changes_incremental(
               spark, path, 0, None, ["n_nationkey"]).collect()}
    expected_updates = {r["n_nationkey"]
                        for r in nat.filter("n_nationkey % 5 = 0")
                        .collect()}
    assert got == {(k, "update") for k in expected_updates}
    # the streaming CDC feed with updatePreimages emits BOTH images
    # for the same commit (Delta-CDF fidelity)
    out = str(tmp_path / "cdc_out")
    ck = str(tmp_path / "cdc_ck")
    (spark.readStream.format("graft_manifest")
     .option("path", path).option("readChangeFeed", "true")
     .option("updatePreimages", "true")
     .option("keyCols", "n_nationkey").load()
     .writeStream.format("parquet").option("path", out)
     .option("checkpointLocation", ck)
     .trigger(availableNow=True).start().awaitTermination())
    rows = [r for r in spark.read.parquet(out).collect()
            if r["commit_version"] == 1]
    by_key_kind = {(r["n_nationkey"], r["change_type"]): r["n_name"]
                   for r in rows}
    for k in expected_updates:
        pre = by_key_kind[(k, "update_preimage")]
        post = by_key_kind[(k, "update_postimage")]
        assert post == pre.upper() + "!"
    assert len(rows) == 2 * len(expected_updates)

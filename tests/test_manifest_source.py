"""Manifest-table source (sources/manifest_source.py): footer-stats
manifest build, file pruning under pushed filters, correctness vs the
plain scan, and the never-prune-on-doubt contract.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThanOrEqual,
    IsNotNull,
    LessThan,
    StringStartsWith,
)

from data_engineering_pipeline_project_cloud_spark.sources import load_table
from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
    ManifestReader,
    _file_survives,
    load_manifest,
    register,
    write_manifest_table,
)
from data_engineering_pipeline_project_cloud_spark.testing import diff_results


@pytest.fixture(scope="module")
def manifest_dir(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("manifest_orders"))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("total_price"),
        F.year("o_orderdate").cast("int").alias("order_year"))
    m = write_manifest_table(
        orders.repartitionByRange(5, "order_year"), path,
        ["order_year", "o_orderkey"])
    return path, m


def test_manifest_has_files_and_stats(manifest_dir):
    _, m = manifest_dir
    assert len(m["files"]) >= 2, "range partitioning should yield >1 file"
    for f in m["files"]:
        assert f["rows"] > 0
        assert "order_year" in f["stats"]
        s = f["stats"]["order_year"]
        assert s["min"] <= s["max"]


def test_pushed_filter_prunes_files(manifest_dir):
    path, m = manifest_dir
    rd = ManifestReader({"path": path})
    total = len(rd.partitions())
    assert total == len(m["files"])
    cutoff = max(f["stats"]["order_year"]["min"] for f in m["files"])
    unsupported = list(rd.prune_for_scan(
        [GreaterThanOrEqual(("order_year",), cutoff)]))
    # every filter is declared unsupported (Spark re-applies row-wise)
    assert len(unsupported) == 1
    surviving = len(rd.partitions())
    assert surviving < total
    # exactly the stat-overlapping files survive
    want = sum(1 for f in m["files"]
               if f["stats"]["order_year"]["max"] >= cutoff)
    assert surviving == want


def test_scan_matches_plain_read(spark, sf_dir, manifest_dir):
    path, _ = manifest_dir
    register(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    got = (spark.read.format("graft_manifest").option("path", path).load()
           .filter(F.col("order_year") >= 1997)
           .groupBy("order_year").agg(F.count(F.lit(1)).alias("n")))
    want = (load_table(spark, sf_dir, "orders")
            .withColumn("order_year", F.year("o_orderdate").cast("int"))
            .filter(F.col("order_year") >= 1997)
            .groupBy("order_year").agg(F.count(F.lit(1)).alias("n")))
    problems = diff_results(got.columns, [tuple(r) for r in got.collect()],
                            want.columns, [tuple(r) for r in want.collect()])
    assert not problems, "; ".join(problems)


def test_never_prunes_on_doubt():
    stats = {"y": {"min": 10, "max": 20}}
    # disjoint range: pruned
    assert not _file_survives(stats, [LessThan(("y",), 10)])
    assert not _file_survives(stats, [EqualTo(("y",), 99)])
    # inside range: kept
    assert _file_survives(stats, [EqualTo(("y",), 15)])
    # unknown column, unsupported filter kinds, incomparable literal:
    # all kept
    assert _file_survives(stats, [EqualTo(("other",), 1)])
    assert _file_survives(stats, [IsNotNull(("y",))])
    assert _file_survives(stats, [StringStartsWith(("y",), "1")])
    assert _file_survives(stats, [EqualTo(("y",), "not-an-int")])


def test_prefix_prune_survives_max_codepoint_prefix():
    """A StartsWith prefix ending in U+10FFFF has no incrementable
    last character — the prune must be SKIPPED (file survives), not
    crash the whole scan with chr() out of range."""
    prefix = "b\U0010FFFF"
    # max >= prefix forces the upper-bound branch the old code
    # crashed in; the file must survive (prune skipped, not wrong)
    assert _file_survives({"y": {"min": "a", "max": "z"}},
                          [StringStartsWith(("y",), prefix)])
    assert _file_survives({"y": {"min": "c", "max": "d"}},
                          [StringStartsWith(("y",), prefix)])
    # the other prune direction still works: every row < prefix
    assert not _file_survives({"y": {"min": "a", "max": "b"}},
                              [StringStartsWith(("y",), prefix)])


def test_registry_face_oracle_shape(spark, sf_dir):
    from data_engineering_pipeline_project_cloud_spark.plans.relational import (
        manifest_pruned_scan,
    )
    out = manifest_pruned_scan(spark, sf_dir)
    rows = {r["order_year"]: r["n_orders"] for r in out.collect()}
    assert rows and min(rows) >= 1997


def test_writer_commit_protocol(spark, sf_dir, tmp_path):
    """Write path: empty partitions yield no file, no write-ahead tmp
    files survive commit, and a second overwrite keeps the first
    version's files readable (retention-governed, round 8) while the
    LATEST read sees only the new layout."""
    path = str(tmp_path / "m1")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name")
    # 8 partitions over 25 rows: some may be empty -> None commits
    m1 = write_manifest_table(nat.repartition(8, "n_nationkey"), path,
                              ["n_nationkey"])
    names = set(os.listdir(path))
    assert not any(n.endswith(".tmp") for n in names)
    listed1 = {os.path.basename(f["path"]) for f in m1["files"]}
    assert listed1 == {n for n in names if n.endswith(".parquet")}
    assert sum(f["rows"] for f in m1["files"]) == 25
    # overwrite with a different layout: the LATEST manifest lists
    # only the new files; the superseded version's files stay on disk
    # for time travel until a vacuum expires them
    m2 = write_manifest_table(nat.repartition(2, "n_nationkey"), path,
                              ["n_nationkey"])
    names2 = {n for n in os.listdir(path) if n.endswith(".parquet")}
    listed2 = {os.path.basename(f["path"]) for f in m2["files"]}
    assert names2 == listed1 | listed2
    assert listed1.isdisjoint(listed2)
    register(spark)
    got = (spark.read.format("graft_manifest").option("path", path)
           .load().count())
    assert got == 25


def test_footer_backfill_matches_commit_stats(spark, sf_dir, tmp_path):
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        build_manifest_from_footers,
    )

    path = str(tmp_path / "m2")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("int").alias("order_year"))
    m_commit = write_manifest_table(
        orders.repartitionByRange(3, "order_year"), path,
        ["order_year", "o_orderkey"])
    m_footer = build_manifest_from_footers(
        path, m_commit["schema"], ["order_year", "o_orderkey"])
    by_path_c = {f["path"]: f for f in m_commit["files"]}
    by_path_f = {f["path"]: f for f in m_footer["files"]}
    assert by_path_c.keys() == by_path_f.keys()
    for p in by_path_c:
        assert by_path_c[p]["rows"] == by_path_f[p]["rows"]
        assert by_path_c[p]["stats"] == by_path_f[p]["stats"]


def test_append_mode_extends_log(spark, sf_dir, tmp_path):
    """Append keeps prior manifest entries at their positions (the
    stream reader's offset contract) and bumps the version so file
    names never collide."""
    path = str(tmp_path / "m3")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    register(spark)
    m1 = write_manifest_table(nat.coalesce(1), path, ["n_nationkey"])
    (nat.coalesce(1).write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "n_nationkey").save())
    m2 = load_manifest(path)
    assert m2["version"] == m1.get("version", 0) + 1
    assert m2["files"][:len(m1["files"])] == m1["files"]
    assert len(m2["files"]) == 2 * len(m1["files"])
    got = (spark.read.format("graft_manifest").option("path", path)
           .load().count())
    assert got == 50


def test_stream_reads_only_appended_files(spark, sf_dir, tmp_path):
    """Manifest-tail streaming with checkpoint restart: run 1 drains
    the initial files; files appended afterwards are the ONLY rows
    run 2 (same checkpoint) emits — file-granular exactly-once."""
    path = str(tmp_path / "mstream")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    register(spark)
    write_manifest_table(nat.coalesce(1), path, ["n_nationkey"])

    def drain():
        q = (spark.readStream.format("graft_manifest")
             .option("path", path).load()
             .writeStream.format("parquet")
             .option("path", sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return spark.read.parquet(sink)

    first = drain().count()
    assert first == 25
    appended = nat.filter(F.col("n_nationkey") < 10).coalesce(1)
    (appended.write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "n_nationkey").save())
    total = drain().count()  # file sink accumulates across runs
    assert total == 35, "second run must emit exactly the 10 appended rows"


def test_overwrite_is_retention_governed(spark, sf_dir, tmp_path):
    """Round 8 (Delta semantics): an overwrite must never reuse live
    file names, must leave no staging tmps — and the SUPERSEDED
    version stays fully readable (`versionAsOf` below the overwrite)
    until `vacuum_manifest`'s retention window expires it.  VACUUM is
    what bounds storage: after keep_versions=1 with the age guard
    off, exactly the latest version's files remain on disk."""
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        read_manifest,
        vacuum_manifest,
    )

    path = str(tmp_path / "m4")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    m1 = write_manifest_table(nat.coalesce(1), path, ["n_nationkey"])
    v1_names = {os.path.basename(f["path"]) for f in m1["files"]}
    m2 = write_manifest_table(
        nat.filter(F.col("n_nationkey") < 10).coalesce(2), path,
        ["n_nationkey"])
    on_disk = load_manifest(path)
    assert on_disk["version"] == m1.get("version", 0) + 1
    v2_names = {os.path.basename(f["path"]) for f in m2["files"]}
    assert v1_names.isdisjoint(v2_names), "overwrite reused live names"
    names = set(os.listdir(path))
    assert not any(n.endswith(".tmp") for n in names)
    # retention-governed: the superseded version's files REMAIN
    assert {n for n in names if n.endswith(".parquet")} \
        == v1_names | v2_names
    register(spark)
    assert (spark.read.format("graft_manifest").option("path", path)
            .load().count()) == 10
    # time travel BELOW the overwrite still works
    v0 = read_manifest(spark, path, version=0)
    assert v0.count() == 25
    # VACUUM bounds storage: retention window = latest only
    rep = vacuum_manifest(path, keep_versions=1, min_age_seconds=0)
    assert {os.path.basename(p) for p in rep["removed_files"]} \
        >= v1_names
    names = set(os.listdir(path))
    assert {n for n in names if n.endswith(".parquet")} == v2_names
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not available|vacuumed"):
        read_manifest(spark, path, version=0).count()
    assert (spark.read.format("graft_manifest").option("path", path)
            .load().count()) == 10


def test_fully_pruned_scan_returns_zero_rows(spark, manifest_dir):
    """When pushed filters prune EVERY file, partitions() is empty and
    the runtime substitutes a single None partition; read(None) must
    yield nothing, not crash (round-3 advisory)."""
    path, m = manifest_dir
    register(spark)
    beyond = max(f["stats"]["order_year"]["max"] for f in m["files"]) + 1
    got = (spark.read.format("graft_manifest").option("path", path).load()
           .filter(F.col("order_year") >= beyond))
    assert got.count() == 0


def test_missing_path_option_raises_value_error(spark):
    register(spark)
    with pytest.raises(Exception, match="requires option 'path'"):
        spark.read.format("graft_manifest").load().collect()


def test_concurrent_appends_no_lost_update(spark, sf_dir, tmp_path):
    """Optimistic concurrency: two writers initialized against the SAME
    latest version both commit appends; the CAS loop must land them as
    consecutive versions with BOTH file sets present (no lost update)."""
    import json
    import pyarrow as pa
    import pyarrow.parquet as pq
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        ManifestArrowWriter,
        _FileCommit,
        load_manifest,
    )

    path = str(tmp_path / "mcc")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    m0 = write_manifest_table(nat.coalesce(1), path, ["n_nationkey"])

    def staged_commit(tag: str):
        """A writer whose task output is staged by hand (driver-side
        stand-in for the executor write path), not yet committed."""
        w = ManifestArrowWriter(
            {"path": path, "statcols": "k"},
            spark.createDataFrame([(1,)], "k int").schema,
            overwrite=False)
        tmp = os.path.join(path, f".stage_{tag}.{w._commit_id}.tmp")
        final = os.path.join(path, f"part-x-{tag}-{w._commit_id}.parquet")
        pq.write_table(pa.table({"k": [1, 2, 3]}), tmp)
        return w, [_FileCommit(tmp_path=tmp, final_path=final, rows=3,
                               stats={"k": {"min": 1, "max": 3}})]

    # both writers plan against version 0, then commit one after the
    # other — writer B's planned version collides and must rebase
    wa, ma = staged_commit("a")
    wb, mb = staged_commit("b")
    wa.commit(ma)
    wb.commit(mb)
    latest = load_manifest(path)
    assert latest["version"] == m0["version"] + 2
    paths = [f["path"] for f in latest["files"]]
    assert ma[0].final_path in paths and mb[0].final_path in paths
    assert len(paths) == len(m0["files"]) + 2
    # prior entries keep their log positions (stream-offset contract)
    assert latest["files"][:len(m0["files"])] == m0["files"]
    # intermediate snapshot is readable (time travel across the race)
    mid = load_manifest(path, m0["version"] + 1)
    assert len(mid["files"]) == len(m0["files"]) + 1


def test_time_travel_reads_version_as_of(spark, sf_dir, tmp_path):
    """Every commit leaves an immutable snapshot; versionAsOf=N reads
    the table exactly as of version N after later appends."""
    path = str(tmp_path / "mtt")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    register(spark)
    write_manifest_table(nat.filter(F.col("n_nationkey") < 10).coalesce(1),
                         path, ["n_nationkey"])
    (nat.filter(F.col("n_nationkey") >= 10).coalesce(1)
     .write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "n_nationkey").save())
    latest = spark.read.format("graft_manifest").option("path", path).load()
    v0 = (spark.read.format("graft_manifest").option("path", path)
          .option("versionAsOf", "0").load())
    assert latest.count() == 25
    assert v0.count() == 10
    assert v0.agg(F.max("n_nationkey")).collect()[0][0] == 9
    # a never-written version is a clear error, not garbage
    with pytest.raises(Exception, match="not available"):
        (spark.read.format("graft_manifest").option("path", path)
         .option("versionAsOf", "99").load().collect())


def test_schema_evolution_null_fills_old_files(spark, sf_dir, tmp_path):
    """Appending a widened schema evolves the manifest schema; files
    written before the new column read back NULL-filled (the
    add-column contract every table format honors)."""
    path = str(tmp_path / "mse")
    nat = load_table(spark, sf_dir, "nation")
    register(spark)
    write_manifest_table(
        nat.select("n_nationkey", "n_name").coalesce(1), path,
        ["n_nationkey"])
    (nat.select("n_nationkey", "n_name", "n_regionkey").coalesce(1)
     .write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "n_nationkey").save())
    df = spark.read.format("graft_manifest").option("path", path).load()
    assert set(df.columns) == {"n_nationkey", "n_name", "n_regionkey"}
    assert df.count() == 50
    assert df.filter(F.col("n_regionkey").isNull()).count() == 25
    # time travel before the evolution sees the NARROW schema
    v0 = (spark.read.format("graft_manifest").option("path", path)
          .option("versionAsOf", "0").load())
    assert v0.columns == ["n_nationkey", "n_name"]
    # a type CHANGE for an existing column is refused
    with pytest.raises(Exception, match="cannot change column"):
        (nat.select(F.col("n_nationkey").cast("string"), "n_name")
         .coalesce(1).write.format("graft_manifest").mode("append")
         .option("path", path).option("statCols", "").save())


def test_txn_append_is_idempotent(spark, sf_dir, tmp_path):
    """txnAppId/txnVersion watermarking: replaying a committed (app,
    version) append is a no-op — same rows, same manifest version, no
    orphan files (the exactly-once primitive the streaming sink uses)."""
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        load_manifest,
    )

    path = str(tmp_path / "mtxn")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    register(spark)
    write_manifest_table(nat.coalesce(1), path, ["n_nationkey"])

    def txn_append(batch_id: int):
        (nat.filter(F.col("n_nationkey") < 5).coalesce(1)
         .write.format("graft_manifest").mode("append")
         .option("path", path).option("statCols", "n_nationkey")
         .option("txnAppId", "app1").option("txnVersion", str(batch_id))
         .save())

    txn_append(0)
    v_after = load_manifest(path)["version"]
    n_after = (spark.read.format("graft_manifest").option("path", path)
               .load().count())
    txn_append(0)  # replay: must no-op
    assert load_manifest(path)["version"] == v_after
    assert (spark.read.format("graft_manifest").option("path", path)
            .load().count()) == n_after
    data_files = {n for n in os.listdir(path) if n.endswith(".parquet")}
    assert data_files == {os.path.basename(f["path"])
                          for f in load_manifest(path)["files"]}
    txn_append(1)  # a NEW batch id commits normally
    assert load_manifest(path)["version"] == v_after + 1
    assert (spark.read.format("graft_manifest").option("path", path)
            .load().count()) == n_after + 5


def _live(m):
    return [f for f in m["files"] if not f.get("dead")]


def test_merge_upsert_rewrites_only_affected_files(spark, sf_dir, tmp_path):
    """Copy-on-write MERGE: same-key rows replaced, new keys inserted,
    and ONLY the files whose key-range might match are rewritten — the
    rest keep their entries; replaced files are tombstoned in place
    (offset stability) and stay readable via time travel."""
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        load_manifest,
        merge_into_manifest,
    )

    path = str(tmp_path / "mmerge")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    m0 = write_manifest_table(
        nat.repartitionByRange(3, "n_nationkey"), path, ["n_nationkey"])
    assert len(m0["files"]) == 3
    updates = spark.createDataFrame(
        [(0, "ZED"), (100, "NEWLAND")], "n_nationkey long, n_name string")
    m1 = merge_into_manifest(updates, path, ["n_nationkey"],
                             ["n_nationkey"])
    # exact-key refinement: key 0 hits the first range file, key 100
    # none — exactly one file rewritten
    assert sum(1 for f in m1["files"] if f.get("dead")) == 1
    assert m1["version"] == m0["version"] + 1
    register(spark)
    df = spark.read.format("graft_manifest").option("path", path).load()
    assert df.count() == 26
    got = {r["n_nationkey"]: r["n_name"] for r in df.collect()}
    assert got[0] == "ZED" and got[100] == "NEWLAND"
    # untouched rows survive byte-for-byte
    orig = {r["n_nationkey"]: r["n_name"] for r in nat.collect()}
    assert all(got[k] == v for k, v in orig.items() if k != 0)
    # pre-merge snapshot still reads the original data
    v0 = (spark.read.format("graft_manifest").option("path", path)
          .option("versionAsOf", str(m0["version"])).load())
    assert {r["n_nationkey"]: r["n_name"]
            for r in v0.collect()} == orig


def test_delete_by_key_and_empty_rewrite(spark, sf_dir, tmp_path):
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        delete_from_manifest,
    )

    path = str(tmp_path / "mdel")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    write_manifest_table(
        nat.repartitionByRange(3, "n_nationkey"), path, ["n_nationkey"])
    keys = spark.createDataFrame([(k,) for k in range(10, 15)],
                                 "n_nationkey long")
    m1 = delete_from_manifest(keys, path, ["n_nationkey"], ["n_nationkey"])
    register(spark)
    df = spark.read.format("graft_manifest").option("path", path).load()
    assert df.count() == 20
    assert df.filter((F.col("n_nationkey") >= 10)
                     & (F.col("n_nationkey") < 15)).count() == 0
    # deleting keys that can't match any file is a no-op (no version bump)
    none = spark.createDataFrame([(999,)], "n_nationkey long")
    m2 = delete_from_manifest(none, path, ["n_nationkey"], ["n_nationkey"])
    assert m2["version"] == m1["version"]


def test_compaction_preserves_content(spark, sf_dir, tmp_path):
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        compact_manifest,
    )
    from data_engineering_pipeline_project_cloud_spark.testing import diff_results

    path = str(tmp_path / "mcomp")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    register(spark)
    write_manifest_table(
        nat.filter(F.col("n_nationkey") < 7).coalesce(1), path,
        ["n_nationkey"])
    for lo, hi in [(7, 14), (14, 20), (20, 26)]:
        (nat.filter((F.col("n_nationkey") >= lo)
                    & (F.col("n_nationkey") < hi)).coalesce(1)
         .write.format("graft_manifest").mode("append")
         .option("path", path).option("statCols", "n_nationkey").save())
    m1 = compact_manifest(spark, path, ["n_nationkey"], 1000)
    assert sum(1 for f in m1["files"] if f.get("dead")) == 4
    assert len(_live(m1)) == 1
    got = spark.read.format("graft_manifest").option("path", path).load()
    problems = diff_results(
        got.columns, [tuple(r) for r in got.collect()],
        nat.columns, [tuple(r) for r in nat.collect()])
    assert not problems, "; ".join(problems)
    # already-compacted: idempotent no-op
    m2 = compact_manifest(spark, path, ["n_nationkey"], 1000)
    assert m2["version"] == m1["version"]


def test_merge_conflict_detected(spark, sf_dir, tmp_path):
    """A commit whose replacePaths includes a file another commit
    already tombstoned must FAIL (write-write conflict) instead of
    resurrecting/duplicating its rows."""
    import json
    import pyarrow as pa
    import pyarrow.parquet as pq
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        ManifestArrowWriter,
        _FileCommit,
        load_manifest,
        merge_into_manifest,
    )

    path = str(tmp_path / "mconf")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    write_manifest_table(nat.coalesce(1), path, ["n_nationkey"])
    victim = load_manifest(path)["files"][0]["path"]
    merge_into_manifest(
        spark.createDataFrame([(0, "ZED")], "n_nationkey long, n_name string"),
        path, ["n_nationkey"], ["n_nationkey"])
    assert load_manifest(path)["files"][0].get("dead")

    w = ManifestArrowWriter(
        {"path": path, "statcols": "",
         "replacepaths": json.dumps([victim])},
        spark.createDataFrame([(1,)], "k int").schema, overwrite=False)
    stage = os.path.join(path, f".conflict.{w._commit_id}.tmp")
    pq.write_table(pa.table({"k": [1]}), stage)
    msg = _FileCommit(tmp_path=stage,
                      final_path=os.path.join(
                          path, f"part-x-conflict-{w._commit_id}.parquet"),
                      rows=1, stats={})
    v_before = load_manifest(path)["version"]
    with pytest.raises(ValueError, match="concurrent modification"):
        w.commit([msg])
    assert load_manifest(path)["version"] == v_before
    # the conflicting commit's published file was cleaned up
    assert not os.path.exists(msg.final_path)


def test_vacuum_retention(spark, sf_dir, tmp_path):
    """VACUUM keeps the newest N snapshots and removes older snapshots
    plus any data file no kept version reads live (merge tombstones
    past retention); the current version is untouched and still
    readable, time travel contracts to the kept window."""
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        load_manifest,
        merge_into_manifest,
        vacuum_manifest,
    )

    path = str(tmp_path / "mvac")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    write_manifest_table(nat.coalesce(1), path, ["n_nationkey"])  # v0
    (nat.filter(F.col("n_nationkey") < 5).coalesce(1)
     .write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "n_nationkey").save())  # v1
    merge_into_manifest(
        spark.createDataFrame([(0, "ZED")], "n_nationkey long, n_name string"),
        path, ["n_nationkey"], ["n_nationkey"])  # v2: tombstones
    n_dead = sum(1 for f in load_manifest(path)["files"] if f.get("dead"))
    assert n_dead >= 1

    res = vacuum_manifest(path, keep_versions=1, min_age_seconds=0)
    # v0/v1 delta records expired (plus the floor's own delta once the
    # checkpoint anchors it); the kept version must stay reconstructible
    assert len(res["removed_manifests"]) >= 2
    # every tombstoned file is retention-expired under keep=1
    assert len([p for p in res["removed_files"]
                if p.endswith(".parquet")]) >= n_dead
    register(spark)
    df = spark.read.format("graft_manifest").option("path", path).load()
    # 25 + 5 appended (key 0 duplicated); the merge updates both copies
    # of key 0 (every matched target row, as in Delta)
    assert df.count() == 30
    assert {r["n_name"] for r in df.filter("n_nationkey = 0").collect()} \
        == {"ZED"}
    with pytest.raises(Exception, match="not available"):
        (spark.read.format("graft_manifest").option("path", path)
         .option("versionAsOf", "0").load().collect())
    # idempotent: a second vacuum removes nothing
    res2 = vacuum_manifest(path, keep_versions=1, min_age_seconds=0)
    assert not res2["removed_files"] and not res2["removed_manifests"]


def test_changefeed_insert_update_delete(spark, sf_dir, tmp_path):
    """manifest_changes recovers exactly the applied change set:
    updates carry the post-image, deletes the pre-image, untouched
    keys (even ones whose file a merge rewrote) emit nothing."""
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        delete_from_manifest,
        manifest_changes,
        merge_into_manifest,
    )

    path = str(tmp_path / "mcdf")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    write_manifest_table(nat.coalesce(1), path, ["n_nationkey"])  # v0
    merge_into_manifest(
        spark.createDataFrame([(0, "ZED"), (100, "NEWLAND")],
                              "n_nationkey long, n_name string"),
        path, ["n_nationkey"], ["n_nationkey"])  # v1
    delete_from_manifest(
        spark.createDataFrame([(5,)], "n_nationkey long"),
        path, ["n_nationkey"], ["n_nationkey"])  # v2

    changes = {r["n_nationkey"]: (r["change_type"], r["n_name"])
               for r in manifest_changes(
                   spark, path, 0, None, ["n_nationkey"]).collect()}
    old5 = nat.filter(F.col("n_nationkey") == 5).collect()[0]["n_name"]
    assert changes == {0: ("update", "ZED"),
                       100: ("insert", "NEWLAND"),
                       5: ("delete", old5)}
    # adjacent-version diff sees only the delete
    mid = {r["n_nationkey"]: r["change_type"]
           for r in manifest_changes(
               spark, path, 1, 2, ["n_nationkey"]).collect()}
    assert mid == {5: "delete"}


def test_bloom_membership_no_false_negatives():
    """Writer bits vs reader probes must agree exactly: every inserted
    value tests positive (no false negatives, the correctness side),
    and the false-positive rate at this load is small (the IO side)."""
    import numpy as np

    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        _bloom_bits_from_numpy,
        _bloom_encode,
        _bloom_maybe_contains,
    )

    vals = np.array([3, 17, 999_999_937, 2**62 + 11, 0, -5 % 2**64],
                    dtype=np.uint64)
    enc = _bloom_encode(_bloom_bits_from_numpy(vals))
    for v in vals:
        assert _bloom_maybe_contains(enc, int(v))
    misses = sum(1 for v in range(10_000, 11_000)
                 if _bloom_maybe_contains(enc, v))
    assert misses <= 50  # ~1% expected at 6 keys / 1024 bits


def test_bloom_prunes_point_lookups(spark, sf_dir, tmp_path):
    """bloomCols: an EqualTo lookup on an UNSORTED key opens only the
    files whose bloom might contain it — min/max ranges overlap on a
    hash-partitioned layout, so blooms are what makes the lookup
    O(1 file); results still equal the plain filter."""
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        ManifestReader,
        load_manifest,
        register,
    )

    path = str(tmp_path / "mbloom")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        "o_orderstatus")
    register(spark)
    # hash partitioning: every file's key RANGE spans the table, so
    # min/max pruning keeps everything; only the blooms can skip
    (orders.repartition(6, "o_orderkey")
     .write.format("graft_manifest").mode("overwrite")
     .option("path", path).option("statCols", "o_orderkey")
     .option("bloomCols", "o_orderkey").save())
    m = load_manifest(path)
    assert all("o_orderkey" in f.get("bloom", {}) for f in m["files"])

    key = orders.agg(F.max("o_orderkey")).collect()[0][0]
    from pyspark.sql.datasource import EqualTo

    rd = ManifestReader({"path": path})
    list(rd.prune_for_scan([EqualTo(("o_orderkey",), int(key))]))
    surviving = len(rd.partitions())
    assert surviving < len(m["files"]), "bloom should prune files"
    got = (spark.read.format("graft_manifest").option("path", path)
           .load().filter(F.col("o_orderkey") == key).count())
    want = orders.filter(F.col("o_orderkey") == key).count()
    assert got == want >= 1


def test_merge_uses_blooms_on_hash_layout(spark, sf_dir, tmp_path):
    """On a hash layout (every file's key range spans the table) the
    range/bisect pruning keeps everything — the bloom membership probe
    is what narrows a small-key MERGE to the files that actually hold
    the keys, and the merged result is still exact."""
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        load_manifest,
        merge_into_manifest,
        register,
    )

    path = str(tmp_path / "mbm")
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"), "n_name")
    register(spark)
    (nat.repartition(5, "n_nationkey")
     .write.format("graft_manifest").mode("overwrite")
     .option("path", path).option("statCols", "n_nationkey")
     .option("bloomCols", "n_nationkey").save())
    m0 = load_manifest(path)
    n_files = len([f for f in m0["files"] if not f.get("dead")])
    assert n_files >= 3

    updates = spark.createDataFrame([(3, "XED")],
                                    "n_nationkey long, n_name string")
    m1 = merge_into_manifest(updates, path, ["n_nationkey"],
                             ["n_nationkey"])
    dead = sum(1 for f in m1["files"] if f.get("dead"))
    assert dead < n_files, "bloom probe should not rewrite every file"
    df = spark.read.format("graft_manifest").option("path", path).load()
    assert df.count() == 25
    assert df.filter("n_nationkey = 3").collect()[0]["n_name"] == "XED"


def test_changefeed_across_schema_evolution(spark, sf_dir, tmp_path):
    """Diffing across an add-column boundary: the old snapshot's
    missing column compares as NULL (what the evolved table reads for
    those rows), so pure evolution emits NO changes and a real value
    change still does."""
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        manifest_changes,
        merge_into_manifest,
    )

    path = str(tmp_path / "mcse")
    nat = load_table(spark, sf_dir, "nation")
    write_manifest_table(
        nat.select("n_nationkey", "n_name").coalesce(1), path,
        ["n_nationkey"])  # v0: narrow
    (nat.select("n_nationkey", "n_name",
                F.col("n_regionkey").cast("long").alias("n_regionkey"))
     .filter(F.col("n_nationkey") >= 100).coalesce(1)
     .write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "n_nationkey")
     .save())  # v1: widened schema, zero rows appended (filter empty)
    assert manifest_changes(spark, path, 0, 1,
                            ["n_nationkey"]).count() == 0
    merge_into_manifest(
        spark.createDataFrame([(0, "ZED", 9)],
                              "n_nationkey long, n_name string,"
                              " n_regionkey long"),
        path, ["n_nationkey"], ["n_nationkey"])  # v2
    ch = {r["n_nationkey"]: (r["change_type"], r["n_regionkey"])
          for r in manifest_changes(spark, path, 0, None,
                                    ["n_nationkey"]).collect()}
    assert ch == {0: ("update", 9)}


def test_many_interleaved_writers_all_land(spark, sf_dir, tmp_path):
    """CAS stress: FIVE writers all initialized against the same base
    version, committing in arbitrary order, plus one conflicting merge
    target in the mix — every append lands as a distinct consecutive
    version with no lost update, and the file log keeps prefix order."""
    import json
    import pyarrow as pa
    import pyarrow.parquet as pq
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        ManifestArrowWriter,
        _FileCommit,
        load_manifest,
    )

    path = str(tmp_path / "mcc5")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    m0 = write_manifest_table(nat.coalesce(1), path, ["n_nationkey"])

    staged = []
    for tag in "abcde":
        w = ManifestArrowWriter(
            {"path": path, "statcols": "k"},
            spark.createDataFrame([(1,)], "k int").schema,
            overwrite=False)
        tmp = os.path.join(path, f".st_{tag}.{w._commit_id}.tmp")
        final = os.path.join(path, f"part-x-{tag}-{w._commit_id}.parquet")
        pq.write_table(pa.table({"k": [1, 2]}), tmp)
        staged.append((w, [_FileCommit(tmp_path=tmp, final_path=final,
                                       rows=2,
                                       stats={"k": {"min": 1, "max": 2}})]))
    # commit in shuffled-ish order (deterministic permutation)
    for idx in (2, 0, 4, 1, 3):
        staged[idx][0].commit(staged[idx][1])
    latest = load_manifest(path)
    assert latest["version"] == m0["version"] + 5
    paths = [f["path"] for f in latest["files"]]
    assert len(paths) == len(m0["files"]) + 5
    for _, msgs in staged:
        assert msgs[0].final_path in paths
    # prefix order: base entries first, then one append per version
    assert latest["files"][:len(m0["files"])] == m0["files"]
    for v in range(m0["version"], m0["version"] + 6):
        snap = load_manifest(path, v)
        assert len(snap["files"]) == len(m0["files"]) + (v - m0["version"])


def test_drop_column_metadata_only_with_safe_readd(
        spark, sf_dir, tmp_path):
    """Metadata-only DROP COLUMN: no data file changes, reads project
    the narrowed schema, pre-drop time travel still sees the column,
    post-drop appends work WITHOUT it, and re-adding the dropped name
    is SAFE via the epoch masking record (round 6): pre-drop files
    show NULL for the re-added column instead of resurrecting their
    old values."""
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        drop_column_from_manifest,
        load_manifest,
    )

    path = str(tmp_path / "dropc")
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        "n_name", F.col("n_regionkey").cast("long").alias("n_regionkey"))
    register(spark)
    write_manifest_table(nat.coalesce(1), path, ["n_nationkey"])
    files0 = sorted(f["path"] for f in load_manifest(path)["files"])
    m1 = drop_column_from_manifest(path, "n_regionkey")
    assert m1["version"] == 1
    assert sorted(f["path"] for f in m1["files"]) == files0  # no rewrite
    df = spark.read.format("graft_manifest").option("path", path).load()
    assert df.columns == ["n_nationkey", "n_name"]
    assert df.count() == 25
    v0 = (spark.read.format("graft_manifest").option("path", path)
          .option("versionAsOf", "0").load())
    assert "n_regionkey" in v0.columns
    assert v0.filter(F.col("n_regionkey").isNotNull()).count() == 25
    # append under the narrowed schema works
    (spark.createDataFrame([(100, "NEWLAND")],
                           "n_nationkey long, n_name string")
     .coalesce(1).write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "n_nationkey").save())
    assert (spark.read.format("graft_manifest").option("path", path)
            .load().count()) == 26
    # re-adding the dropped name is SAFE: the masked rename record
    # keeps pre-drop values out of the new column
    (spark.createDataFrame([(101, "X", 9)],
                           "n_nationkey long, n_name string, "
                           "n_regionkey long")
     .coalesce(1).write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "n_nationkey").save())
    readd = (spark.read.format("graft_manifest").option("path", path)
             .load())
    assert readd.count() == 27
    assert (readd.filter(F.col("n_regionkey").isNotNull())
            .count() == 1), "old files must NOT resurrect their values"
    assert readd.filter(
        F.col("n_nationkey") == 101).collect()[0]["n_regionkey"] == 9
    # pre-drop time travel STILL shows the original values
    v0 = (spark.read.format("graft_manifest").option("path", path)
          .option("versionAsOf", "0").load())
    assert v0.filter(F.col("n_regionkey").isNotNull()).count() == 25
    # a different NEW column still evolves normally
    (spark.createDataFrame([(102, "Y", "eu")],
                           "n_nationkey long, n_name string, "
                           "zone string")
     .coalesce(1).write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "n_nationkey").save())
    final = (spark.read.format("graft_manifest").option("path", path)
             .load())
    assert set(final.columns) == {"n_nationkey", "n_name",
                                  "n_regionkey", "zone"}
    assert final.count() == 28


def test_changefeed_across_drop_column(spark, sf_dir, tmp_path):
    """The changefeed diffs on the TO-version schema: across a
    drop-column boundary the dropped column is simply not compared —
    the pure-metadata drop commit itself emits NO changes, and a
    post-drop append emits inserts under the narrowed schema."""
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        drop_column_from_manifest,
        manifest_changes,
        manifest_changes_incremental,
    )

    path = str(tmp_path / "cfdrop")
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        "n_name", F.col("n_regionkey").cast("long").alias("n_regionkey"))
    register(spark)
    write_manifest_table(nat.coalesce(1), path, ["n_nationkey"])  # v0
    drop_column_from_manifest(path, "n_regionkey")                # v1
    (spark.createDataFrame([(100, "NEWLAND")],
                           "n_nationkey long, n_name string")
     .coalesce(1).write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "n_nationkey").save())  # v2
    # the drop itself: zero changes
    assert manifest_changes(
        spark, path, 0, 1, ["n_nationkey"]).count() == 0
    full = {(r["n_nationkey"], r["change_type"])
            for r in manifest_changes(
                spark, path, 0, None, ["n_nationkey"]).collect()}
    inc = {(r["n_nationkey"], r["change_type"])
           for r in manifest_changes_incremental(
               spark, path, 0, None, ["n_nationkey"]).collect()}
    assert full == inc == {(100, "insert")}


def test_in_list_and_prefix_pruning():
    """Round-6 skipping extensions: IN-lists prune when every element
    misses the stat range (and when every integer element misses the
    bloom); StringStartsWith prunes when [prefix, prefix+) cannot
    intersect the string stat range.  Doubt (mixed types, empty list,
    non-string stats) always survives."""
    from pyspark.sql.datasource import In

    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        _bloom_bits_from_numpy,
        _bloom_encode,
    )

    stats = {"y": {"min": 10, "max": 20},
             "s": {"min": "apple", "max": "cherry"}}
    assert not _file_survives(stats, [In(("y",), (1, 2, 99))])
    assert _file_survives(stats, [In(("y",), (1, 15))])
    assert _file_survives(stats, [In(("y",), ())])
    assert _file_survives(stats, [In(("y",), (1, "x"))])  # mixed: doubt
    assert not _file_survives(stats, [StringStartsWith(("s",), "d")])
    assert not _file_survives(stats, [StringStartsWith(("s",), "aa")])
    assert _file_survives(stats, [StringStartsWith(("s",), "b")])
    assert _file_survives(stats, [StringStartsWith(("s",), "apple")])
    # int stats + string prefix: incomparable, never prune
    assert _file_survives(stats, [StringStartsWith(("y",), "1")])
    # bloom-backed IN: every probed value absent -> exact exclusion
    import numpy as np

    enc = _bloom_encode(_bloom_bits_from_numpy(np.array([10, 15, 20])))
    bloom = {"y": enc}
    assert _file_survives(stats, [In(("y",), (15, 999))], bloom)
    assert not _file_survives(stats, [In(("y",), (11, 17))], bloom)


def test_row_group_pruning_within_files(spark, sf_dir, tmp_path):
    """Round-6 second-level skipping: pushed predicates prune ROW
    GROUPS inside a surviving file from footer stats alone — a
    selective predicate on a sorted multi-group file reads only the
    intersecting groups, and the end-to-end scan still equals the
    plain filtered read (Spark re-applies the filters row-wise)."""
    import pyarrow.parquet as pq

    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        _read_aligned,
    )

    path = str(tmp_path / "rg")
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "200")
    register(spark)
    try:
        orders = (load_table(spark, sf_dir, "orders")
                  .select("o_orderkey", "o_custkey")
                  .coalesce(1).sortWithinPartitions("o_orderkey"))
        # the PYTHON Arrow writer makes one row group per Arrow batch,
        # which is what this fixture needs (the native write path
        # rolls row groups at parquet.block.size — one group here)
        (orders.write.format("graft_manifest").mode("overwrite")
         .option("path", path).option("statCols", "o_orderkey").save())
        m = load_manifest(path)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       prev)
    (entry,) = m["files"]
    pf = pq.ParquetFile(entry["path"])
    assert pf.metadata.num_row_groups > 3, \
        "fixture needs a multi-group file"
    total = pf.metadata.num_rows
    cutoff = entry["stats"]["o_orderkey"]["min"] + 1
    pruned_rows = sum(
        b.num_rows for b in _read_aligned(
            entry["path"], None, [("le", "o_orderkey", cutoff)]))
    match = (spark.read.parquet(entry["path"])
             .filter(F.col("o_orderkey") <= cutoff).count())
    assert match <= pruned_rows < total, (pruned_rows, total, match)
    # end-to-end equality through the registered source
    register(spark)
    got = (spark.read.format("graft_manifest").option("path", path)
           .load().filter(F.col("o_orderkey") <= cutoff).count())
    assert got == match
    # a predicate beyond the domain reads nothing at the group level
    none_rows = sum(
        b.num_rows for b in _read_aligned(
            entry["path"], None,
            [("gt", "o_orderkey", entry["stats"]["o_orderkey"]["max"])]))
    assert none_rows == 0


def test_runtime_filter_scan_prunes_and_caps(spark, sf_dir, tmp_path):
    """DPP-analog (round 6): the dim side's collected keys push an
    IN-list into the manifest fact scan — files outside the key set
    are never opened, results equal the plain filter, and a key set
    over the cap falls back to the unfiltered scan instead of
    building a monster predicate."""
    from pyspark.sql.datasource import In

    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        read_with_runtime_filter,
    )

    register(spark)
    path = str(tmp_path / "rf")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_custkey").cast("long").alias("o_custkey"))
    m = write_manifest_table(
        orders.repartitionByRange(8, "o_custkey"), path,
        ["o_custkey", "o_orderkey"])
    dim = (load_table(spark, sf_dir, "customer")
           .filter(F.col("c_nationkey") == 5)
           .select(F.col("c_custkey").cast("long")))
    keys = [r[0] for r in dim.collect()]
    got = read_with_runtime_filter(spark, path, "o_custkey", dim)
    exp = orders.filter(F.col("o_custkey").isin(keys))
    assert got.count() == exp.count() > 0
    assert got.exceptAll(exp).isEmpty() and exp.exceptAll(got).isEmpty()
    # the pushed IN-list prunes files (two low keys live in one range)
    rd = ManifestReader({"path": path})
    assert len(rd.partitions()) == len(m["files"])
    list(rd.prune_for_scan([In(("o_custkey",), tuple(sorted(keys)[:2]))]))
    assert len(rd.partitions()) < len(m["files"])
    # over the cap → plain scan (no predicate, full row count)
    capped = read_with_runtime_filter(spark, path, "o_custkey", dim,
                                      max_keys=1)
    assert capped.count() == orders.count()
    # empty dim side → empty scan, not a full one
    empty = read_with_runtime_filter(
        spark, path, "o_custkey", dim.filter(F.lit(False)))
    assert empty.count() == 0


def test_runtime_filter_keys_by_name_in_wide_frame(
        spark, sf_dir, tmp_path):
    """A multi-column keys_df must contribute the column named
    key_col — never positionally the first column (which silently
    pruned on the wrong values); a wide frame without the named
    column is refused outright."""
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        read_with_runtime_filter,
    )

    register(spark)
    path = str(tmp_path / "rfw")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_custkey").cast("long").alias("o_custkey"))
    write_manifest_table(
        orders.repartitionByRange(4, "o_custkey"), path,
        ["o_custkey", "o_orderkey"])
    # wide frame whose FIRST column is the WRONG one
    dim = (load_table(spark, sf_dir, "customer")
           .filter(F.col("c_nationkey") == 5)
           .select(F.col("c_nationkey").cast("long").alias("noise"),
                   F.col("c_custkey").cast("long").alias("o_custkey")))
    keys = [r["o_custkey"] for r in dim.collect()]
    got = read_with_runtime_filter(spark, path, "o_custkey", dim)
    exp = orders.filter(F.col("o_custkey").isin(keys))
    assert got.count() == exp.count() > 0
    # wide frame without the named key column: refused
    with pytest.raises(ValueError, match="pass the key column by name"):
        read_with_runtime_filter(
            spark, path, "o_custkey",
            dim.select(F.col("noise"), F.col("o_custkey").alias("x")))


def test_read_manifest_fast_path_parity_and_plan(
        spark, sf_dir, tmp_path):
    """read_manifest (the JVM-native planner): a clean table plans as
    a plain vectorized parquet FileScan (no Python source in the
    plan); DV'd, renamed, evolved and drop+re-add tables return
    exactly what the Python Arrow source returns; manifest-level
    filters prune the file list without changing results."""
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        delete_vectors_from_manifest,
        drop_column_from_manifest,
        read_manifest,
        rename_column_in_manifest,
    )

    register(spark)
    path = str(tmp_path / "fp")
    (spark.createDataFrame(
        [(i, f"r{i}", float(i)) for i in range(20)],
        "k int, name string, score double")
     .repartitionByRange(4, "k")
     .write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "k").save())
    df = read_manifest(spark, path)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan and "BatchEvalPython" not in plan
    assert df.count() == 20
    # manifest-level pruning: filters cut the planned file list
    pruned = read_manifest(spark, path, filters=[("k", ">=", 15)])
    assert len(pruned.inputFiles()) < len(df.inputFiles())
    assert pruned.filter("k >= 15").count() == 5
    # evolution + DV + rename + drop/re-add: parity vs python source
    (spark.createDataFrame([(100, "x", 1.0, "new")],
                           "k int, name string, score double, tag string")
     .coalesce(1).write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "k").save())
    delete_vectors_from_manifest(
        spark.createDataFrame([(3,)], "k int"), path, ["k"], ["k"])
    rename_column_in_manifest(path, "name", "label")
    drop_column_from_manifest(path, "score")
    (spark.createDataFrame([(200, "y", 7.0)],
                           "k int, label string, score double")
     .coalesce(1).write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "k").save())
    fast = sorted(map(tuple, read_manifest(spark, path).collect()))
    slow = sorted(map(tuple,
                      spark.read.format("graft_manifest")
                      .option("path", path).load().collect()))
    assert fast == slow
    # time travel through the planner
    assert read_manifest(spark, path, version=0).count() == 20


def test_type_widening_evolution(spark, tmp_path):
    """int→bigint / float→double appends widen the table schema in
    place; pre-widen files upcast losslessly on BOTH read paths;
    narrower follow-up appends keep the widened schema; time travel
    below the widen shows the original types; any non-widening type
    change is refused."""
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        read_manifest,
    )

    register(spark)
    path = str(tmp_path / "widen")
    (spark.createDataFrame([(1, 1.5), (2, 2.5)], "k int, x float")
     .coalesce(1).write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "k").save())
    (spark.createDataFrame([(3_000_000_000, 9.25)], "k long, x double")
     .coalesce(1).write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "k").save())
    fast = read_manifest(spark, path)
    assert dict(fast.dtypes) == {"k": "bigint", "x": "double"}
    want = [(1, 1.5), (2, 2.5), (3_000_000_000, 9.25)]
    assert sorted(map(tuple, fast.collect())) == want
    slow = (spark.read.format("graft_manifest").option("path", path)
            .load())
    assert dict(slow.dtypes) == {"k": "bigint", "x": "double"}
    assert sorted(map(tuple, slow.collect())) == want
    # narrower append: accepted, schema unchanged
    (spark.createDataFrame([(7, 0.5)], "k int, x float")
     .coalesce(1).write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "k").save())
    after = read_manifest(spark, path)
    assert dict(after.dtypes) == {"k": "bigint", "x": "double"}
    assert after.count() == 4
    # time travel below the widen: original narrow types
    v0 = read_manifest(spark, path, version=0)
    assert dict(v0.dtypes) == {"k": "int", "x": "float"}
    assert v0.count() == 2
    # non-widening change refused (string, and double→float narrow
    # of a column whose data may not fit)
    with pytest.raises(Exception, match="cannot change column"):
        (spark.createDataFrame([("s", 1.0)], "k string, x double")
         .coalesce(1).write.format("graft_manifest").mode("append")
         .option("path", path).option("statCols", "k").save())


def test_merge_not_matched_by_source_clause(spark, tmp_path):
    """Tri-clause MERGE: matched keys update, new keys insert, and
    target rows absent from the source that satisfy the BY SOURCE
    condition are deleted — all in ONE commit (version bumps once).  A
    NULL condition keeps the row (a non-TRUE WHEN never fires)."""
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        load_manifest,
        merge_into_manifest,
        read_manifest,
    )

    register(spark)
    path = str(tmp_path / "tri")
    (spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", None), (4, "d", 5)],
        "k long, v string, age int")
     .coalesce(1).write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "k").save())
    v_before = load_manifest(path)["version"]
    src = spark.createDataFrame([(2, "B", 21), (9, "new", 1)],
                                "k long, v string, age int")
    merge_into_manifest(src, path, ["k"], ["k"],
                        not_matched_by_source="age > 7")
    got = sorted((r["k"], r["v"]) for r in
                 read_manifest(spark, path).collect())
    # k=1 (age 10 > 7, unmatched) deleted; k=3 NULL condition kept;
    # k=4 (age 5) kept; k=2 updated; k=9 inserted
    assert got == [(2, "B"), (3, "c"), (4, "d"), (9, "new")]
    assert load_manifest(path)["version"] == v_before + 1


def test_partition_columns_first_class(spark, sf_dir, tmp_path):
    """partitionCols: every written file holds exactly one
    partition-value combo (recorded on its entry), reads prune on the
    values BEFORE stats at the file-list level, and copy-on-write
    maintenance over a partitioned table stays correct."""
    from pyspark.sql.datasource import GreaterThan, In

    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        _partition_survives,
        merge_into_manifest,
        read_manifest,
    )

    register(spark)
    path = str(tmp_path / "part")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_totalprice").cast("double").alias("total_price"),
        F.year("o_orderdate").cast("int").alias("order_year"))
    (orders.repartition(3, "o_orderkey")
     .write.format("graft_manifest").mode("overwrite")
     .option("path", path).option("statCols", "o_orderkey")
     .option("partitionCols", "order_year").save())
    m = load_manifest(path)
    live = [f for f in m["files"] if not f.get("dead")]
    years = set()
    for f in live:
        part = f.get("partition")
        assert part and set(part) == {"order_year"}
        # the value combo is exact: stats agree min == max == value
        s = f["stats"]["order_year"]
        assert s["min"] == s["max"] == part["order_year"]
        years.add(part["order_year"])
    assert len(years) >= 3
    # file-list pruning via the reader (partition check runs first)
    rd = ManifestReader({"path": path})
    total = len(rd.partitions())
    y = max(years)
    list(rd.prune_for_scan([EqualTo(("order_year",), y)]))
    pruned = len(rd.partitions())
    want = sum(1 for f in live if f["partition"]["order_year"] == y)
    assert pruned == want < total
    # the planner prunes the same way
    df = read_manifest(spark, path, filters=[("order_year", "=", y)])
    assert len(df.inputFiles()) == want
    exp = orders.filter(F.col("order_year") == y)
    assert df.count() == exp.count()
    # never-prune-on-doubt for the partition check itself
    assert _partition_survives({"y": 5}, [EqualTo(("y",), "not-an-int")])
    assert not _partition_survives({"y": 5}, [EqualTo(("y",), 6)])
    assert not _partition_survives({"y": None}, [GreaterThan(("y",), 1)])
    assert _partition_survives({"y": 5}, [In(("y",), (5, 6))])
    assert not _partition_survives({"y": 4}, [In(("y",), (5, 6))])
    # merge across the partitioned layout: rewritten files lose their
    # single-value guarantee but reads stay correct via stats
    upd = orders.filter(F.col("order_year") == y).limit(5) \
        .withColumn("total_price", F.lit(1.0))
    merge_into_manifest(upd, path, ["o_orderkey"],
                        ["o_orderkey", "order_year"])
    got = read_manifest(spark, path)
    assert got.count() == orders.count()
    assert got.filter("total_price = 1.0").count() == 5


def test_partition_evolution_widen_dv_interplay(spark, tmp_path):
    """Seam probe (the class that has bitten before): ONE append that
    simultaneously add-column evolves, type-widens the key, and is
    partition-split must compose with partition pruning and a later
    DV delete — and the fast planner must agree with the Python
    source row-for-row."""
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        delete_vectors_from_manifest,
        read_manifest,
    )

    register(spark)
    path = str(tmp_path / "pe")
    (spark.createDataFrame(
        [(i, 1990 + i % 3, float(i)) for i in range(30)],
        "k int, year int, x double")
     .repartition(2).write.format("graft_manifest").mode("overwrite")
     .option("path", path).option("statCols", "k")
     .option("partitionCols", "year").save())
    (spark.createDataFrame([(10**12, 1993, 9.0, "t")],
                           "k long, year int, x double, tag string")
     .coalesce(1).write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "k")
     .option("partitionCols", "year").save())
    df = read_manifest(spark, path)
    assert dict(df.dtypes) == {"k": "bigint", "year": "int",
                               "x": "double", "tag": "string"}
    assert df.count() == 31
    assert df.filter("tag IS NULL").count() == 30
    pr = read_manifest(spark, path, filters=[("year", "=", 1993)])
    assert len(pr.inputFiles()) == 1 and pr.count() == 1
    delete_vectors_from_manifest(
        spark.createDataFrame([(3,)], "k int"), path, ["k"], ["k"])
    assert read_manifest(spark, path).count() == 30
    fast = sorted(map(tuple, read_manifest(spark, path).collect()))
    slow = sorted(map(tuple,
                      spark.read.format("graft_manifest")
                      .option("path", path).load().collect()))
    assert fast == slow


def test_dynamic_partition_overwrite(spark, tmp_path):
    """partitionOverwrite=dynamic: one atomic commit replaces exactly
    the partitions present in the written data — other partitions
    untouched, time travel below intact, refusals for the invalid
    option combinations."""
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        read_manifest,
    )

    register(spark)
    path = str(tmp_path / "dpo")
    (spark.createDataFrame(
        [(i, 1990 + i % 3, f"old{i}") for i in range(30)],
        "k int, year int, v string")
     .repartition(2).write.format("graft_manifest").mode("overwrite")
     .option("path", path).option("statCols", "k")
     .option("partitionCols", "year").save())
    v0 = load_manifest(path)["version"]
    (spark.createDataFrame([(100, 1991, "new")],
                           "k int, year int, v string")
     .coalesce(1).write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "k")
     .option("partitionCols", "year")
     .option("partitionOverwrite", "dynamic").save())
    df = read_manifest(spark, path)
    assert df.count() == 21  # 10+10 kept + 1 replacement
    assert sorted(map(tuple, df.filter("year=1991").collect())) == [
        (100, 1991, "new")]
    assert df.filter("year=1990").count() == 10
    assert load_manifest(path)["version"] == v0 + 1  # one commit
    assert read_manifest(spark, path, version=v0).count() == 30
    # refusals: needs partitionCols; append-mode only
    with pytest.raises(Exception, match="requires partitionCols"):
        (spark.createDataFrame([(1, "x")], "k int, v string")
         .write.format("graft_manifest").mode("append")
         .option("path", path).option("statCols", "k")
         .option("partitionOverwrite", "dynamic").save())
    with pytest.raises(Exception, match="append-mode"):
        (spark.createDataFrame([(1, 1990, "x")],
                               "k int, year int, v string")
         .write.format("graft_manifest").mode("overwrite")
         .option("path", path).option("statCols", "k")
         .option("partitionCols", "year")
         .option("partitionOverwrite", "dynamic").save())


def test_dynamic_partition_overwrite_race_is_last_writer_wins(
        spark, tmp_path):
    """Tombstones for partitionOverwrite=dynamic are computed at
    CAS time against the then-latest state: a racing write into the
    overwritten partition that lands FIRST is replaced (the overwrite
    declares the partition's content) — no duplicates, one commit."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        ManifestArrowWriter,
        _FileCommit,
        read_manifest,
    )

    register(spark)
    path = str(tmp_path / "dporace")
    (spark.createDataFrame([(1, 1990, "base"), (2, 1991, "base")],
                           "k int, year int, v string")
     .coalesce(1).write.format("graft_manifest").mode("overwrite")
     .option("path", path).option("statCols", "k")
     .option("partitionCols", "year").save())
    # writer A plans its dynamic overwrite of year=1991 NOW (v0)
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    st = StructType([StructField("k", IntegerType()),
                     StructField("year", IntegerType()),
                     StructField("v", StringType())])
    wa = ManifestArrowWriter(
        {"path": path, "statcols": "k", "partitioncols": "year",
         "partitionoverwrite": "dynamic"}, st, overwrite=False)
    # a racing append lands a NEW 1991 file in between (v1)
    (spark.createDataFrame([(7, 1991, "racer")],
                           "k int, year int, v string")
     .coalesce(1).write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "k")
     .option("partitionCols", "year").save())
    # A commits: its CAS-time tombstones must cover the racer's file
    staged = os.path.join(path, ".a.tmp")
    pq.write_table(
        pa.table({"k": pa.array([100], pa.int32()),
                  "year": pa.array([1991], pa.int32()),
                  "v": pa.array(["overwrite"], pa.string())}), staged)
    final = os.path.join(path, "part-v9999-race-00000.parquet")
    wa.commit([_FileCommit(
        tmp_path=staged, final_path=final, rows=1,
        stats={"k": {"min": 100, "max": 100},
               "year": {"min": 1991, "max": 1991}},
        partition={"year": 1991})])
    got = sorted(map(tuple, read_manifest(spark, path).collect()))
    assert got == [(1, 1990, "base"), (100, 1991, "overwrite")]


def test_read_manifest_timestamp_travel(spark, tmp_path):
    """The planner's timestampAsOf resolves to the latest version
    committed at or before the stamp — same contract as the option
    on the Python source — and refuses version+timestamp together."""
    import time as _time

    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        read_manifest,
    )

    register(spark)
    path = str(tmp_path / "tt")
    (spark.createDataFrame([(1, "a")], "k int, v string")
     .coalesce(1).write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "k").save())
    between = _time.time()
    _time.sleep(1.1)
    (spark.createDataFrame([(2, "b")], "k int, v string")
     .coalesce(1).write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "k").save())
    assert read_manifest(spark, path).count() == 2
    assert read_manifest(spark, path,
                         timestamp=str(between)).count() == 1
    with pytest.raises(ValueError, match="not both"):
        read_manifest(spark, path, version=0, timestamp=str(between))


def test_hidden_generated_partitions(spark, tmp_path):
    """partitionGen (Iceberg-style hidden partitioning): the writer
    computes date(ts) per row, splits files on it, and records the
    value ONLY on the manifest entry — the generated column exists in
    no data file and no read schema.  Predicates on the SOURCE column
    prune at the file-list level via filter implication; appends
    inherit the persisted spec; a conflicting explicit spec and a
    schema-colliding name are refused."""
    import datetime

    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        read_manifest,
    )

    register(spark)
    path = str(tmp_path / "gen")
    base = datetime.datetime(2024, 1, 1)
    rows = [(i, base + datetime.timedelta(hours=6 * i), float(i))
            for i in range(40)]  # 10 distinct dates
    df = spark.createDataFrame(rows, "k long, ts timestamp, x double")
    (df.repartition(2).write.format("graft_manifest").mode("overwrite")
     .option("path", path).option("statCols", "k")
     .option("partitionGen", "event_date=date(ts)").save())
    m = load_manifest(path)
    assert m["partitionGen"] == [
        {"name": "event_date", "src": "ts", "transform": "date"}]
    live = [f for f in m["files"] if not f.get("dead")]
    dates = sorted({f["partition"]["event_date"] for f in live})
    assert len(dates) == 10
    # hidden: the generated name is in no read schema
    out = read_manifest(spark, path)
    assert "event_date" not in out.columns
    assert out.count() == 40
    # file-level pruning from a predicate on the SOURCE column
    cut = datetime.datetime(2024, 1, 6)
    rd = ManifestReader({"path": path})
    total = len(rd.partitions())
    list(rd.prune_for_scan([GreaterThanOrEqual(("ts",), cut)]))
    kept = len(rd.partitions())
    want = sum(1 for f in live
               if f["partition"]["event_date"] >= "2024-01-06")
    assert kept == want < total
    # the fast planner prunes identically and values match the raw df
    pr = read_manifest(spark, path, filters=[("ts", ">=", cut)])
    assert len(pr.inputFiles()) == want
    assert (pr.filter(F.col("ts") >= F.lit(cut)).count()
            == df.filter(F.col("ts") >= F.lit(cut)).count())
    # append WITHOUT the option inherits the table spec
    extra = spark.createDataFrame(
        [(99, datetime.datetime(2024, 2, 1, 12), 9.0)],
        "k long, ts timestamp, x double")
    (extra.coalesce(1).write.format("graft_manifest").mode("append")
     .option("path", path).save())
    m2 = load_manifest(path)
    newest = [f for f in m2["files"]
              if f.get("addedAt") == m2["version"]]
    assert newest and all(
        f["partition"]["event_date"] == "2024-02-01" for f in newest)
    # explicit spec that disagrees with the table's is refused
    with pytest.raises(Exception, match="partitionGen"):
        (extra.write.format("graft_manifest").mode("append")
         .option("path", path)
         .option("partitionGen", "event_month=month(ts)").save())
    # a generated name colliding with a data column is refused
    with pytest.raises(Exception, match="collides"):
        (df.write.format("graft_manifest").mode("overwrite")
         .option("path", str(tmp_path / "bad"))
         .option("partitionGen", "x=date(ts)").save())


def test_generated_partition_bucket_and_literal_edges(spark, tmp_path):
    """bucket(N, key) hidden partitioning prunes equality lookups to
    one bucket; the literal-transform layer never prunes on doubt
    (untransformable literals derive nothing) and widens strict range
    bounds to inclusive so boundary rows always survive."""
    import datetime

    from pyspark.sql.datasource import GreaterThan, In

    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        _NOGEN,
        _derived_partition_filters,
        _gen_literal,
        read_manifest,
    )

    register(spark)
    path = str(tmp_path / "bk")
    df = spark.createDataFrame(
        [(i, f"u{i}") for i in range(64)], "k long, name string")
    (df.repartition(2).write.format("graft_manifest").mode("overwrite")
     .option("path", path)
     .option("partitionGen", "kb=bucket(8,k)").save())
    m = load_manifest(path)
    live = [f for f in m["files"] if not f.get("dead")]
    assert {f["partition"]["kb"] for f in live} == set(range(8))
    pr = read_manifest(spark, path, filters=[("k", "=", 13)])
    assert len(pr.inputFiles()) == sum(
        1 for f in live if f["partition"]["kb"] == 13 % 8)
    assert pr.filter("k = 13").count() == 1
    # IN-lists map bucket-wise; a single untransformable element
    # cancels the whole derivation (never prune on doubt)
    spec = m["partitionGen"]
    d = _derived_partition_filters([In(("k",), (3, 11))], spec)
    assert len(d) == 1 and set(d[0].value) == {3}
    assert _derived_partition_filters(
        [In(("k",), (3, "not-an-int"))], spec) == []
    # bucket never derives from range predicates (not monotone)
    assert _derived_partition_filters(
        [GreaterThan(("k",), 5)], spec) == []
    # monotone transforms widen strict bounds to inclusive: ts >
    # mid-day D still keeps date D (rows later the same day match)
    gd = {"name": "d", "src": "ts", "transform": "date"}
    dd = _derived_partition_filters(
        [GreaterThan(("ts",), datetime.datetime(2024, 3, 5, 12))], [gd])
    assert len(dd) == 1 and isinstance(dd[0], GreaterThanOrEqual)
    assert dd[0].value == "2024-03-05"
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        _partition_survives,
    )
    assert _partition_survives({"d": "2024-03-05"}, dd)
    # literal edges: hour of a bare date / string timestamps / bool
    # buckets are untransformable
    gh = {"name": "h", "src": "ts", "transform": "hour"}
    assert _gen_literal(gh, datetime.date(2024, 3, 5)) is _NOGEN
    assert _gen_literal(gd, "2024-03-05") is _NOGEN
    gb = {"name": "b", "src": "k", "transform": "bucket", "n": 4}
    assert _gen_literal(gb, True) is _NOGEN
    assert _gen_literal(gb, -5) == 3  # python %: non-negative


def test_generated_partition_spec_survives_metadata_commits(
        spark, tmp_path):
    """The partitionGen spec is TABLE STATE: it rides through
    metadata-only commits (constraints), restore, clone, and dynamic
    partition overwrite keyed on generated values alone."""
    import datetime

    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        add_table_constraint,
        clone_manifest,
        read_manifest,
        restore_manifest,
    )

    register(spark)
    path = str(tmp_path / "meta")
    mk = lambda d, n: spark.createDataFrame(
        [(i, datetime.datetime(2024, 1, d, i % 24), float(i))
         for i in range(n)], "k long, ts timestamp, x double")
    (mk(1, 6).write.format("graft_manifest").mode("overwrite")
     .option("path", path)
     .option("partitionGen", "d=date(ts)").save())
    spec = load_manifest(path)["partitionGen"]
    add_table_constraint(path, {"col": "k", "notNull": True})
    assert load_manifest(path)["partitionGen"] == spec
    # dynamic partition overwrite keyed on the HIDDEN value alone:
    # re-state day 1 with half the rows — only that date's files go
    (mk(2, 4).write.format("graft_manifest").mode("append")
     .option("path", path).save())
    (mk(1, 3).write.format("graft_manifest").mode("append")
     .option("path", path)
     .option("partitionOverwrite", "dynamic").save())
    got = read_manifest(spark, path)
    assert got.filter(F.to_date("ts") == "2024-01-01").count() == 3
    assert got.filter(F.to_date("ts") == "2024-01-02").count() == 4
    # restore to the pre-overwrite version: spec intact, data back
    v = load_manifest(path)["version"]
    restore_manifest(path, v - 1)
    m = load_manifest(path)
    assert m["partitionGen"] == spec
    assert read_manifest(spark, path).filter(
        F.to_date("ts") == "2024-01-01").count() == 6
    # clone carries the spec, and appends into the clone inherit it
    dst = str(tmp_path / "meta_clone")
    clone_manifest(path, dst)
    assert load_manifest(dst)["partitionGen"] == spec
    (mk(3, 2).write.format("graft_manifest").mode("append")
     .option("path", dst).save())
    md = load_manifest(dst)
    newest = [f for f in md["files"] if f.get("addedAt") == md["version"]]
    assert newest and all(
        f["partition"]["d"] == "2024-01-03" for f in newest)


def test_compaction_preserves_hidden_partitioning(spark, tmp_path):
    """OPTIMIZE over a partitionGen table re-splits its output by the
    inherited spec: compaction rewrites flow through the same writer,
    so the hidden layout (and its pruning) survives maintenance — no
    combo-merging regression."""
    import datetime

    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        compact_manifest,
        read_manifest,
    )

    register(spark)
    path = str(tmp_path / "cg")
    for d in (1, 2):
        df = spark.createDataFrame(
            [(i, datetime.datetime(2024, 1, d, i % 24), float(i))
             for i in range(5)], "k long, ts timestamp, x double")
        (df.coalesce(1).write.format("graft_manifest")
         .mode("overwrite" if d == 1 else "append")
         .option("path", path).option("statCols", "k")
         .option("partitionGen", "d=date(ts)"
                 if d == 1 else "").save())
    compact_manifest(spark, path, ["k"], small_file_rows=100)
    m = load_manifest(path)
    live = [f for f in m["files"] if not f.get("dead")]
    assert all(f.get("partition") and "d" in f["partition"]
               for f in live)
    assert {f["partition"]["d"] for f in live} == {
        "2024-01-01", "2024-01-02"}
    pr = read_manifest(
        spark, path,
        filters=[("ts", ">=", datetime.datetime(2024, 1, 2))])
    assert len(pr.inputFiles()) < len(live)
    assert pr.filter("ts >= timestamp'2024-01-02'").count() == 5


def test_manifest_files_metadata_tracks_dv_and_partitions(
        spark, tmp_path):
    """manifest_files (DESCRIBE DETAIL files analog): live_rows
    reflects deletion vectors exactly, partition values surface as
    JSON, and dead entries never appear."""
    import datetime

    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        delete_vectors_from_manifest,
        manifest_files,
    )

    register(spark)
    path = str(tmp_path / "fm")
    df = spark.createDataFrame(
        [(i, datetime.datetime(2024, 1, 1 + i % 2), float(i))
         for i in range(10)], "k long, ts timestamp, x double")
    (df.coalesce(1).write.format("graft_manifest").mode("overwrite")
     .option("path", path).option("statCols", "k")
     .option("partitionGen", "d=date(ts)").save())
    rows = {r["partition_json"]: r for r in
            manifest_files(spark, path).collect()}
    assert set(rows) == {'{"d": "2024-01-01"}', '{"d": "2024-01-02"}'}
    assert all(r["live_rows"] == r["committed_rows"] == 5
               and r["dv_dead_rows"] == 0
               and r["size_bytes"] > 0 for r in rows.values())
    delete_vectors_from_manifest(
        spark.createDataFrame([(0,), (2,)], "k long"),
        path, ["k"], ["k"])
    got = manifest_files(spark, path).collect()
    # k=0 and k=2 are both even → day 1's file lost exactly 2 rows
    by_part = {r["partition_json"]: r for r in got}
    d1 = by_part['{"d": "2024-01-01"}']
    assert d1["dv_dead_rows"] == 2 and d1["live_rows"] == 3
    assert sum(r["live_rows"] for r in got) == 8


def test_string_bloom_point_lookup(spark, tmp_path):
    """String bloom filters: a stable 64-bit prefix hash (scalar and
    vectorized builders bit-identical, offsets and large_string
    handled) feeds the same bloom bit array as integer keys — string
    point lookups open ~one file, and a kind-mismatched literal (int
    probe on a string bloom, string probe on an int bloom) can never
    exclude a file."""
    import pyarrow as pa

    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        _bloom_maybe_contains,
        _string_hash64_numpy,
        _string_hash64_scalar,
        read_manifest,
    )

    vals = ["", "a", "Supplier#000000001", "x" * 31, "y" * 32,
            "z" * 100, "üñïçødé-Ω", "prefix" + "p" * 40]
    for typ in (pa.string(), pa.large_string()):
        arr = pa.array(vals, typ)
        hv = _string_hash64_numpy(arr)
        assert all(int(hv[i]) == _string_hash64_scalar(v)
                   for i, v in enumerate(vals))
        sl = arr.slice(2, 4)  # non-zero offset path
        hv2 = _string_hash64_numpy(sl)
        assert all(int(hv2[i]) == _string_hash64_scalar(v)
                   for i, v in enumerate(vals[2:6]))

    register(spark)
    path = str(tmp_path / "sb")
    df = spark.createDataFrame(
        [(i, f"doc-{i:06d}", float(i)) for i in range(120)],
        "k long, doc_id string, x double")
    (df.repartition(6, "k").write.format("graft_manifest")
     .mode("overwrite").option("path", path)
     .option("statCols", "k").option("bloomCols", "doc_id").save())
    m = load_manifest(path)
    live = [f for f in m["files"] if not f.get("dead")]
    assert all((f.get("bloom") or {}).get("doc_id", "").startswith("s!")
               for f in live)
    # doc_id has no stats (statCols covers only k): the bloom alone
    # must prune the file list for a string point lookup
    target = "doc-000042"
    kept = [f for f in live
            if _file_survives(f["stats"], [EqualTo(("doc_id",), target)],
                              f.get("bloom"))]
    assert 0 < len(kept) < len(live)
    got = read_manifest(spark, path,
                        filters=[("doc_id", "=", target)])
    assert got.filter(F.col("doc_id") == target).count() == 1
    # kind mismatch never excludes
    enc = (live[0].get("bloom") or {})["doc_id"]
    assert _bloom_maybe_contains(enc, 42)        # int on string bloom
    assert _bloom_maybe_contains("AAAA", "x")    # str on int bloom
    kept2 = [f for f in live
             if _file_survives(f["stats"], [EqualTo(("doc_id",), 42)],
                               f.get("bloom"))]
    assert len(kept2) == len(live)


def test_max_rows_per_file_rolls_exactly(spark, tmp_path):
    """maxRowsPerFile: a task's output rolls to fresh files at exactly
    the cap (zero-copy batch slicing — Spark's maxRecordsPerFile
    semantics), per partition combo, with correct per-file stats and
    a readable, exact table."""
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        read_manifest,
    )

    register(spark)
    path = str(tmp_path / "roll")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k long, x double")
    (df.coalesce(1).write.format("graft_manifest").mode("overwrite")
     .option("path", path).option("statCols", "k")
     .option("maxRowsPerFile", "30").save())
    m = load_manifest(path)
    live = [f for f in m["files"] if not f.get("dead")]
    assert sorted(f["rows"] for f in live) == [10, 30, 30, 30]
    # per-file stats describe exactly that file's slice
    spans = sorted((f["stats"]["k"]["min"], f["stats"]["k"]["max"])
                   for f in live)
    assert spans == [(0, 29), (30, 59), (60, 89), (90, 99)]
    got = read_manifest(spark, path)
    assert got.count() == 100
    assert got.select(F.sum("k")).first()[0] == sum(range(100))
    # composes with partition combos: the cap applies per combo
    path2 = str(tmp_path / "roll2")
    df2 = spark.createDataFrame(
        [(i, i % 2, float(i)) for i in range(40)],
        "k long, p int, x double")
    (df2.coalesce(1).write.format("graft_manifest").mode("overwrite")
     .option("path", path2).option("statCols", "k")
     .option("partitionCols", "p")
     .option("maxRowsPerFile", "8").save())
    m2 = load_manifest(path2)
    by_p: dict[int, list[int]] = {}
    for f in m2["files"]:
        if not f.get("dead"):
            by_p.setdefault(f["partition"]["p"], []).append(f["rows"])
    assert {p: sorted(rows) for p, rows in by_p.items()} == {
        0: [4, 8, 8], 1: [4, 8, 8]}
    assert read_manifest(spark, path2).count() == 40


def test_truncate_transform_hidden_partitioning(spark, tmp_path):
    """truncate(N, col) generated partitions (Iceberg's truncate
    transform): a monotone string-prefix — equality, ranges AND
    startswith predicates on the source column all imply partition
    bounds; codepoint (not byte) slicing matches Python's s[:n] for
    non-ASCII."""
    from pyspark.sql.datasource import GreaterThanOrEqual as GE

    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        _derived_partition_filters,
        _gen_literal,
        read_manifest,
    )

    register(spark)
    path = str(tmp_path / "tr")
    df = spark.createDataFrame(
        [(i, f"{g}{i:04d}") for i in range(60)
         for g in (chr(ord('a') + i % 5),)], "k long, name string")
    (df.repartition(3).write.format("graft_manifest").mode("overwrite")
     .option("path", path).option("statCols", "k")
     .option("partitionGen", "name4=truncate(1,name)").save())
    m = load_manifest(path)
    live = [f for f in m["files"] if not f.get("dead")]
    assert {f["partition"]["name4"] for f in live} == set("abcde")
    # equality on the source prunes to one prefix's files
    pr = read_manifest(spark, path, filters=[("name", "=", "c0002")])
    opened = {os.path.basename(p) for p in pr.inputFiles()}
    assert {f["partition"]["name4"] for f in live
            if os.path.basename(f["path"]) in opened} == {"c"}
    assert pr.filter(F.col("name") == "c0002").count() == 1
    # startswith: shorter-than-width prefix → startswith on the value;
    # width-covering prefix → equality
    spec = m["partitionGen"]
    d1 = _derived_partition_filters(
        [StringStartsWith(("name",), "c00")], spec)
    assert len(d1) == 1 and isinstance(d1[0], EqualTo) \
        and d1[0].value == "c"
    wide = [{"name": "p", "src": "name", "transform": "truncate",
             "n": 4}]
    d2 = _derived_partition_filters(
        [StringStartsWith(("name",), "c0")], wide)
    assert len(d2) == 1 and isinstance(d2[0], StringStartsWith) \
        and d2[0].value == "c0"
    # range bounds map through the prefix
    d3 = _derived_partition_filters([GE(("name",), "c5")], spec)
    assert len(d3) == 1 and d3[0].value == "c"
    # unicode literal truncation is codepoint-exact
    g = {"name": "p", "src": "s", "transform": "truncate", "n": 3}
    assert _gen_literal(g, "日本語テキスト") == "日本語"
    startswith_scan = read_manifest(
        spark, path, filters=[("name", "startswith", "d")])
    assert (startswith_scan.filter(F.col("name").startswith("d")).count()
            == 12)


def test_describe_manifest_detail(spark, tmp_path):
    """describe_manifest (DESCRIBE DETAIL): version, DV-adjusted live
    rows, bytes, partition/clustering/constraint metadata, and the
    retained version range — the at-a-glance operational summary."""
    import datetime

    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        delete_vectors_from_manifest,
        describe_manifest,
        set_cluster_by,
    )

    register(spark)
    path = str(tmp_path / "dd")
    df = spark.createDataFrame(
        [(i, datetime.datetime(2024, 1, 1 + i % 2), float(i))
         for i in range(10)], "k long, ts timestamp, x double")
    (df.coalesce(1).write.format("graft_manifest").mode("overwrite")
     .option("path", path).option("statCols", "k")
     .option("partitionGen", "d=date(ts)").save())
    set_cluster_by(path, ["k"])
    delete_vectors_from_manifest(
        spark.createDataFrame([(0,), (2,)], "k long"),
        path, ["k"], ["k"])
    d = describe_manifest(path)
    assert d["numFiles"] == 2 and d["numRows"] == 8
    assert d["sizeBytes"] > 0
    assert d["partitionColumns"] == []  # d is generated, not stored
    assert d["partitionGen"] == [
        {"name": "d", "src": "ts", "transform": "date"}]
    assert d["clusterBy"] == ["k"]
    assert d["schemaFields"] == ["k", "ts", "x"]
    lo, hi = d["retainedVersions"]
    assert (lo, hi) == (0, d["version"]) and d["version"] == 2
    # time travel: the pre-DV version reports the full row count
    d0 = describe_manifest(path, version=0)
    assert d0["numRows"] == 10 and d0["clusterBy"] == []


def test_partition_scoped_optimize(spark, tmp_path):
    """OPTIMIZE ... WHERE: compaction restricted to one partition's
    files — other partitions' small-file debt is untouched, the
    rewrite flows through the writer (hidden partitioning re-splits
    the output), and a clustered table refuses the scoped form."""
    import datetime

    import pytest

    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        optimize_manifest,
        read_manifest,
        set_cluster_by,
    )

    register(spark)
    path = str(tmp_path / "po")
    # 3 micro-appends per day → small-file debt in both partitions
    for j in range(3):
        df = spark.createDataFrame(
            [(j * 10 + i, datetime.datetime(2024, 1, 1 + i % 2),
              float(i)) for i in range(10)],
            "k long, ts timestamp, x double")
        (df.coalesce(1).write.format("graft_manifest")
         .mode("overwrite" if j == 0 else "append")
         .option("path", path).option("statCols", "k")
         .option("partitionGen", "d=date(ts)" if j == 0 else "")
         .save())
    m0 = load_manifest(path)
    day2_before = [f["path"] for f in m0["files"]
                   if not f.get("dead")
                   and f["partition"]["d"] == "2024-01-02"]
    assert len(day2_before) == 3
    optimize_manifest(spark, path, target_rows=1000,
                      partition_where={"d": "2024-01-01"})
    m1 = load_manifest(path)
    live = [f for f in m1["files"] if not f.get("dead")]
    by_day: dict[str, int] = {}
    for f in live:
        by_day[f["partition"]["d"]] = by_day.get(
            f["partition"]["d"], 0) + 1
    assert by_day["2024-01-01"] == 1        # compacted
    assert by_day["2024-01-02"] == 3        # untouched
    assert sorted(f["path"] for f in live
                  if f["partition"]["d"] == "2024-01-02") \
        == sorted(day2_before)
    assert read_manifest(spark, path).count() == 30
    # clustered tables refuse the scoped form
    set_cluster_by(path, ["k"])
    with pytest.raises(ValueError, match="bin-packing only"):
        optimize_manifest(spark, path, target_rows=1000,
                          partition_where={"d": "2024-01-02"})


def test_table_properties_drive_writer_defaults(spark, tmp_path):
    """TBLPROPERTIES: set_table_properties persists a property map in
    table state (appends inherit, restore carries, None unsets), and
    the engine consults targetFileRows as the default writer rolling
    cap — per-table file-size policy with zero writer configuration;
    an explicit maxRowsPerFile option wins."""
    import pytest

    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        describe_manifest,
        read_manifest,
        restore_manifest,
        set_table_properties,
    )

    register(spark)
    path = str(tmp_path / "tp")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "k long, x double")
    (df.coalesce(1).write.format("graft_manifest").mode("overwrite")
     .option("path", path).option("statCols", "k").save())
    with pytest.raises(ValueError, match="JSON scalar"):
        set_table_properties(path, {"bad": [1, 2]})
    set_table_properties(path, {"targetFileRows": 20,
                                "owner": "pipeline-team"})
    assert describe_manifest(path)["properties"] == {
        "targetFileRows": 20, "owner": "pipeline-team"}
    # an append with NO option rolls at the table's policy
    (df.coalesce(1).write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "k").save())
    m = load_manifest(path)
    newest = sorted(f["rows"] for f in m["files"]
                    if f.get("addedAt") == m["version"])
    assert newest == [10, 20, 20]
    # explicit option wins over the property
    (df.coalesce(1).write.format("graft_manifest").mode("append")
     .option("path", path).option("statCols", "k")
     .option("maxRowsPerFile", "25").save())
    m2 = load_manifest(path)
    newest2 = sorted(f["rows"] for f in m2["files"]
                     if f.get("addedAt") == m2["version"])
    assert newest2 == [25, 25]
    # unset removes the key; restore carries the map of its target
    set_table_properties(path, {"owner": None})
    assert describe_manifest(path)["properties"] == {
        "targetFileRows": 20}
    v = load_manifest(path)["version"]
    restore_manifest(path, v - 1)
    assert describe_manifest(path)["properties"]["owner"] == \
        "pipeline-team"
    assert read_manifest(spark, path).count() == 150


def test_file_uri_path_option_normalizes(spark, tmp_path):
    """Spark's SQL catalog (and some callers) hand the data source a
    file: URI instead of a plain path — _require_path normalizes it
    so local table code never sees the scheme."""
    from pyspark.sql import functions as F

    register(spark)
    path = str(tmp_path / "uri_t")
    df = spark.range(5).select(F.col("id").alias("k"))
    write_manifest_table(df, path, ["k"])
    got = (spark.read.format("graft_manifest")
           .option("path", "file:" + path).load())
    assert got.count() == 5

"""General MERGE clause matrix (``merge_apply`` + the SQL front-end):
ordered conditional WHEN clauses, per-column assignments, conditional
inserts with DEFAULT fill, NOT MATCHED BY SOURCE updates, the
multi-match guard, generated-column recompute, and atomicity — the
CDC-apply idiom (VERDICT r9 task 1).  Delta semantics by published
behavior: per row the FIRST clause of its kind whose condition is
TRUE fires; NULL conditions do not fire; multiple source matches with
a MATCHED clause are refused.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_pipeline_project_cloud_spark import graft_sql
from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
    add_generated_column,
    delete_where_dv,
    load_manifest,
    merge_apply,
    read_manifest,
    register,
    set_column_default,
    set_table_properties,
    write_manifest_table,
)


@pytest.fixture()
def table(spark, tmp_path):
    register(spark)
    path = str(tmp_path / "t")
    df = spark.range(0, 20).select(
        F.col("id").alias("k"),
        (F.col("id") * 10.0).alias("val"),
        F.lit("old").alias("tag"))
    write_manifest_table(df.repartitionByRange(4, "k"), path, ["k"])
    return path


def _rows(spark, path):
    return {r["k"]: (r["val"], r["tag"])
            for r in read_manifest(spark, path).collect()}


# ------------------------------------------------------------- SQL path


def test_sql_merge_cdc_apply_mixed_clauses(spark, table):
    """The standard CDC-apply statement: delete/update/insert in ONE
    merge, each clause conditioned on the source op column."""
    spark.createDataFrame(
        [(1, 111.0, "D"), (2, 222.0, "U"), (50, 5.0, "I"),
         (3, 333.0, "zzz"), (60, 6.0, "skip")],
        "k long, val double, op string"
    ).createOrReplaceTempView("cdc_batch")
    v0 = load_manifest(table)["version"]
    graft_sql(spark, f"""
        MERGE INTO `{table}` t USING cdc_batch s ON t.k = s.k
        WHEN MATCHED AND s.op = 'D' THEN DELETE
        WHEN MATCHED AND s.op = 'U' THEN UPDATE SET
             val = s.val, tag = concat(t.tag, '+u')
        WHEN NOT MATCHED AND s.op = 'I' THEN
             INSERT (k, val, tag) VALUES (s.k, s.val, 'new')
    """)
    out = _rows(spark, table)
    assert 1 not in out                      # D deleted
    assert out[2] == (222.0, "old+u")        # U updated per-column
    assert out[50] == (5.0, "new")           # I inserted
    assert out[3] == (30.0, "old")           # matched, no clause fired
    assert 60 not in out                     # unmatched, no insert fired
    assert len(out) == 20
    # ONE atomic commit
    assert load_manifest(table)["version"] == v0 + 1


def test_sql_merge_ordered_clauses_first_true_fires(spark, table):
    spark.createDataFrame([(1, 100.0), (2, 200.0)],
                          "k long, v double") \
        .createOrReplaceTempView("ord_src")
    graft_sql(spark, f"""
        MERGE INTO `{table}` t USING ord_src s ON t.k = s.k
        WHEN MATCHED AND s.v >= 100 THEN UPDATE SET tag = 'first'
        WHEN MATCHED AND s.v >= 200 THEN UPDATE SET tag = 'second'
        WHEN MATCHED THEN UPDATE SET tag = 'fallback'
    """)
    out = _rows(spark, table)
    # both rows satisfy the FIRST clause; the second never fires
    assert out[1][1] == "first" and out[2][1] == "first"


def test_sql_merge_insert_only_and_update_only(spark, table):
    """Insert-only and update-only merges are valid (the r9 front-end
    refused both; Delta allows them)."""
    spark.createDataFrame([(100, 1.0), (2, 2.0)], "k long, v double") \
        .createOrReplaceTempView("io_src")
    graft_sql(spark, f"MERGE INTO `{table}` t USING io_src s "
                     f"ON t.k = s.k "
                     f"WHEN NOT MATCHED THEN INSERT (k, val) "
                     f"VALUES (s.k, s.v)")
    out = _rows(spark, table)
    assert out[100] == (1.0, None) and out[2] == (20.0, "old")
    graft_sql(spark, f"MERGE INTO `{table}` t USING io_src s "
                     f"ON t.k = s.k "
                     f"WHEN MATCHED THEN UPDATE SET val = s.v * 1000")
    out = _rows(spark, table)
    assert out[2] == (2000.0, "old") and out[100] == (1000.0, None)


def test_sql_merge_update_star_with_condition(spark, table):
    """UPDATE SET * under a condition routes through merge_apply (the
    legacy path only takes the unconditioned twin-clause shape)."""
    spark.createDataFrame([(1, -1.0, "n"), (2, -2.0, "n")],
                          "k long, val double, tag string") \
        .createOrReplaceTempView("star_src")
    graft_sql(spark, f"""
        MERGE INTO `{table}` t USING star_src s ON t.k = s.k
        WHEN MATCHED AND s.val < -1.5 THEN UPDATE SET *
    """)
    out = _rows(spark, table)
    assert out[2] == (-2.0, "n") and out[1] == (10.0, "old")


def test_sql_merge_nmbs_update(spark, table):
    """WHEN NOT MATCHED BY SOURCE THEN UPDATE — new in round 10 (the
    legacy path only supported the DELETE form)."""
    spark.createDataFrame([(k,) for k in range(15)], "k long") \
        .createOrReplaceTempView("nmbs_keys")
    graft_sql(spark, f"""
        MERGE INTO `{table}` t USING nmbs_keys s ON t.k = s.k
        WHEN NOT MATCHED BY SOURCE AND t.k < 18 THEN
             UPDATE SET tag = 'stale'
    """)
    out = _rows(spark, table)
    assert out[15][1] == "stale" and out[17][1] == "stale"
    assert out[18][1] == "old"     # condition false: untouched
    assert out[5][1] == "old"      # matched: untouched
    assert len(out) == 20


def test_sql_merge_case_when_inside_expressions(spark, table):
    """CASE WHEN inside clause conditions and SET expressions must not
    be taken for clause boundaries (find_clause skips CASE..END)."""
    spark.createDataFrame([(1, 5.0), (2, 50.0)], "k long, v double") \
        .createOrReplaceTempView("case_src")
    graft_sql(spark, f"""
        MERGE INTO `{table}` t USING case_src s ON t.k = s.k
        WHEN MATCHED AND (CASE WHEN s.v > 10 THEN true ELSE false END)
             THEN UPDATE SET tag = CASE WHEN s.v > 40 THEN 'big'
                                        ELSE 'mid' END
        WHEN MATCHED THEN UPDATE SET tag = 'small'
    """)
    out = _rows(spark, table)
    assert out[2][1] == "big" and out[1][1] == "small"


def test_sql_merge_clause_shape_errors(spark, table):
    spark.createDataFrame([(1,)], "k long") \
        .createOrReplaceTempView("err_src")
    head = (f"MERGE INTO `{table}` t USING err_src s ON t.k = s.k ")
    with pytest.raises(ValueError, match="INSERT only"):
        graft_sql(spark, head + "WHEN NOT MATCHED THEN DELETE")
    with pytest.raises(ValueError, match="cannot INSERT"):
        graft_sql(spark, head + "WHEN MATCHED THEN INSERT *")
    with pytest.raises(ValueError, match="meaningless"):
        graft_sql(spark, head + "WHEN NOT MATCHED BY SOURCE THEN "
                                "UPDATE SET *")
    with pytest.raises(ValueError, match="column"):
        graft_sql(spark, head + "WHEN NOT MATCHED THEN INSERT (k) "
                                "VALUES (s.k, 1)")
    with pytest.raises(ValueError, match="LAST of its kind"):
        graft_sql(spark, head + "WHEN NOT MATCHED THEN INSERT * "
                                "WHEN NOT MATCHED AND s.k = 1 THEN "
                                "INSERT *")
    with pytest.raises(ValueError, match="non-target"):
        graft_sql(spark, head + "WHEN MATCHED THEN UPDATE SET "
                                "s.k = 1")


# ------------------------------------------------------------- API path


def test_merge_apply_multi_match_guard(spark, table):
    dup = spark.createDataFrame([(1, "a"), (1, "b"), (99, "c")],
                                "k long, x string")
    with pytest.raises(ValueError, match="multiple source rows"):
        merge_apply(dup, table, ["k"], ["k"],
                    matched=[{"cond": None, "action": "update",
                              "set": {"tag": "s.x"}}],
                    source_alias="s")
    # duplicate UNMATCHED keys are fine for insert-only (Delta allows:
    # both rows insert)
    dup2 = spark.createDataFrame([(200, 1.0, "a"), (200, 2.0, "b")],
                                 "k long, val double, tag string")
    merge_apply(dup2, table, ["k"], ["k"],
                not_matched=[{"cond": None, "values": None}],
                source_alias="s")
    rows = read_manifest(spark, table).filter("k = 200").collect()
    assert len(rows) == 2


def test_merge_apply_insert_star_requires_all_columns(spark, table):
    src = spark.createDataFrame([(300,)], "k long")
    with pytest.raises(Exception):
        merge_apply(src, table, ["k"], ["k"],
                    not_matched=[{"cond": None, "values": None}],
                    source_alias="s")


def test_merge_apply_default_fill_and_generated_recompute(
        spark, tmp_path):
    register(spark)
    path = str(tmp_path / "g")
    df = spark.range(0, 6).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("a"))
    write_manifest_table(df, path, ["k"])
    add_generated_column(spark, path, "a2", "a * 2", "double",
                         backfill=True)
    set_column_default(spark, path, "a", "42.0")
    src = spark.createDataFrame([(2, 7.0), (100, 1.0), (101, None)],
                                "k long, a double")
    merge_apply(
        src, path, ["k"], ["k"],
        matched=[{"cond": None, "action": "update",
                  "set": {"a": "s.a"}}],
        not_matched=[
            # k=100 inserts a explicitly; k=101 hits the second
            # clause which omits a -> declared DEFAULT fills it
            {"cond": "s.a IS NOT NULL", "values": {"k": "s.k",
                                                   "a": "s.a"}},
            {"cond": None, "values": {"k": "s.k"}}],
        source_alias="s")
    out = {r["k"]: (r["a"], r["a2"])
           for r in read_manifest(spark, path).collect()}
    assert out[2] == (7.0, 14.0)       # update recomputed a2
    assert out[100] == (1.0, 2.0)      # insert computed a2
    assert out[101] == (42.0, 84.0)    # DEFAULT filled, a2 computed
    assert out[3] == (3.0, 6.0)


def test_merge_apply_honors_deletion_vectors(spark, tmp_path):
    """Rows masked by a deletion vector must not resurrect through the
    merge rewrite (the read side is _masked_spark_read)."""
    register(spark)
    path = str(tmp_path / "dv")
    df = spark.range(0, 10).select(F.col("id").alias("k"),
                                   F.lit("x").alias("tag"))
    write_manifest_table(df.coalesce(1), path, ["k"])
    set_table_properties(path, {"enableDeletionVectors": "true"})
    delete_where_dv(spark, path, "k = 4")
    merge_apply(
        spark.createDataFrame([(5, "upd")], "k long, tag string"),
        path, ["k"], ["k"],
        matched=[{"cond": None, "action": "update",
                  "set": {"tag": "s.tag"}}],
        source_alias="s")
    ks = {r["k"] for r in read_manifest(spark, path).collect()}
    assert 4 not in ks and len(ks) == 9
    assert read_manifest(spark, path).filter("k = 5") \
        .collect()[0]["tag"] == "upd"


def test_merge_apply_null_condition_does_not_fire(spark, table):
    src = spark.createDataFrame([(1, None), (2, 99.0)],
                                "k long, v double")
    merge_apply(src, table, ["k"], ["k"],
                matched=[{"cond": "s.v > 0", "action": "update",
                          "set": {"val": "s.v"}}],
                source_alias="s")
    out = _rows(spark, table)
    assert out[1] == (10.0, "old")     # NULL condition: no fire
    assert out[2] == (99.0, "old")


def test_merge_apply_key_pruning_rewrites_only_affected(spark, table):
    """Only files whose stats may hold a source key are tombstoned —
    the 100 TB contract (same as merge_into_manifest)."""
    m0 = load_manifest(table)
    live0 = [f["path"] for f in m0["files"] if not f.get("dead")]
    assert len(live0) >= 4, "fixture must be range-fragmented"
    merge_apply(
        spark.createDataFrame([(0, 0.0)], "k long, val double"),
        table, ["k"], ["k"],
        matched=[{"cond": None, "action": "update",
                  "set": {"val": "s.val"}}],
        source_alias="s")
    m1 = load_manifest(table)
    dead = [f["path"] for f in m1["files"]
            if f.get("dead") and f["path"] in live0]
    assert len(dead) == 1, "k=0 lives in exactly one range file"


def test_sql_merge_by_target_synonym(spark, table):
    """Delta accepts WHEN NOT MATCHED BY TARGET as a synonym for
    WHEN NOT MATCHED."""
    spark.createDataFrame([(300, 3.0)], "k long, v double") \
        .createOrReplaceTempView("bt_src")
    graft_sql(spark, f"MERGE INTO `{table}` t USING bt_src s "
                     f"ON t.k = s.k "
                     f"WHEN NOT MATCHED BY TARGET THEN "
                     f"INSERT (k, val) VALUES (s.k, s.v)")
    assert read_manifest(spark, table).filter("k = 300") \
        .collect()[0]["val"] == 3.0


def test_sql_merge_with_schema_evolution(spark, table):
    """MERGE WITH SCHEMA EVOLUTION: a source column the table lacks
    widens the table in the same commit — star clauses carry it,
    untouched rows NULL-fill (Delta's withSchemaEvolution)."""
    spark.createDataFrame(
        [(2, 222.0, "n", "eu"), (500, 5.0, "n", "us")],
        "k long, val double, tag string, region string"
    ).createOrReplaceTempView("evo_src")
    graft_sql(spark, f"""
        MERGE WITH SCHEMA EVOLUTION INTO `{table}` t
        USING evo_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """)
    out = {r["k"]: r["region"]
           for r in read_manifest(spark, table).collect()}
    assert out[2] == "eu" and out[500] == "us"
    assert out[3] is None  # untouched rows NULL-fill the new column


def test_merge_apply_schema_evolution_matrix(spark, table):
    """Evolution through the general clause matrix: a conditional
    star update carries the new column for firing rows only."""
    src = spark.createDataFrame(
        [(1, 11.0, "x", 7), (2, 22.0, "y", 8)],
        "k long, val double, tag string, score int")
    merge_apply(src, table, ["k"], ["k"],
                matched=[{"cond": "s.score > 7", "action": "update",
                          "set": None}],
                source_alias="s", schema_evolution=True)
    out = {r["k"]: (r["val"], r["score"])
           for r in read_manifest(spark, table).collect()}
    assert out[2] == (22.0, 8)
    assert out[1] == (10.0, None)  # clause did not fire
    assert out[5] == (50.0, None)


def test_merge_apply_insert_only_dup_matched_keys_no_fanout(
        spark, table):
    """Round-10 fix: an insert-only merge whose source carries a
    MATCHED key twice must neither duplicate the kept target row
    (the old full-outer join fanned it out) nor rewrite any file
    (insert-only merges are append-only commits)."""
    src = spark.createDataFrame([(3, 0.1, "a"), (3, 0.2, "b"),
                                 (600, 1.0, "c")],
                                "k long, val double, tag string")
    merge_apply(src, table, ["k"], ["k"],
                not_matched=[{"cond": None, "values": None}],
                source_alias="s")
    assert read_manifest(spark, table).filter("k = 3").count() == 1
    assert read_manifest(spark, table).count() == 21
    m = load_manifest(table)
    assert not any(f.get("dead") for f in m["files"])


def test_merge_apply_update_part_is_broadcastable(spark, table):
    """The 100 TB plan contract: the update part is a LEFT OUTER join
    (a broadcast-sized CDC batch broadcasts; the big target side
    stays partition-local) — never a full outer, which Spark can only
    sort-merge."""
    captured = {}
    import data_engineering_pipeline_project_cloud_spark.sources.manifest_source as msrc

    real = msrc.write_frame

    def spy(df, *a, **kw):
        captured["plan"] = df._jdf.queryExecution().executedPlan() \
            .toString()
        return real(df, *a, **kw)

    orig = msrc.write_frame
    msrc.write_frame = spy
    try:
        merge_apply(
            spark.createDataFrame([(1, -1.0)], "k long, v double"),
            table, ["k"], ["k"],
            matched=[{"cond": None, "action": "update",
                      "set": {"val": "s.v"}}],
            source_alias="s")
    finally:
        msrc.write_frame = orig
    plan = captured["plan"]
    # the join is LEFT OUTER (AQE may pick broadcast at runtime —
    # FullOuter would FORCE a sort-merge and is the regression)
    assert "FullOuter" not in plan, plan[:2000]
    assert "LeftOuter" in plan, plan[:2000]


def test_merge_apply_serializable_conflict_on_racing_append(
        spark, table):
    """merge_apply carries the same source-key summary
    (conflictKeys) as merge_into_manifest: a plain append that lands
    a MERGED key between the merge's read snapshot and its commit
    fails the merge instead of leaving two rows for the key."""
    import data_engineering_pipeline_project_cloud_spark.sources.manifest_source as msrc

    real = msrc.write_frame

    def race(df, path_, mode="append", **kw):
        msrc.write_frame = real   # the racer itself must not recurse
        racer = spark.createDataFrame([(1, 0.5, "racer")],
                                      "k long, val double, tag string")
        real(racer, path_, "append", statCols="k")
        return real(df, path_, mode, **kw)

    msrc.write_frame = race
    try:
        with pytest.raises(Exception, match="serializable conflict"):
            merge_apply(
                spark.createDataFrame([(1, -1.0)],
                                      "k long, v double"),
                table, ["k"], ["k"],
                matched=[{"cond": None, "action": "update",
                          "set": {"val": "s.v"}}],
                source_alias="s")
    finally:
        msrc.write_frame = real
    # the racer's row landed; the merge did not
    rows = read_manifest(spark, table).filter("k = 1").collect()
    assert {r["tag"] for r in rows} == {"old", "racer"}


def test_merge_apply_composite_key(spark, tmp_path):
    register(spark)
    path = str(tmp_path / "ck")
    df = spark.range(0, 12).select(
        (F.col("id") % 4).alias("a"), (F.col("id") % 3).alias("b"),
        F.col("id").cast("double").alias("v"))
    write_manifest_table(df, path, ["a", "b"])
    src = spark.createDataFrame([(1, 1, -1.0), (0, 9, 77.0)],
                                "a long, b long, v double")
    merge_apply(src, path, ["a", "b"], ["a", "b"],
                matched=[{"cond": None, "action": "update",
                          "set": {"v": "s.v"}}],
                not_matched=[{"cond": None, "values": None}],
                source_alias="s")
    out = {(r["a"], r["b"]): r["v"]
           for r in read_manifest(spark, path).collect()}
    assert out[(1, 1)] == -1.0      # composite key matched
    assert out[(0, 9)] == 77.0      # composite key inserted
    assert out[(0, 0)] == 0.0
    assert len(out) == 13


def test_merge_apply_out_of_range_keys_insert_without_rewrite(
        spark, table):
    """Source keys entirely outside every file's stats range: the
    FIND prunes ALL candidates, the matched clause has nothing to
    touch, and the not-matched clause still inserts — as a pure
    append commit (no tombstones)."""
    src = spark.createDataFrame([(900, 9.0), (901, 9.1)],
                                "k long, v double")
    merge_apply(src, table, ["k"], ["k"],
                matched=[{"cond": None, "action": "update",
                          "set": {"val": "s.v"}}],
                not_matched=[{"cond": None,
                              "values": {"k": "s.k", "val": "s.v"}}],
                source_alias="s")
    out = _rows(spark, table)
    assert out[900] == (9.0, None) and out[901] == (9.1, None)
    assert len(out) == 22
    assert not any(f.get("dead")
                   for f in load_manifest(table)["files"])


def test_merge_apply_casts_source_keys_to_table_types(spark, table):
    """A type-mismatched source (string keys vs bigint column) joins
    under the TABLE's key type — the same cast the file-pruning
    src_keys uses (ADVICE r10) — so matches agree with the pruned
    candidate set instead of coercing both sides via double."""
    src = spark.createDataFrame(
        [("3", 777.0), ("99", 888.0)], ["k", "val"])
    merge_apply(src, table, ["k"], ["k"], matched=[
        {"set": {"val": "s.val"}}],
        not_matched=[{"values": {"k": "s.k", "val": "s.val"}}],
        source_alias="s")
    rows = {r["k"]: (r["val"], r["tag"])
            for r in read_manifest(spark, table).collect()}
    assert rows[3] == (777.0, "old")       # string '3' matched bigint 3
    assert rows[99] == (888.0, None)       # inserted, cast to bigint
    assert len(rows) == 21


def test_sql_merge_nmbs_resolves_against_target(spark, table):
    """NOT MATCHED BY SOURCE conditions and assignments see the TARGET
    only: an unqualified column the source also carries is the
    target's, not an ambiguous reference."""
    spark.createDataFrame([(2, 5.0, "src")],
                          "k long, val double, tag string"
                          ).createOrReplaceTempView("nmbs_src")
    graft_sql(spark, f"""
        MERGE INTO `{table}` t USING nmbs_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED BY SOURCE AND val >= 150 THEN DELETE
        WHEN NOT MATCHED BY SOURCE AND val < 30
          THEN UPDATE SET tag = tag || '_stale'
    """)
    want = {k: (k * 10.0, "old") for k in range(15)}
    want.update({0: (0.0, "old_stale"), 1: (10.0, "old_stale"),
                 2: (5.0, "src")})
    assert _rows(spark, table) == want


def test_sql_merge_delete_only_accepts_duplicate_source_keys(spark, table):
    """Delta's exemption: when the only MATCHED clause is an
    unconditional DELETE, repeated source keys are fine (every match
    deletes the same row).  A conditional delete or an update with
    repeated matches still raises."""
    spark.createDataFrame([(1,), (1,), (4,), (4,), (4,), (99,)],
                          "k long").createOrReplaceTempView("dup_del")
    v0 = load_manifest(table)["version"]
    head = f"MERGE INTO `{table}` t USING dup_del s ON t.k = s.k "
    graft_sql(spark, head + "WHEN MATCHED THEN DELETE")
    assert sorted(_rows(spark, table)) == [
        k for k in range(20) if k not in (1, 4)]
    assert load_manifest(table)["version"] == v0 + 1
    spark.createDataFrame([(2,), (2,)], "k long"
                          ).createOrReplaceTempView("dup_del")
    with pytest.raises(ValueError, match="multiple source rows"):
        graft_sql(spark, head + "WHEN MATCHED AND s.k > 0 THEN DELETE")
    with pytest.raises(ValueError, match="multiple source rows"):
        graft_sql(spark, head + "WHEN MATCHED THEN UPDATE SET tag = 'x'")
    assert load_manifest(table)["version"] == v0 + 1


def test_keyed_rewrites_keep_bloom_filters(spark, tmp_path):
    """Every keyed copy-on-write rewrite — the upsert and key-delete
    shorthands and the streaming merge sink — writes the rewritten
    files' bloom filters again; a delete key that is also upserted is
    upserted."""
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
        delete_from_manifest,
        merge_into_manifest,
    )
    from data_engineering_pipeline_project_cloud_spark.streaming.sinks import (
        manifest_merge_writer,
    )

    register(spark)
    path = str(tmp_path / "bl")
    (spark.range(0, 40).select(F.col("id").alias("k"),
                               (F.col("id") * 10.0).alias("val"),
                               F.lit("old").alias("tag"))
     .repartitionByRange(4, "k").write.format("graft_manifest")
     .mode("append").option("path", path).option("statCols", "k")
     .option("bloomCols", "k").save())

    def all_bloomed():
        live = [f for f in load_manifest(path)["files"]
                if not f.get("dead")]
        return all("k" in (f.get("bloom") or {}) for f in live)

    assert all_bloomed()
    schema = "k long, val double, tag string"
    merge_into_manifest(
        spark.createDataFrame([(3, 1.0, "up"), (100, 2.0, "ins")], schema),
        path, ["k"], ["k"],
        delete_keys=spark.createDataFrame([(3,), (5,)], "k long"))
    assert all_bloomed()
    delete_from_manifest(spark.createDataFrame([(12,), (12,)], "k long"),
                         path, ["k"], ["k"])
    assert all_bloomed()
    manifest_merge_writer(path, ["k"], ["k"], "bl")(
        spark.createDataFrame([(20, 3.0, "sink")], schema), 0)
    assert all_bloomed()
    got = {r["k"]: (r["val"], r["tag"])
           for r in read_manifest(spark, path).collect()}
    assert got[3] == (1.0, "up") and got[100] == (2.0, "ins")
    assert got[20] == (3.0, "sink")
    assert 5 not in got and 12 not in got and len(got) == 39

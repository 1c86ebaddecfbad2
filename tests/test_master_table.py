"""End-to-end golden tests for the flagship master-table build
(SURVEY.md §5.2): grain uniqueness after serving resolution, KPI
property checks, NULL propagation through the left joins.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_pipeline_project_cloud_spark.plans.parity import (
    master_table,
    write_master,
)
from data_engineering_pipeline_project_cloud_spark.sources import assert_unique_key


@pytest.fixture(scope="module")
def master(spark, sf_dir):
    df = master_table(spark, sf_dir)
    df.persist()
    yield df
    df.unpersist()


def test_gross_revenue_property(master):
    # item_gross_revenue == item_price + item_freight, every row (F6).
    # gross is summed exactly in decimal then cast to double at the output
    # boundary, while price/freight are cast individually — allow 1-ulp
    # float divergence, not value divergence.
    bad = master.filter(
        F.abs(F.col("item_gross_revenue")
              - (F.col("item_price") + F.col("item_freight"))) > 1e-6
    ).count()
    assert bad == 0


def test_late_flag_agrees_with_delay(master):
    # shipped_late_flag <=> shipping_delay_days > 90, NULL iff no ship ts (F4)
    bad = master.filter(
        (F.col("shipped_ts").isNotNull()
         & (F.col("shipped_late_flag") != (F.col("shipping_delay_days") > 90.0)))
        | (F.col("shipped_ts").isNull() & F.col("shipped_late_flag").isNotNull())
    ).count()
    assert bad == 0


def test_left_join_null_extension(master, spark, sf_dir):
    # inner fact spine: no row loss vs conformed items joined to orders
    from data_engineering_pipeline_project_cloud_spark.plans.parity import (
        conform_items,
        conform_orders,
    )
    items = conform_items(spark, sf_dir)
    orders = conform_orders(spark, sf_dir)
    expected = items.join(orders, "order_id", "inner").count()
    assert master.count() == expected
    # pay/rev aggregates exist for every order present in lineitem,
    # so after the inner spine the left joins must never null out
    assert master.filter(F.col("total_paid").isNull()).count() == 0


def test_write_master_grain_and_layout(spark, sf_dir, tmp_path):
    out = str(tmp_path / "master")
    write_master(spark, sf_dir, out)
    back = spark.read.parquet(out)
    assert_unique_key(back, ["order_id", "order_item_id"])
    assert "order_purchase_month" in back.columns
    assert back.count() > 0


def test_assert_unique_key_raises(spark):
    df = spark.createDataFrame([(1, "a"), (1, "b")], "k int, v string")
    with pytest.raises(ValueError, match="grain violation"):
        assert_unique_key(df, ["k"])


def test_master_table_plan_shape(spark, sf_dir):
    """The flagship build must stay all-broadcast: five dims and the
    two pre-aggregates hash-join against the fact spine without a
    single sort-merge join (the plan that survives a 100x fact-side
    scale-up; dims stay broadcastable by construction)."""
    from data_engineering_pipeline_project_cloud_spark.plans.parity import (
        master_table,
    )

    plan = master_table(spark, sf_dir)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 5


def test_order_grain_aggs_single_exchange(spark, sf_dir):
    """pay_agg / rev_agg must shuffle exactly once: the raw scan is
    hash-redistributed by order key (parallelizing the cast-heavy
    conform), and both levels of the aggregation then run on that
    partitioning with no further exchange.  A second Exchange would
    mean the groupBy stopped exploiting HashPartitioning(order_id) —
    the plan property that keeps these aggs one-shuffle at 100x the
    fact size."""
    import re

    from data_engineering_pipeline_project_cloud_spark.plans.parity import (
        pay_agg,
        rev_agg,
    )

    for fn in (pay_agg, rev_agg):
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan() \
            .toString()
        n = len(re.findall(r"\bExchange hash", plan))
        assert n == 1, f"{fn.__name__}: {n} exchanges\n{plan}"


def test_serve_registers_views_over_written_mart(spark, sf_dir, tmp_path):
    """Round-6 serving face: serve() registers SQL views over the
    write_master output, the rollup views answer through the catalog,
    and their numbers equal a direct DataFrame aggregate over the same
    parquet — the mart write → catalog → SQL read loop a BI tool
    (Thrift JDBC / Spark Connect client) would drive."""
    from data_engineering_pipeline_project_cloud_spark.plans.parity import serve

    out = str(tmp_path / "master")
    write_master(spark, sf_dir, out)
    views = serve(spark, out, prefix="tm")
    assert views == ["tm_master", "tm_monthly_category_kpis",
                     "tm_seller_kpis"]
    back = spark.read.parquet(out)
    # master view is the table itself
    assert spark.table("tm_master").count() == back.count()
    # rollup view vs direct aggregate over the same parquet
    via_view = {(r["order_purchase_month"], r["product_category"]):
                (r["net_revenue"], r["n_items"], r["n_late"])
                for r in spark.sql(
                    "SELECT * FROM tm_monthly_category_kpis").collect()}
    direct = {(r["order_purchase_month"], r["product_category"]):
              (r["net_revenue"], r["n_items"], r["n_late"])
              for r in back.groupBy("order_purchase_month",
                                    "product_category")
              .agg(F.sum(F.col("item_net_revenue").cast("decimal(18,4)"))
                   .cast("double").alias("net_revenue"),
                   F.count(F.lit(1)).alias("n_items"),
                   F.sum(F.when(F.col("shipped_late_flag"), 1)
                         .otherwise(0)).cast("long").alias("n_late"))
              .collect()}
    assert via_view == direct
    # a dashboard month filter prunes to that month's partition
    plan = (spark.sql("SELECT COUNT(*) FROM tm_master "
                      "WHERE order_purchase_month = '1995-03'")
            ._jdf.queryExecution().executedPlan().toString())
    assert "order_purchase_month" in plan


def _sorted_by(path: str, cols: list[str]) -> bool:
    """Rows of one parquet file in ascending ``cols`` order, NULLs
    first (Spark's ascending default)."""
    import pyarrow.parquet as pq

    rows = pq.read_table(path, columns=cols).to_pylist()
    keys = [tuple(x for c in cols for x in (r[c] is not None, r[c]))
            for r in rows]
    return keys == sorted(keys)


def test_write_master_one_sorted_file_per_month(spark, sf_dir, tmp_path):
    """The serving layout: every month directory holds exactly one
    parquet file, clustered by (product_category, seller_id) inside —
    a point lookup opens one file per month, and the row-group stats
    of the sort keys are selective."""
    import glob

    out = str(tmp_path / "master")
    write_master(spark, sf_dir, out)
    months = glob.glob(f"{out}/order_purchase_month=*")
    assert months
    for month in months:
        files = glob.glob(f"{month}/*.parquet")
        assert len(files) == 1, (month, files)
        assert _sorted_by(files[0], ["product_category", "seller_id"]), month


def test_write_overwrite_partitioned_keeps_sort(spark, tmp_path):
    """A partitioned write with ``sort_within_by`` keeps that order
    inside each file and writes one file per partition value, however
    many tasks feed it."""
    import glob
    import random

    from data_engineering_pipeline_project_cloud_spark.sources import (
        write_overwrite,
    )

    rng = random.Random(7)
    rows = [(i % 3, rng.randrange(50), rng.randrange(1000)) for i in range(600)]
    df = spark.createDataFrame(rows, "p int, s int, v int").repartition(4)
    out = str(tmp_path / "t")
    write_overwrite(df, out, partition_by=["p"], sort_within_by=["s", "v"])
    for p in range(3):
        files = glob.glob(f"{out}/p={p}/*.parquet")
        assert len(files) == 1, files
        assert _sorted_by(files[0], ["s", "v"]), p
    assert sorted(tuple(r) for r in spark.read.parquet(out)
                  .select("p", "s", "v").collect()) == sorted(rows)

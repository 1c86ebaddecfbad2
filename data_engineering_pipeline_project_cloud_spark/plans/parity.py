"""Reference-parity plans over the driver's TPC-H-ish star schema.

Role mapping (FIXTURES.md §B): ``lineitem`` plays order_items +
order_payments + order_reviews (item grain, money decimals, per-order
0..n rows), ``orders``/``customer``/``supplier`` play themselves,
``nation``/``region`` play the location dims, ``part`` plays products.

Each function is one SURVEY.md §2 operator (or the reference's composed
pipeline) re-expressed as a lazy DataFrame plan.  ORACLE_SQL carries the
DuckDB-equivalent ANSI SQL for the driver's differential check.

Determinism rules applied throughout (SURVEY.md §7 hard/risky list):
 - money arithmetic in DECIMAL (order-independent sums; double sums
   are not associative and would hash-mismatch across engines);
 - averages spelled SUM(decimal)::DOUBLE / COUNT so both engines
   divide the same exact numbers;
 - every argmax carries an explicit tie-break;
 - surrogate keys are row_number over a canonical sort.

Canonical output types (round-2 rule): driver-facing results carry only
BIGINT / DOUBLE / STRING / BOOLEAN / TIMESTAMP columns.  All money math
still runs in exact DECIMAL; the final projection casts to DOUBLE on
BOTH the Spark and oracle sides.  Rationale: harness serializations
disagree on decimal scale rendering ('37.00' vs '37.0' once a decimal
passes through a float frame), which round-1 showed as hash mismatches
on bit-identical values — a presentation hazard, not a semantics one.
The exact decimal→double cast is correctly rounded in both engines for
every magnitude these queries produce, so the doubles are bit-equal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import epoch_days_between, money, norm_lower, norm_upper, nullif_zero
from ..operators import add_surrogate_key, union_conform_dedup
from ..sources import load_table


# ---------------------------------------------------------------------------
# Conform layer (SURVEY §2 M1: casts F2, normalize F1, project P1/P2)
# ---------------------------------------------------------------------------

def conform_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conform CTE analog of ``c_orders``
    (``scripts/transform-complex-full.py:20-31``): strict casts +
    LOWER(TRIM(status)) normalization.  Pure projection — no shuffle;
    Catalyst pushes the column pruning into the parquet scan.  The
    money cast runs in DECIMAL (the strict-cast semantic) and is
    presented as DOUBLE (canonical output rule, module docstring)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("customer_id"),
        norm_lower("o_orderstatus").alias("order_status"),
        F.col("o_orderdate").cast("timestamp").alias("order_purchase_ts"),
        money("o_totalprice").cast("double").alias("order_total_price"),
        norm_upper("o_orderpriority").alias("order_priority"),
    )


def conform_items(spark: SparkSession, sf_dir: str,
                  distribute: bool = False) -> DataFrame:
    """``c_items`` analog (``scripts/transform-complex-full.py:57-66``):
    item grain with exact-decimal money casts.  This is the INTERNAL
    form (decimal money) consumed by the aggregate/master layers; the
    registry face is ``conform_items_q``.

    ``distribute``: hash-redistribute the RAW scan by order key before
    the cast-heavy projection.  The test parquet is one row group =
    one effective scan task, so without it the decimal/timestamp casts
    run on a single core; with it they run cluster-wide, and the
    resulting ``HashPartitioning(order_id)`` feeds every downstream
    order-grain aggregate and join with no further exchange (Catalyst
    keeps the projection above the repartition exchange — verified via
    explain).  A consumer using the frame in two branches (master
    build) gets two scans, but column pruning pushes through the
    exchange so each branch scans and shuffles only the columns it
    needs — cheaper at scale than one unpruned shared exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    if distribute:
        li = li.repartition(spark.sparkContext.defaultParallelism,
                            "l_orderkey")
    return li.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("order_item_id"),
        F.col("l_partkey").alias("product_id"),
        F.col("l_suppkey").alias("seller_id"),
        money("l_quantity").alias("item_quantity"),
        money("l_extendedprice").alias("item_price"),
        money("l_discount").alias("item_discount"),
        money("l_tax").alias("item_freight"),
        F.col("l_shipdate").cast("timestamp").alias("shipped_ts"),
        norm_lower("l_returnflag").alias("payment_type"),
        norm_lower("l_linestatus").alias("line_status"),
    )


_ITEM_MONEY_COLS = ("item_quantity", "item_price", "item_discount",
                    "item_freight")


def conform_items_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry face of ``conform_items``: same strict-cast semantics,
    money presented as DOUBLE (canonical output rule)."""
    df = conform_items(spark, sf_dir)
    return df.select(*[
        F.col(f.name).cast("double").alias(f.name)
        if f.name in _ITEM_MONEY_COLS else F.col(f.name)
        for f in df.schema.fields
    ])


# ---------------------------------------------------------------------------
# Pre-aggregate layer (SURVEY §2 M2: A1-A4)
# ---------------------------------------------------------------------------

def pay_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pay_agg`` analog (``scripts/transform-complex-full.py:67-82``):
    per-order SUM (A1), NULLIF/COALESCE sum (A2), and the argmax
    "dominant payment type" (A4) — the reference's correlated scalar
    subquery rewritten as one window pass over a per-(order,type)
    pre-aggregate.

    Plan shape at scale: ONE shuffle on (order, type) for the partial
    agg, then a lighter shuffle on order for the rollup + window —
    vs. the subquery form's per-row re-execution.  Tie-break: higher
    sum wins, then lexicographically smallest type (pinned; the
    reference leaves this nondeterministic).
    """
    li = conform_items(spark, sf_dir, distribute=True)
    per_type = li.groupBy("order_id", "payment_type").agg(
        F.sum("item_price").alias("type_sum"),
        F.count(F.lit(1)).alias("type_count"),
        F.coalesce(F.sum(nullif_zero(F.col("item_quantity").cast("int"))), F.lit(0))
        .cast("long").alias("type_installments"),
    )
    # Argmax as MAX(struct(sum, type)) — lexicographic struct ordering
    # gives "largest sum, then largest type" in the SAME aggregate as
    # the totals: one shuffle total, vs. window + self-join (which
    # would re-shuffle and re-scan).  Tie-break = max payment_type.
    return per_type.groupBy("order_id").agg(
        F.sum("type_sum").cast("double").alias("total_paid"),
        F.sum("type_count").cast("long").alias("n_payments"),
        F.sum("type_installments").cast("long").alias("total_installments"),
        F.max(F.struct("type_sum", "payment_type"))["payment_type"]
        .alias("top_payment_type"),
    )


def _pay_rev_agg(items: DataFrame) -> DataFrame:
    """Fused pay_agg + rev_agg used by the master build: both aggregate
    the SAME item-grain input to the SAME order grain, so computing
    them separately (as the reference's two CTEs do) costs an extra
    full scan + shuffle + join.  All measures are decomposable over the
    (order, type) partial, so one two-level aggregation yields both —
    at 100 TB this halves the pre-aggregate IO and removes one join
    from the fact spine.  Standalone ``pay_agg``/``rev_agg`` remain as
    independently oracle-checked registry queries."""
    per_type = items.groupBy("order_id", "payment_type").agg(
        F.sum("item_price").alias("type_sum"),
        F.count(F.lit(1)).alias("type_count"),
        F.coalesce(F.sum(nullif_zero(F.col("item_quantity").cast("int"))), F.lit(0))
        .cast("long").alias("type_installments"),
        F.sum("item_quantity").alias("qty_sum"),
        F.count("item_quantity").alias("qty_cnt"),
        F.min("shipped_ts").alias("min_ship"),
        F.max("shipped_ts").alias("max_ship"),
    )
    return per_type.groupBy("order_id").agg(
        F.sum("type_sum").cast("double").alias("total_paid"),
        F.sum("type_count").cast("long").alias("n_payments"),
        F.sum("type_installments").cast("long").alias("total_installments"),
        F.max(F.struct("type_sum", "payment_type"))["payment_type"]
        .alias("top_payment_type"),
        (F.sum("qty_sum").cast("double") / F.sum("qty_cnt"))
        .alias("avg_review_score"),
        F.min("min_ship").alias("first_review_ts"),
        F.max("max_ship").alias("last_review_ts"),
        F.sum("type_count").cast("long").alias("n_reviews"),
    )


def rev_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``rev_agg`` analog (``scripts/transform-complex-full.py:83-91``):
    per-order AVG/MIN/MAX (A3).  AVG is spelled SUM::DOUBLE/COUNT so
    the division operands are exact decimals in both engines."""
    li = conform_items(spark, sf_dir, distribute=True)
    return li.groupBy("order_id").agg(
        (F.sum("item_quantity").cast("double") / F.count("item_quantity"))
        .alias("avg_review_score"),
        F.min("shipped_ts").alias("first_review_ts"),
        F.max("shipped_ts").alias("last_review_ts"),
        F.count(F.lit(1)).cast("long").alias("n_reviews"),
    )


# ---------------------------------------------------------------------------
# Dimension build (SURVEY §7 M0 minimum slice = create_dimensions.py)
# ---------------------------------------------------------------------------

def dim_locations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``dim_locations`` build (``scripts/create_dimensions.py:18-67``):
    project 3 heterogeneous sources (S2/P1), rename to a common schema
    (P2), union-all (U1), dedup (A5), dropna (P3), enrich via the
    25-row nation dim — the broadcast analog of the 27-entry
    state_mapping dict (J6, ``scripts/create_dimensions.py:54-63``) —
    and assign a deterministic surrogate key (S4).

    Scale: nation/region are bounded dims → broadcast hash join, no
    shuffle on the big side; distinct is a partial-agg shuffle carrying
    only unique rows.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nation_key"))
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nation_key"))
    nat_src = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nation_key"))
    uniq = union_conform_dedup([cust, supp, nat_src])

    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    name_map = F.broadcast(
        nation.join(F.broadcast(region),
                    nation["n_regionkey"] == region["r_regionkey"], "left")
        .select(F.col("n_nationkey").alias("nation_key"),
                norm_upper("n_name").alias("nation_name"),
                norm_upper("r_name").alias("region_name"))
    )
    enriched = uniq.join(name_map, "nation_key", "left")
    return add_surrogate_key(enriched, "location_id", ["nation_key"]).select(
        "location_id", "nation_key", "nation_name", "region_name")


# ---------------------------------------------------------------------------
# Flagship: the master_table build (SURVEY §7 M3: J1-J5, F1-F7, S5/S6)
# ---------------------------------------------------------------------------

def master_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship wide-fact build
    (``scripts/transform-complex-full.py:127-209``): item-grain fact
    spine (inner join J3), aggregate-below-join payments/reviews (J4 —
    grouped to order grain BEFORE joining, preserving 1-row-per-order
    cardinality), small-dim broadcasts (J1/J6), customer/supplier
    location resolution (J2), and the derived-KPI column block
    (F4-F7: CASE flags, epoch-day arithmetic, decimal revenue).

    Plan shape at 100 TB:
      - fact spine: lineitem ⋈ orders shuffles on order key once; both
        pre-aggregates reuse that key, so AQE can pipeline them.
      - part/customer/supplier/nation/region are bounded dims at this
        ratio → broadcast; marked explicitly so the plan does not
        degrade to sort-merge when stats are stale.
      - output partitioned by month in ``write_master`` — the layout
        analog of the reference's 7 serving indexes
        (``scripts/transform-complex-full.py:215-221``).
    """
    items = conform_items(spark, sf_dir, distribute=True)
    orders = conform_orders(spark, sf_dir)
    payrev = _pay_rev_agg(items)

    part = F.broadcast(load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("product_id"),
        norm_lower("p_type").alias("product_category"),
        F.col("p_brand").alias("product_brand"),
    ))
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    nat = F.broadcast(
        nation.join(F.broadcast(region),
                    nation["n_regionkey"] == region["r_regionkey"], "left")
        .select(F.col("n_nationkey").alias("nation_key"),
                F.col("n_name").alias("nation_name"),
                F.col("r_name").alias("region_name")))
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("customer_id"),
                F.col("c_nationkey").alias("nation_key"),
                norm_upper("c_mktsegment").alias("customer_segment"))
        .join(nat, "nation_key", "left")
        .select("customer_id", "customer_segment",
                F.col("nation_name").alias("customer_nation"),
                F.col("region_name").alias("customer_region")))
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .select(F.col("s_suppkey").alias("seller_id"),
                F.col("s_nationkey").alias("nation_key"))
        .join(nat, "nation_key", "left")
        .select("seller_id", F.col("nation_name").alias("seller_nation")))

    fact = (
        items.join(orders, "order_id", "inner")          # J3 fact spine
        .join(payrev, "order_id", "left")                # J4 agg-below-join
        .join(part, "product_id", "left")                # J1 broadcast dim
        .join(cust, "customer_id", "left")               # J2 location path
        .join(supp, "seller_id", "left")                 # J2
    )

    gross = (F.col("item_price") + F.col("item_freight")).cast("decimal(18,4)")
    delay = epoch_days_between("shipped_ts", "order_purchase_ts")
    return fact.select(
        "order_id", "order_item_id", "product_id", "seller_id", "customer_id",
        "order_status", "order_purchase_ts", "order_priority",
        F.col("item_quantity").cast("double").alias("item_quantity"),
        F.col("item_price").cast("double").alias("item_price"),
        F.col("item_discount").cast("double").alias("item_discount"),
        F.col("item_freight").cast("double").alias("item_freight"),
        gross.cast("double").alias("item_gross_revenue"),        # F6 (:157)
        (F.col("item_price") * (F.lit(1) - F.col("item_discount")))
        .cast("decimal(18,4)").cast("double").alias("item_net_revenue"),
        "payment_type", "line_status",
        "total_paid", "n_payments", "total_installments", "top_payment_type",
        "avg_review_score", "first_review_ts", "last_review_ts", "n_reviews",
        "product_category", "product_brand",
        "customer_segment", "customer_nation", "customer_region",
        "seller_nation",
        "shipped_ts",
        delay.alias("shipping_delay_days"),                      # F5 (:169-182)
        F.when(F.col("shipped_ts").isNull(), F.lit(None).cast("boolean"))
        .when(delay > F.lit(90.0), F.lit(True))
        .otherwise(F.lit(False)).alias("shipped_late_flag"),     # F4 (:186-195)
    )


def write_master(spark: SparkSession, sf_dir: str, out_path: str) -> None:
    """Materialize the master table (S5 CTAS analog) with the
    serving-layout choices that replace the reference's indexes.

    The reference's Postgres PK would *reject* a build whose grain is
    wrong (``transform-complex-full.py:212-213``).  The driver's
    synthetic lineitem does not guarantee (orderkey, linenumber)
    uniqueness, so the serving write first resolves the grain
    deterministically (keep-one per key with a pinned ordering), then
    enforces it with ``assert_unique_key`` — the Spark analog of the
    constraint.

    Layout (the stand-in for the reference's seven serving indexes,
    ``transform-complex-full.py:215-221``): one directory per
    ``order_purchase_month`` holding ONE parquet file (more only when
    AQE splits a skewed month), its rows sorted by
    (``product_category``, ``seller_id``).  A month filter reads one
    file; an ``order_id`` lookup opens one small file per month."""
    from ..operators import top1_per_group
    from ..sources import assert_unique_key, write_overwrite

    df = master_table(spark, sf_dir).withColumn(
        "order_purchase_month", F.date_format("order_purchase_ts", "yyyy-MM"))
    df = top1_per_group(
        df, ["order_id", "order_item_id"],
        [F.col("product_id").asc(), F.col("seller_id").asc(),
         F.col("item_price").asc()])
    assert_unique_key(df, ["order_id", "order_item_id"])  # S6 PK analog
    write_overwrite(df, out_path, partition_by=["order_purchase_month"],
                    sort_within_by=["product_category", "seller_id"])


def serve(spark: SparkSession, out_dir: str,
          prefix: str = "mart") -> list[str]:
    """BI SERVING face over the materialized mart — the analog of the
    reference pointing Superset at the warehouse
    (``docker-compose.yml:21-47``): register the written master table
    and its core rollups as SQL views, so any SQL client attached to
    this session — ``spark-sql``, a dashboard over the Thrift JDBC
    server (``sbin/start-thriftserver.sh`` on this same app exposes
    the session catalog over HiveServer2 wire protocol), or a Spark
    Connect client — has named tables to query.  Month-partition
    pruning and column pruning flow through the views to the parquet
    scan, so a dashboard filter on ``order_purchase_month`` reads one
    partition — one file, in ``write_master``'s layout — not the mart,
    and a point lookup opens one small file per month.

    Views registered (returned as a list):

    * ``{prefix}_master`` — the month-partitioned master parquet,
      one file per month sorted by (category, seller).
    * ``{prefix}_monthly_category_kpis`` — month × category: exact
      DECIMAL-aggregated net revenue, item count, late-shipment count.
    * ``{prefix}_seller_kpis`` — per seller nation: revenue, items,
      distinct sellers.
    """
    spark.read.parquet(out_dir).createOrReplaceTempView(f"{prefix}_master")
    spark.sql(f"""
        CREATE OR REPLACE TEMPORARY VIEW {prefix}_monthly_category_kpis AS
        SELECT order_purchase_month, product_category,
               CAST(SUM(CAST(item_net_revenue AS DECIMAL(18,4))) AS DOUBLE)
                   AS net_revenue,
               COUNT(*) AS n_items,
               CAST(SUM(CASE WHEN shipped_late_flag THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_late
        FROM {prefix}_master
        GROUP BY order_purchase_month, product_category
    """)
    spark.sql(f"""
        CREATE OR REPLACE TEMPORARY VIEW {prefix}_seller_kpis AS
        SELECT seller_nation,
               CAST(SUM(CAST(item_gross_revenue AS DECIMAL(18,4))) AS DOUBLE)
                   AS gross_revenue,
               COUNT(*) AS n_items,
               COUNT(DISTINCT seller_id) AS n_sellers
        FROM {prefix}_master
        GROUP BY seller_nation
    """)
    return [f"{prefix}_master", f"{prefix}_monthly_category_kpis",
            f"{prefix}_seller_kpis"]


def serving_views_master(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry face for the serving path: materialize the mart once
    per sf_dir (``write_master`` → partitioned parquet), register the
    serving views, and answer the dashboard's headline question
    THROUGH the view — proving mart write → catalog → SQL read
    end-to-end.  The oracle recomputes the same rollup from the raw
    tables (master SQL + the serving grain dedup), so the driver hash
    certifies the whole serving loop, not just the query."""
    import os

    from .scratch import scoped_scratch

    def build(path: str) -> None:
        write_master(spark, sf_dir, os.path.join(path, "master"))

    root = scoped_scratch("mart_serving", sf_dir, build)
    serve(spark, os.path.join(root, "master"))
    return spark.sql(
        "SELECT order_purchase_month, product_category, net_revenue, "
        "n_items, n_late FROM mart_monthly_category_kpis")


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB dialect = ANSI; same aliases, same decimal pins,
# same final-projection DOUBLE casts as the Spark plans)
# ---------------------------------------------------------------------------

_CONFORM_ITEMS_SQL = """
    SELECT l_orderkey AS order_id,
           l_linenumber AS order_item_id,
           l_partkey AS product_id,
           l_suppkey AS seller_id,
           CAST(l_quantity AS DECIMAL(12,2)) AS item_quantity,
           CAST(l_extendedprice AS DECIMAL(12,2)) AS item_price,
           CAST(l_discount AS DECIMAL(12,2)) AS item_discount,
           CAST(l_tax AS DECIMAL(12,2)) AS item_freight,
           CAST(l_shipdate AS TIMESTAMP) AS shipped_ts,
           LOWER(TRIM(l_returnflag)) AS payment_type,
           LOWER(TRIM(l_linestatus)) AS line_status
    FROM lineitem
"""

_PAY_AGG_SQL = f"""
    WITH c_items AS ({_CONFORM_ITEMS_SQL}),
    per_type AS (
        SELECT order_id, payment_type,
               SUM(item_price) AS type_sum,
               COUNT(*) AS type_count,
               CAST(COALESCE(SUM(NULLIF(CAST(item_quantity AS INT), 0)), 0) AS BIGINT)
                   AS type_installments
        FROM c_items GROUP BY order_id, payment_type
    ),
    totals AS (
        SELECT order_id,
               CAST(SUM(type_sum) AS DOUBLE) AS total_paid,
               CAST(SUM(type_count) AS BIGINT) AS n_payments,
               CAST(SUM(type_installments) AS BIGINT) AS total_installments
        FROM per_type GROUP BY order_id
    ),
    ranked AS (
        SELECT order_id, payment_type,
               ROW_NUMBER() OVER (PARTITION BY order_id
                                  ORDER BY type_sum DESC, payment_type DESC) AS rn
        FROM per_type
    )
    SELECT t.order_id, t.total_paid, t.n_payments, t.total_installments,
           r.payment_type AS top_payment_type
    FROM totals t JOIN ranked r ON t.order_id = r.order_id AND r.rn = 1
"""

_REV_AGG_SQL = f"""
    WITH c_items AS ({_CONFORM_ITEMS_SQL})
    SELECT order_id,
           CAST(SUM(item_quantity) AS DOUBLE) / COUNT(item_quantity) AS avg_review_score,
           MIN(shipped_ts) AS first_review_ts,
           MAX(shipped_ts) AS last_review_ts,
           CAST(COUNT(*) AS BIGINT) AS n_reviews
    FROM c_items GROUP BY order_id
"""

#: The flagship master-table oracle, shared by the master face and
#: the serving rollup (which wraps it with the serving-grain dedup).
_MASTER_SQL = f"""
        WITH c_items AS ({_CONFORM_ITEMS_SQL}),
        c_orders AS (
            SELECT o_orderkey AS order_id,
                   o_custkey AS customer_id,
                   LOWER(TRIM(o_orderstatus)) AS order_status,
                   CAST(o_orderdate AS TIMESTAMP) AS order_purchase_ts,
                   UPPER(TRIM(o_orderpriority)) AS order_priority
            FROM orders
        ),
        pay_agg AS ({_PAY_AGG_SQL}),
        rev_agg AS ({_REV_AGG_SQL}),
        nat AS (
            SELECT n_nationkey AS nation_key, n_name AS nation_name,
                   r_name AS region_name
            FROM nation LEFT JOIN region ON n_regionkey = r_regionkey
        ),
        cust AS (
            SELECT c_custkey AS customer_id,
                   UPPER(TRIM(c_mktsegment)) AS customer_segment,
                   nation_name AS customer_nation,
                   region_name AS customer_region
            FROM customer LEFT JOIN nat ON c_nationkey = nation_key
        ),
        supp AS (
            SELECT s_suppkey AS seller_id, nation_name AS seller_nation
            FROM supplier LEFT JOIN nat ON s_nationkey = nation_key
        ),
        prod AS (
            SELECT p_partkey AS product_id,
                   LOWER(TRIM(p_type)) AS product_category,
                   p_brand AS product_brand
            FROM part
        )
        SELECT i.order_id, i.order_item_id, i.product_id, i.seller_id,
               o.customer_id,
               o.order_status, o.order_purchase_ts, o.order_priority,
               CAST(i.item_quantity AS DOUBLE) AS item_quantity,
               CAST(i.item_price AS DOUBLE) AS item_price,
               CAST(i.item_discount AS DOUBLE) AS item_discount,
               CAST(i.item_freight AS DOUBLE) AS item_freight,
               CAST(CAST(i.item_price + i.item_freight AS DECIMAL(18,4)) AS DOUBLE)
                   AS item_gross_revenue,
               CAST(CAST(i.item_price * (1 - i.item_discount) AS DECIMAL(18,4)) AS DOUBLE)
                   AS item_net_revenue,
               i.payment_type, i.line_status,
               p.total_paid, p.n_payments, p.total_installments, p.top_payment_type,
               r.avg_review_score, r.first_review_ts, r.last_review_ts, r.n_reviews,
               pr.product_category, pr.product_brand,
               c.customer_segment, c.customer_nation, c.customer_region,
               s.seller_nation,
               i.shipped_ts,
               (EPOCH(i.shipped_ts) - EPOCH(o.order_purchase_ts)) / 86400.0
                   AS shipping_delay_days,
               CASE WHEN i.shipped_ts IS NULL THEN NULL
                    WHEN (EPOCH(i.shipped_ts) - EPOCH(o.order_purchase_ts)) / 86400.0 > 90.0
                        THEN TRUE
                    ELSE FALSE END AS shipped_late_flag
        FROM c_items i
        JOIN c_orders o ON i.order_id = o.order_id
        LEFT JOIN pay_agg p ON i.order_id = p.order_id
        LEFT JOIN rev_agg r ON i.order_id = r.order_id
        LEFT JOIN prod pr ON i.product_id = pr.product_id
        LEFT JOIN cust c ON o.customer_id = c.customer_id
        LEFT JOIN supp s ON i.seller_id = s.seller_id
    """

ORACLE_SQL: dict[str, str] = {
    "conform_orders": """
        SELECT o_orderkey AS order_id,
               o_custkey AS customer_id,
               LOWER(TRIM(o_orderstatus)) AS order_status,
               CAST(o_orderdate AS TIMESTAMP) AS order_purchase_ts,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
                   AS order_total_price,
               UPPER(TRIM(o_orderpriority)) AS order_priority
        FROM orders
    """,
    "conform_items": f"""
        WITH c_items AS ({_CONFORM_ITEMS_SQL})
        SELECT order_id, order_item_id, product_id, seller_id,
               CAST(item_quantity AS DOUBLE) AS item_quantity,
               CAST(item_price AS DOUBLE) AS item_price,
               CAST(item_discount AS DOUBLE) AS item_discount,
               CAST(item_freight AS DOUBLE) AS item_freight,
               shipped_ts, payment_type, line_status
        FROM c_items
    """,
    "pay_agg": _PAY_AGG_SQL,
    "rev_agg": _REV_AGG_SQL,
    "dim_locations": """
        WITH src AS (
            SELECT DISTINCT nation_key FROM (
                SELECT c_nationkey AS nation_key FROM customer
                UNION ALL SELECT s_nationkey FROM supplier
                UNION ALL SELECT n_nationkey FROM nation
            ) u WHERE nation_key IS NOT NULL
        )
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY nation_key) - 1 AS BIGINT) AS location_id,
               nation_key,
               UPPER(TRIM(n_name)) AS nation_name,
               UPPER(TRIM(r_name)) AS region_name
        FROM src
        LEFT JOIN nation ON nation_key = n_nationkey
        LEFT JOIN region ON n_regionkey = r_regionkey
    """,
    "master_table": _MASTER_SQL,
    "serving_views_master": f"""
        WITH master AS ({_MASTER_SQL}),
        dedup AS (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY order_id, order_item_id
                       ORDER BY product_id, seller_id, item_price) AS rn
            FROM master
        ),
        served AS (
            SELECT *, strftime(order_purchase_ts, '%Y-%m')
                       AS order_purchase_month
            FROM dedup WHERE rn = 1
        )
        SELECT order_purchase_month, product_category,
               CAST(SUM(CAST(item_net_revenue AS DECIMAL(18,4))) AS DOUBLE)
                   AS net_revenue,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CASE WHEN shipped_late_flag THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_late
        FROM served
        GROUP BY order_purchase_month, product_category
    """,
}

QUERIES = {
    "conform_orders": conform_orders,
    "conform_items": conform_items_q,
    "pay_agg": pay_agg,
    "rev_agg": rev_agg,
    "dim_locations": dim_locations,
    "master_table": master_table,
    "serving_views_master": serving_views_master,
}

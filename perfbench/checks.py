"""Output checks, run in the helper process (``Context.offload``).

The engine's own DuckDB oracle SQL (``plans.parity.ORACLE_SQL``) runs
over the staged input; the engine's written outputs are read back with
DuckDB.  Both sides are reduced to an order-insensitive digest
``(row count, sum of row hashes)`` over canonicalised columns (doubles
rounded to 6 decimals, timestamps as naive TIMESTAMP), so a digest
match means the two multisets of rows agree.  Dashboard queries run in
DuckDB over the written mart; kNN answers are recomputed by numpy
brute force.
"""

from __future__ import annotations

import glob
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import dashboard

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem")


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


def register_inputs(con, in_dir: str) -> None:
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{in_dir}/{t}.parquet')")


def read_mart_sql(path: str) -> str:
    return (f"read_parquet('{path}/*/*.parquet', hive_partitioning = true, "
            "hive_types = {'order_purchase_month': VARCHAR})")


_INTS = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT")


def _canonical(con, relation: str, names: list[str]) -> str:
    """Type-normalised column expressions, in ``names`` order."""
    types = dict(con.execute(
        f"SELECT column_name, column_type FROM (DESCRIBE SELECT * FROM {relation})"
    ).fetchall())
    exprs = []
    for name in names:
        typ = types[name]
        if typ in ("DOUBLE", "FLOAT") or typ.startswith("DECIMAL"):
            exprs.append(f"round(CAST({name} AS DOUBLE), 6)")
        elif typ.startswith("TIMESTAMP"):
            exprs.append(f"CAST({name} AS TIMESTAMP)")
        elif typ in _INTS:
            exprs.append(f"CAST({name} AS BIGINT)")
        else:
            exprs.append(name)
    return ", ".join(exprs)


def digest(con, relation: str, names: list[str]) -> tuple[int, int]:
    """``(rows, sum of row hashes)`` of ``relation`` over ``names``."""
    cols = _canonical(con, relation, names)
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({cols})), 0) FROM {relation}"
    ).fetchone()
    return int(n), int(h)


def columns(con, relation: str) -> list[str]:
    return [r[0] for r in con.execute(
        f"SELECT column_name FROM (DESCRIBE SELECT * FROM {relation})").fetchall()]


def _served_master_sql() -> str:
    from data_engineering_pipeline_project_cloud_spark.plans.parity import ORACLE_SQL

    return f"""(
        WITH master AS ({ORACLE_SQL['master_table']}),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY order_id, order_item_id
                       ORDER BY product_id, seller_id, item_price) AS rn
            FROM master)
        SELECT * EXCLUDE (rn),
               strftime(order_purchase_ts, '%Y-%m') AS order_purchase_month
        FROM ranked WHERE rn = 1)"""


def master_oracle_digest(in_dir: str) -> tuple[list[str], tuple[int, int]]:
    """Column names and digest of the served master table, computed by
    the engine's oracle SQL on the staged input."""
    con = connect()
    try:
        register_inputs(con, in_dir)
        oracle = _served_master_sql()
        names = columns(con, oracle)
        return names, digest(con, oracle, names)
    finally:
        con.close()


def master_digest(path: str, names: list[str],
                  corrupt: bool = False) -> tuple[int, int]:
    """Digest of the written master table over the oracle's columns.
    ``corrupt`` (self-test) deletes one written data file first."""
    if corrupt:
        os.remove(sorted(glob.glob(f"{path}/*/*.parquet"))[0])
    con = connect()
    try:
        return digest(con, read_mart_sql(path), names)
    finally:
        con.close()


_KPIS = """CREATE OR REPLACE VIEW mart_monthly_category_kpis AS
    SELECT order_purchase_month, product_category,
           CAST(SUM(CAST(item_net_revenue AS DECIMAL(18,4))) AS DOUBLE) AS net_revenue,
           COUNT(*) AS n_items,
           CAST(SUM(CASE WHEN shipped_late_flag THEN 1 ELSE 0 END) AS BIGINT) AS n_late
    FROM mart_master GROUP BY order_purchase_month, product_category"""
_SELLERS = """CREATE OR REPLACE VIEW mart_seller_kpis AS
    SELECT seller_nation,
           CAST(SUM(CAST(item_gross_revenue AS DECIMAL(18,4))) AS DOUBLE) AS gross_revenue,
           COUNT(*) AS n_items, COUNT(DISTINCT seller_id) AS n_sellers
    FROM mart_master GROUP BY seller_nation"""


def dashboard_results(mart: str, queries: list[str]) -> dict[str, list]:
    """DuckDB's answer to each distinct dashboard query over the
    written mart, normalised with ``dashboard.norm``."""
    con = connect()
    try:
        con.execute(f"CREATE VIEW mart_master AS SELECT * FROM {read_mart_sql(mart)}")
        con.execute(_KPIS)
        con.execute(_SELLERS)
        return {q: dashboard.norm(con.execute(q).fetchall())
                for q in dict.fromkeys(queries)}
    finally:
        con.close()


def parquet_bytes(columns: dict[str, list]) -> int:
    """Size of a plain single-file parquet rewrite of ``columns``."""
    sink = pa.BufferOutputStream()
    pq.write_table(pa.table(columns), sink)
    return sink.getvalue().size


def knn_truth(emb_file: str, query_ids: list[int]) -> dict:
    """Exact cosines per query id (itself excluded), by numpy brute
    force: ``{qid: [(id, cosine), ...]}`` over every vector, best
    first, ties by id."""
    t = pq.read_table(emb_file, columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_numpy()
    vec = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)
                   ).astype(np.float64)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    row = {int(v): i for i, v in enumerate(ids)}
    out = {}
    for q in dict.fromkeys(query_ids):
        sims = vec @ vec[row[q]]
        order = sorted((i for i in range(len(ids)) if ids[i] != q),
                       key=lambda i: (-round(float(sims[i]), 6), int(ids[i])))
        out[q] = [(int(ids[i]), float(sims[i])) for i in order]
    return out

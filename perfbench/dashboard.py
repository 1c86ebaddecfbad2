"""The dashboard (Superset) client of the served mart.

A seeded stream of short queries over the views ``plans.parity.serve``
registers, sent through ``spark.sql`` — what ``serve --stdin`` does.
The stream mixes KPI-view rollups over a month range, month-partition
filters (Zipf over months, recent months favoured), point lookups by
``order_id``, top-N queries, and repeats of earlier dashboard queries.
``checks.dashboard_results`` runs the same SQL in DuckDB over the
written mart parquet, with the views re-declared.
"""

from __future__ import annotations

import numpy as np

MONTHS = [f"{y}-{m:02d}" for y in range(1995, 2002) for m in range(1, 13)
          if f"{y}-{m:02d}" <= "2001-08"]

def _rollup(a: str, b: str) -> str:
    return ("SELECT product_category, SUM(net_revenue) AS net_revenue, "
            "SUM(n_items) AS n_items, SUM(n_late) AS n_late "
            "FROM mart_monthly_category_kpis "
            f"WHERE order_purchase_month BETWEEN '{a}' AND '{b}' "
            "GROUP BY product_category")


def _month(m: str) -> str:
    return ("SELECT customer_segment, COUNT(*) AS n_items, "
            "CAST(SUM(CAST(item_net_revenue AS DECIMAL(18,4))) AS DOUBLE) AS revenue, "
            "AVG(shipping_delay_days) AS avg_delay "
            f"FROM mart_master WHERE order_purchase_month = '{m}' "
            "GROUP BY customer_segment")


def _lookup(k: int) -> str:
    return ("SELECT order_id, order_item_id, product_id, item_price, "
            "item_net_revenue, product_category, customer_nation "
            f"FROM mart_master WHERE order_id = {k}")


def _top_orders(m: str) -> str:
    return ("SELECT order_id, "
            "CAST(SUM(CAST(item_gross_revenue AS DECIMAL(18,4))) AS DOUBLE) AS gross "
            f"FROM mart_master WHERE order_purchase_month = '{m}' "
            "GROUP BY order_id ORDER BY gross DESC, order_id LIMIT 10")


_TOP_SELLERS = ("SELECT seller_nation, gross_revenue, n_items, n_sellers "
                "FROM mart_seller_kpis ORDER BY gross_revenue DESC, "
                "seller_nation LIMIT 5")


#: one dashboard refresh: the template of each slot, in order — a
#: fixed mix, so the mean latency of two seeds describes the same
#: workload (R rollup, M month filter, L point lookup, T top-N,
#: P repeat of an earlier query)
CYCLE = "RMLTLMRPMLTLMRPLMTPL"
ROLLUP_MONTHS, REPEAT_BACK = 6, 5


def query_stream(seed: int, n_orders: int, n: int = 4000) -> list[str]:
    """The seeded dashboard stream: ``CYCLE`` repeated, parameters
    drawn from the seed — months Zipf-distributed with recent months
    favoured, rollups over the six months ending at such a month,
    lookup keys uniform over orders, a repeat re-sends the query
    ``REPEAT_BACK`` positions earlier.  Fixed range widths and repeat
    distances keep the cost of the mix alike from seed to seed."""
    rng = np.random.default_rng(seed + 7919)
    w = 1.0 / np.arange(1, len(MONTHS) + 1) ** 1.1
    zipf = w / w.sum()
    recent = MONTHS[::-1]

    def month() -> str:
        return recent[rng.choice(len(recent), p=zipf)]

    out: list[str] = []
    for i in range(n):
        slot = CYCLE[i % len(CYCLE)]
        if slot == "R":
            end = MONTHS.index(month())
            out.append(_rollup(MONTHS[max(0, end - ROLLUP_MONTHS + 1)],
                               MONTHS[end]))
        elif slot == "M":
            out.append(_month(month()))
        elif slot == "L":
            out.append(_lookup(int(rng.integers(0, n_orders))))
        elif slot == "T":
            out.append(_top_orders(month()) if i % 3 else _TOP_SELLERS)
        else:
            out.append(out[max(0, i - REPEAT_BACK)])
    return out


def warmup_queries(seed: int, n_orders: int) -> list[str]:
    """One query of every template, for the set-up warm-up."""
    q = query_stream(seed, n_orders, len(CYCLE))
    return ([q[CYCLE.index(slot)] for slot in "RML"]
            + [_TOP_SELLERS, _top_orders(MONTHS[-1])])


def norm(rows) -> list[tuple]:
    out = []
    for row in rows:
        out.append(tuple(round(v, 4) if isinstance(v, float) else
                         (int(v) if isinstance(v, (int, np.integer)) else v)
                         for v in row))
    return sorted(out, key=repr)


def same(a: list[tuple], b: list[tuple]) -> bool:
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for va, vb in zip(ra, rb):
            if isinstance(va, float) or isinstance(vb, float):
                if abs(va - vb) > 1e-6 * max(1.0, abs(va), abs(vb)):
                    return False
            elif va != vb:
                return False
    return True

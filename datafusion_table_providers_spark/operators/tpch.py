"""TPC-H-shaped benchmark queries (adapted to the driver's star schema).

The reference federates whole TPC-H-style plans to remote engines; these are
the canonical shapes a reference user would run, expressed Spark-first:
dimension joins (sized and broadcast by Catalyst, no hints), semi-joins
for EXISTS, conditional aggregates, multi-way join chains. Columns are
adapted where the synthetic schema lacks TPC-H columns (no
l_receiptdate/l_shipmode/p_container — see each query).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_table_providers_spark.core.case import QueryCase
from datafusion_table_providers_spark.operators.relational import _r, _rsql, _t


# Q4: order-priority checking. Original EXISTS(l_commitdate < l_receiptdate);
# adapted: lineitem shipped more than 400 days after the order date.
def t04_order_priority(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    late = l.join(o, l.l_orderkey == o.o_orderkey).filter(
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 400 DAYS")
    ).select("l_orderkey").distinct()
    return (
        o.join(late, o.o_orderkey == late.l_orderkey, "left_semi")
        .filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


T04_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 400 DAY
  )
GROUP BY o_orderpriority
"""


# Q5: local-supplier volume — 6-way join through both customer and supplier
# nation sides, restricted to one region.
def t05_local_supplier(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1998-01-01")
        )
        .groupBy("n_name")
        .agg(
            _r(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


T05_SQL = f"""
SELECT n_name, {_rsql('SUM(l_extendedprice * (1 - l_discount))', 2)} AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


# Q6: forecasting revenue change — pure scan-filter-aggregate.
def t06_forecast_revenue(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 25)
        )
        .agg(
            _r(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_rows"),
        )
    )


T06_SQL = f"""
SELECT {_rsql('SUM(l_extendedprice * l_discount)', 2)} AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 25
"""


# Q12: shipping-mode priority classes. No l_shipmode column — classify by
# linestatus instead; the conditional-aggregate shape is what matters.
def t12_priority_classes(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


T12_SQL = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_linestatus
"""


# Q14: promotion effect. No PROMO p_type — use 'red' parts as the promo class.
def t14_promo_effect(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = l.join(p, l.l_partkey == p.p_partkey).filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-07-01")
    )
    return joined.agg(
        _r(
            F.sum(F.when(F.col("p_name").like("%red%"), rev).otherwise(0.0))
            * 100.0
            / F.sum(rev),
            6,
        ).alias("promo_revenue_pct")
    )


T14_SQL = f"""
SELECT {_rsql('''SUM(CASE WHEN p_name LIKE '%red%'
                 THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
           * 100.0 / SUM(l_extendedprice * (1 - l_discount))''', 6)}
       AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1996-07-01'
"""


SUITE = {
    "t04_order_priority": QueryCase(t04_order_priority, T04_SQL, "TPC-H Q4 shape"),
    "t05_local_supplier": QueryCase(t05_local_supplier, T05_SQL, "TPC-H Q5 shape"),
    "t06_forecast_revenue": QueryCase(t06_forecast_revenue, T06_SQL, "TPC-H Q6 shape"),
    "t12_priority_classes": QueryCase(t12_priority_classes, T12_SQL, "TPC-H Q12 shape"),
    "t14_promo_effect": QueryCase(t14_promo_effect, T14_SQL, "TPC-H Q14 shape"),
}

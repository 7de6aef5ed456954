"""Extended TPC-H-shaped queries (Q7-Q22 subset, adapted to the driver schema).

Together with ``operators.tpch`` this covers the full breadth of plan shapes
the reference federates to remote engines (`crates/common/src/sql/
sql_provider_datafusion/federation.rs:62-110` pushes whole join/agg/window
subtrees): nation-pair self-joins (Q7), market-share ratio aggregates (Q8),
profit rollups (Q9), Top-K group-bys (Q10), outer-join distributions (Q13),
argmax-via-scalar-subquery (Q15), correlated scalar subqueries (Q17), HAVING
IN-subqueries (Q18), disjunctive multi-predicate scans (Q19), and anti-join +
scalar-subquery combos (Q22).

Schema adaptations (driver testdata lacks partsupp, l_commitdate, c_phone,
p_container): supply cost is synthesized as ``0.1 * p_retailprice``; country
codes come from ``c_nationkey % 5``; Q17's container filter uses ``p_size``.

Scale notes: no join carries a broadcast hint. Catalyst sizes the parquet
dims (nation/region/part/supplier/customer) and the global aggregates
itself, so it broadcasts them while they fit its threshold and shuffles
part, supplier and customer once they outgrow it with the scale factor;
AQE re-plans from runtime sizes either way. The lineitem-side aggregates are
partial-agg friendly (sum/count of arithmetic on scan columns) so map-side
combine keeps shuffle volume at |groups|, not |rows|. The Q17/Q15 per-key
aggregate joins shuffle on the same key as the probe side, so AQE coalesces
them into one exchange.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_table_providers_spark.core.case import QueryCase
from datafusion_table_providers_spark.operators.relational import _r, _rsql, _t


# Q7: volume shipping between two nations, by supplier-nation/customer-nation
# and ship year.
def t07_volume_shipping(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            _r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


T07_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
       {_rsql('SUM(volume)', 2)} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier, lineitem, orders, customer, nation n1, nation n2
  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
    AND c_custkey = o_custkey
    AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""


# Q8: market share of NATION_3 suppliers within EUROPE-customer orders of
# PROMO-type parts, per order year.
def t08_market_share(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_name")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(n1, F.col("c_nationkey") == F.col("n1_key"))
        .join(r, F.col("n1_region") == F.col("r_regionkey"))
        .join(n2, F.col("s_nationkey") == F.col("n2_key"))
        .filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1998-01-01")
        )
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year")
        .agg(
            _r(
                F.sum(F.when(F.col("supp_name") == "NATION_3", vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
    )


T08_SQL = f"""
SELECT o_year,
       {_rsql("SUM(CASE WHEN supp_name = 'NATION_3' THEN volume ELSE 0.0 END) / SUM(volume)", 6)} AS mkt_share
FROM (
  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS supp_name
  FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
    AND r_name = 'EUROPE' AND s_nationkey = n2.n_nationkey
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1998-01-01'
    AND p_type = 'PROMO'
) all_nations
GROUP BY o_year
"""


# Q9: product-type profit, by supplier nation and order year. No partsupp →
# supply cost synthesized as 10% of p_retailprice.
def t09_product_profit(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    n = _t(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - (
        0.1 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy(F.col("n_name").alias("nation"), F.col("o_year"))
        .agg(_r(F.sum(amount), 2).alias("sum_profit"))
    )


T09_SQL = f"""
SELECT nation, o_year, {_rsql('SUM(amount)', 2)} AS sum_profit
FROM (
  SELECT n_name AS nation,
         CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
         l_extendedprice * (1 - l_discount)
           - 0.1 * p_retailprice * l_quantity AS amount
  FROM part, supplier, lineitem, orders, nation
  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
    AND p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
"""


# Q10: returned-item reporting — top 20 customers by lost revenue in a
# quarter. Deterministic Top-K: ties broken by c_custkey.
def t10_returned_items(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    return (
        l.filter(F.col("l_returnflag") == "R")
        .join(o, l.l_orderkey == o.o_orderkey)
        .filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1996-04-01")
        )
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            _r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


T10_SQL = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       {_rsql('SUM(l_extendedprice * (1 - l_discount))', 2)} AS revenue
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# Q11: important stock identification — GROUP BY ... HAVING compared against
# a global scalar subquery (a fraction of the total). No partsupp: part
# value is synthesized as shipped quantity × retail price, restricted to a
# supplier-nation subset.
def t11_important_stock(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    s = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") < 5)
        .select("s_suppkey")
    )
    val = F.col("l_quantity") * F.col("p_retailprice")
    base = (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
    )
    per_part = base.groupBy("l_partkey").agg(F.sum(val).alias("raw_value"))
    total = base.agg((F.sum(val) * 0.001).alias("threshold"))
    return (
        per_part.join(total)
        .filter(F.col("raw_value") > F.col("threshold"))
        .select("l_partkey", _r(F.col("raw_value"), 2).alias("value"))
    )


T11_SQL = f"""
SELECT l_partkey, {_rsql('SUM(l_quantity * p_retailprice)', 2)} AS value
FROM lineitem JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
WHERE s_nationkey < 5
GROUP BY l_partkey
HAVING SUM(l_quantity * p_retailprice) > (
  SELECT SUM(l_quantity * p_retailprice) * 0.001
  FROM lineitem JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  WHERE s_nationkey < 5
)
"""


# Q13: customer order-count distribution via conditional LEFT OUTER join.
def t13_customer_distribution(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (o.o_orderpriority != "5-LOW"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


T13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
"""


# Q15: top supplier(s) — argmax via scalar subquery over an aggregate view.
def t15_top_supplier(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = (
        l.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            _r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "total_revenue"
            )
        )
    )
    best = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.join(best, rev.total_revenue == best.max_revenue)
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


T15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         {_rsql('SUM(l_extendedprice * (1 - l_discount))', 2)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier, revenue
WHERE s_suppkey = supplier_no
  AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


# Q17: small-quantity-order revenue — correlated scalar subquery
# (per-part average quantity) adapted: p_size <= 5 instead of p_container.
def t17_small_quantity(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 5)
    )
    avg_qty = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("ap_partkey"))
        .agg((0.5 * F.avg("l_quantity")).alias("qty_threshold"))
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(avg_qty, l.l_partkey == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(_r(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


T17_SQL = f"""
SELECT {_rsql('SUM(l_extendedprice) / 7.0', 2)} AS avg_yearly
FROM lineitem, part
WHERE p_partkey = l_partkey AND p_brand = 'Brand#1' AND p_size <= 5
  AND l_quantity < (
    SELECT 0.5 * AVG(l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = part.p_partkey
  )
"""


# Q18: large-volume customers — HAVING subquery feeding a 3-way join.
def t18_large_volume(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("oq"))
        .filter(F.col("oq") > 250)
        .select("l_orderkey")
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
        .join(c, o.o_custkey == c.c_custkey)
        .join(_t(spark, sf_dir, "lineitem"), o.o_orderkey == F.col("l_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("sum_qty"))
    )


T18_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       SUM(l_quantity) AS sum_qty
FROM customer, orders, lineitem
WHERE o_orderkey IN (
    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
    HAVING SUM(l_quantity) > 250
  )
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
"""


# Q19: discounted revenue — disjunctive brand/size/quantity predicate groups.
def t19_disjunctive_revenue(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            _r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_rows"),
        )
    )


T19_SQL = f"""
SELECT {_rsql('SUM(l_extendedprice * (1 - l_discount))', 2)} AS revenue,
       COUNT(*) AS n_rows
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
        AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
        AND l_quantity BETWEEN 20 AND 30)
"""


# Q2: minimum-cost supplier — per-group argmin with join-back (the schema
# has no partsupp/ps_supplycost; the argmin dimension is s_acctbal over the
# suppliers that actually shipped the part, restricted to one region).
def t02_min_cost_supplier(spark, sf_dir):
    ps = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 10) & (F.col("p_type") == "PROMO")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cand = (
        ps.join(p, ps.l_partkey == p.p_partkey)
        .join(s, ps.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("p_partkey", "p_name", "s_name", "s_acctbal", "n_name")
    )
    best = cand.groupBy(F.col("p_partkey").alias("pk")).agg(
        F.min("s_acctbal").alias("mb")
    )
    return cand.join(
        best, (cand.p_partkey == best.pk) & (cand.s_acctbal == best.mb)
    ).select("p_partkey", "p_name", "s_name", "s_acctbal", "n_name")


T02_SQL = """
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
cand AS (
  SELECT p_partkey, p_name, s_name, s_acctbal, n_name
  FROM ps JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE p_size <= 10 AND p_type = 'PROMO' AND r_name = 'EUROPE')
SELECT p_partkey, p_name, s_name, s_acctbal, n_name
FROM cand JOIN (
  SELECT p_partkey AS pk, MIN(s_acctbal) AS mb FROM cand GROUP BY p_partkey
) m ON p_partkey = pk AND s_acctbal = mb
"""


# Q16: parts/supplier relationship — DISTINCT-pair derivation (the schema
# has no partsupp; distinct (partkey, suppkey) pairs from lineitem stand in),
# NOT IN subquery as an anti-join, COUNT(DISTINCT) rollup.
def t16_parts_supplier(spark, sf_dir):
    ps = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 3, 5, 7, 9)
    )
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        ps.join(p, ps.l_partkey == p.p_partkey)
        .join(bad, ps.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


T16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_size IN (1, 3, 5, 7, 9)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


# Q20: potential part promotion — suppliers with heavy shipped volume of a
# part class (correlated HAVING subquery → aggregate-then-semi-join).
def t20_part_promotion(spark, sf_dir):
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    heavy = (
        _t(spark, sf_dir, "lineitem")
        .join(p, F.col("l_partkey") == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 40)
        .select("l_suppkey")
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier")
    return s.join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


T20_SQL = """
SELECT s_suppkey, s_name FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'red%'
  GROUP BY l_suppkey, l_partkey HAVING SUM(l_quantity) > 40
)
"""


# Q21: suppliers who kept orders waiting — EXISTS (another supplier in the
# order) + NOT EXISTS (another LATE supplier), both correlated, expressed as
# per-order distinct-supplier aggregates joined back (no commitdate in the
# schema → "late" = shipped >300 days after order date).
def t21_waiting_suppliers(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    late = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 300 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
    )
    nsupp = (
        l.groupBy(F.col("l_orderkey").alias("ok_all"))
        .agg(F.countDistinct("l_suppkey").alias("nsupp"))
    )
    nlate = (
        late.groupBy(F.col("l_orderkey").alias("ok_late"))
        .agg(F.countDistinct("l_suppkey").alias("nlate"))
    )
    return (
        late.join(nsupp, late.l_orderkey == F.col("ok_all"))
        .join(nlate, late.l_orderkey == F.col("ok_late"))
        .filter((F.col("nsupp") >= 2) & (F.col("nlate") == 1))
        .join(s, late.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


T21_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier, lineitem l1, orders
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 300 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 300 DAY
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 10
"""


# Q22: global sales opportunity — positive-balance customers with no urgent
# orders, grouped by a synthesized country code (c_nationkey % 5; schema has
# no c_phone; every customer has *some* order in the synthetic data, so the
# anti-join filters on urgent orders to stay non-trivial).
# Anti-join + uncorrelated scalar subquery.
def t22_global_sales(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        c.join(avg_bal)
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .withColumn("cntrycode", (F.col("c_nationkey") % 5).cast("int"))
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            _r(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


T22_SQL = f"""
SELECT CAST(c_nationkey % 5 AS INT) AS cntrycode,
       COUNT(*) AS numcust,
       {_rsql('SUM(c_acctbal)', 2)} AS totacctbal
FROM customer
WHERE c_acctbal > (
    SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0
  )
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
  )
GROUP BY CAST(c_nationkey % 5 AS INT)
"""


from datafusion_table_providers_spark.operators.relational import _merged

# round-3 window rotation: the nine never-driver-certified TPC-H shapes in
# three merged rows so each gets a green driver row this round (suite.py)
t13b_qgroup, T13B_SQL = _merged(
    ("t13", t13_customer_distribution, T13_SQL),
    ("t15", t15_top_supplier, T15_SQL),
    ("t16", t16_parts_supplier, T16_SQL),
)
t17b_qgroup, T17B_SQL = _merged(
    ("t17", t17_small_quantity, T17_SQL),
    ("t18", t18_large_volume, T18_SQL),
    ("t19", t19_disjunctive_revenue, T19_SQL),
)
t20b_qgroup, T20B_SQL = _merged(
    ("t20", t20_part_promotion, T20_SQL),
    ("t21", t21_waiting_suppliers, T21_SQL),
    ("t22", t22_global_sales, T22_SQL),
)

# round-4 window rotation: the remaining TPC-H shapes (green in r1 under
# their solo names, never since) re-certified via four merged qgroup rows so
# every t-family holds a current driver row (suite.py PRIORITY_WINDOW).
from datafusion_table_providers_spark.operators.tpch import (
    T04_SQL,
    T05_SQL,
    T06_SQL,
    T12_SQL,
    T14_SQL,
    t04_order_priority,
    t05_local_supplier,
    t06_forecast_revenue,
    t12_priority_classes,
    t14_promo_effect,
)

t04b_qgroup, T04B_SQL = _merged(
    ("t02", t02_min_cost_supplier, T02_SQL),
    ("t04", t04_order_priority, T04_SQL),
    ("t05", t05_local_supplier, T05_SQL),
)
t06b_qgroup, T06B_SQL = _merged(
    ("t06", t06_forecast_revenue, T06_SQL),
    ("t12", t12_priority_classes, T12_SQL),
    ("t14", t14_promo_effect, T14_SQL),
)
t08b_qgroup, T08B_SQL = _merged(
    ("t07", t07_volume_shipping, T07_SQL),
    ("t08", t08_market_share, T08_SQL),
    ("t09", t09_product_profit, T09_SQL),
)
t10b_qgroup, T10B_SQL = _merged(
    ("t10", t10_returned_items, T10_SQL),
    ("t11", t11_important_stock, T11_SQL),
)

SUITE = {
    "t04b_qgroup": QueryCase(
        t04b_qgroup, T04B_SQL, "TPC-H Q2+Q4+Q5 shapes (merged)"
    ),
    "t06b_qgroup": QueryCase(
        t06b_qgroup, T06B_SQL, "TPC-H Q6+Q12+Q14 shapes (merged)"
    ),
    "t08b_qgroup": QueryCase(
        t08b_qgroup, T08B_SQL, "TPC-H Q7+Q8+Q9 shapes (merged)"
    ),
    "t10b_qgroup": QueryCase(
        t10b_qgroup, T10B_SQL, "TPC-H Q10+Q11 shapes (merged)"
    ),
    "t13b_qgroup": QueryCase(
        t13b_qgroup, T13B_SQL, "TPC-H Q13+Q15+Q16 shapes (merged)"
    ),
    "t17b_qgroup": QueryCase(
        t17b_qgroup, T17B_SQL, "TPC-H Q17+Q18+Q19 shapes (merged)"
    ),
    "t20b_qgroup": QueryCase(
        t20b_qgroup, T20B_SQL, "TPC-H Q20+Q21+Q22 shapes (merged)"
    ),
    "t02_min_cost_supplier": QueryCase(
        t02_min_cost_supplier, T02_SQL, "TPC-H Q2 shape"
    ),
    "t07_volume_shipping": QueryCase(t07_volume_shipping, T07_SQL, "TPC-H Q7 shape"),
    "t08_market_share": QueryCase(t08_market_share, T08_SQL, "TPC-H Q8 shape"),
    "t09_product_profit": QueryCase(t09_product_profit, T09_SQL, "TPC-H Q9 shape"),
    "t10_returned_items": QueryCase(t10_returned_items, T10_SQL, "TPC-H Q10 shape"),
    "t11_important_stock": QueryCase(
        t11_important_stock, T11_SQL, "TPC-H Q11 shape"
    ),
    "t13_customer_distribution": QueryCase(
        t13_customer_distribution, T13_SQL, "TPC-H Q13 shape"
    ),
    "t15_top_supplier": QueryCase(t15_top_supplier, T15_SQL, "TPC-H Q15 shape"),
    "t16_parts_supplier": QueryCase(t16_parts_supplier, T16_SQL, "TPC-H Q16 shape"),
    "t17_small_quantity": QueryCase(t17_small_quantity, T17_SQL, "TPC-H Q17 shape"),
    "t18_large_volume": QueryCase(t18_large_volume, T18_SQL, "TPC-H Q18 shape"),
    "t19_disjunctive_revenue": QueryCase(
        t19_disjunctive_revenue, T19_SQL, "TPC-H Q19 shape"
    ),
    "t20_part_promotion": QueryCase(t20_part_promotion, T20_SQL, "TPC-H Q20 shape"),
    "t21_waiting_suppliers": QueryCase(
        t21_waiting_suppliers, T21_SQL, "TPC-H Q21 shape"
    ),
    "t22_global_sales": QueryCase(t22_global_sales, T22_SQL, "TPC-H Q22 shape"),
}

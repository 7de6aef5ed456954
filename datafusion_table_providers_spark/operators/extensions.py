"""Extended operators Spark lacks as named primitives (SURVEY §2 'custom
operators' guidance): as-of join, range join, percentiles, stats aggregates,
histograms. Each is (a) a composition of existing DataFrame ops — never a
Python UDF — and (b) written in its scale-correct shape:

- **as-of join** uses the union + last-non-null-over-window trick: one sort
  per user partition instead of a per-row backward scan; at 100 TB this is a
  single shuffle on the partition key (the same plan DuckDB's native
  ASOF JOIN compiles to — which is exactly what the oracle uses).
- **range join** buckets event-time into interval-width cells and equi-joins
  on (key, cell±1) before the exact range filter — turning an O(n·m) theta
  join into a hash join with constant fan-out.
- percentile/stats/histogram are plain portable aggregates.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from datafusion_table_providers_spark.core.case import QueryCase
from datafusion_table_providers_spark.operators.relational import _r, _rsql, _t


# --- e01: as-of join (each click ↔ most recent signup of the same user) ---
def e01_asof_join(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    clicks = e.filter(F.col("event_type") == "click")
    signups = e.filter(F.col("event_type") == "signup")
    # union with a marker; signups sort before clicks at equal ts (inclusive)
    tagged = clicks.select(
        "user_id", "ts_us", F.lit(1).alias("is_click"), "event_id"
    ).unionByName(
        signups.select(
            "user_id", "ts_us", F.lit(0).alias("is_click"), "event_id"
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "is_click")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_asof = tagged.withColumn(
        "signup_ts_us",
        F.last(
            F.when(F.col("is_click") == 0, F.col("ts_us")), ignorenulls=True
        ).over(w),
    )
    return (
        with_asof.filter(F.col("is_click") == 1)
        .select(
            "event_id",
            "user_id",
            "ts_us",
            "signup_ts_us",
            (F.col("ts_us") - F.col("signup_ts_us")).alias("gap_us"),
        )
    )


E01_SQL = """
WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events),
clicks AS (SELECT * FROM e WHERE event_type = 'click'),
signups AS (SELECT * FROM e WHERE event_type = 'signup')
SELECT c.event_id, c.user_id, c.ts_us,
       s.ts_us AS signup_ts_us,
       c.ts_us - s.ts_us AS gap_us
FROM clicks c ASOF LEFT JOIN signups s
  ON c.user_id = s.user_id AND c.ts_us >= s.ts_us
"""


# --- e02: range join (events within ±1h of each error, bucketed) ----------
RANGE_US = 3_600 * 1_000_000


def e02_range_join(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_type",
    )
    errors = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("user_id").alias("err_user"),
        F.col("ts_us").alias("err_us"),
    )
    # bucket both sides by interval width; an in-range pair differs by ≤1 cell
    others = e.withColumn("bucket", F.expr(f"ts_us div {RANGE_US}"))
    err_b = errors.withColumn(
        "bucket",
        F.explode(
            F.array(
                F.expr(f"err_us div {RANGE_US} - 1"),
                F.expr(f"err_us div {RANGE_US}"),
                F.expr(f"err_us div {RANGE_US} + 1"),
            )
        ),
    )
    joined = err_b.join(
        others,
        (F.col("err_user") == F.col("user_id"))
        & (err_b.bucket == others.bucket)
        & (F.col("event_id") != F.col("err_id"))
        & (F.abs(F.col("ts_us") - F.col("err_us")) <= RANGE_US),
    )
    return joined.groupBy("err_id", "err_user").agg(
        F.count("*").alias("n_nearby")
    )


E02_SQL = f"""
WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events)
SELECT err.event_id AS err_id, err.user_id AS err_user, COUNT(*) AS n_nearby
FROM e err JOIN e o
  ON err.user_id = o.user_id
 AND o.event_id <> err.event_id
 AND ABS(o.ts_us - err.ts_us) <= {RANGE_US}
WHERE err.event_type = 'error'
GROUP BY 1, 2
"""


# --- e03: percentiles (continuous interpolation) --------------------------
def e03_percentiles(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        _r(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        _r(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        _r(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


E03_SQL = f"""
SELECT event_type,
       {_rsql('quantile_cont(value, 0.5)', 6)} AS p50,
       {_rsql('quantile_cont(value, 0.9)', 6)} AS p90,
       {_rsql('quantile_cont(value, 0.99)', 6)} AS p99
FROM events GROUP BY event_type
"""


# --- e04: statistical aggregates ------------------------------------------
# stddev/var/corr/covar are computed from raw moments over *scaled-integer*
# columns rather than the engines' native accumulators: Spark and DuckDB use
# different accumulation algorithms (Welford vs two-pass textbook), so their
# pre-rounding doubles differ by ULPs and half-up rounding can land on
# different sides of a boundary (this query failed the driver hash in r1).
# The money columns carry ≤2 decimals and discount/tax ≤4, so
# floor(x*s + 0.5) recovers an EXACT int64 on both engines; integer /
# decimal sums are order-independent, so every moment (n, Σx, Σx², Σxy) is
# bit-identical, and the closed-form stats below are then evaluated with the
# same IEEE double expression tree on both sides → bit-identical output.
_E04_STAT_EXPRS = {
    # sample stddev of price (descale by /100.0 at the end)
    "price_sd": (
        "sqrt((s_p2 - s_p * s_p / n) / (n - 1.0)) / 100.0"
    ),
    # sample variance of quantity (scale 100 → descale by /10000.0)
    "qty_var": "((s_q2 - s_q * s_q / n) / (n - 1.0)) / 10000.0",
    # correlation is scale-invariant
    "price_qty_corr": (
        "(s_pq - s_p * s_q / n)"
        " / sqrt((s_p2 - s_p * s_p / n) * (s_q2 - s_q * s_q / n))"
    ),
    # sample covariance of discount/tax (scale 10^4 each → /10^8)
    "disc_tax_cov": "((s_dt - s_d * s_t / n) / (n - 1.0)) / 100000000.0",
}


def e04_stats(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    moments = (
        l.selectExpr(
            "l_returnflag",
            "CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS px",
            "CAST(FLOOR(l_quantity * 100.0 + 0.5) AS BIGINT) AS qx",
            "CAST(FLOOR(l_discount * 10000.0 + 0.5) AS BIGINT) AS dx",
            "CAST(FLOOR(l_tax * 10000.0 + 0.5) AS BIGINT) AS tx",
            "CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS big_disc",
        )
        .groupBy("l_returnflag")
        .agg(
            F.expr("CAST(COUNT(*) AS DOUBLE)").alias("n"),
            # products are summed as DECIMAL(38,0): exact and overflow-safe
            # (px*px ~ 1e14 per row; an int64 sum overflows past ~1e5 rows)
            F.expr("CAST(SUM(CAST(px AS DECIMAL(38,0))) AS DOUBLE)").alias("s_p"),
            F.expr("CAST(SUM(CAST(px * px AS DECIMAL(38,0))) AS DOUBLE)").alias("s_p2"),
            F.expr("CAST(SUM(CAST(qx AS DECIMAL(38,0))) AS DOUBLE)").alias("s_q"),
            F.expr("CAST(SUM(CAST(qx * qx AS DECIMAL(38,0))) AS DOUBLE)").alias("s_q2"),
            F.expr("CAST(SUM(CAST(px * qx AS DECIMAL(38,0))) AS DOUBLE)").alias("s_pq"),
            F.expr("CAST(SUM(CAST(dx AS DECIMAL(38,0))) AS DOUBLE)").alias("s_d"),
            F.expr("CAST(SUM(CAST(tx AS DECIMAL(38,0))) AS DOUBLE)").alias("s_t"),
            F.expr("CAST(SUM(CAST(dx * tx AS DECIMAL(38,0))) AS DOUBLE)").alias("s_dt"),
            F.expr("CAST(SUM(big_disc) AS BIGINT)").alias("n_big_disc"),
        )
    )
    return moments.selectExpr(
        "l_returnflag",
        *[f"{expr} AS {name}" for name, expr in _E04_STAT_EXPRS.items()],
        "n_big_disc",
    )


E04_SQL = f"""
WITH scaled AS (
  SELECT l_returnflag,
         CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS px,
         CAST(FLOOR(l_quantity * 100.0 + 0.5) AS BIGINT) AS qx,
         CAST(FLOOR(l_discount * 10000.0 + 0.5) AS BIGINT) AS dx,
         CAST(FLOOR(l_tax * 10000.0 + 0.5) AS BIGINT) AS tx,
         CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS big_disc
  FROM lineitem
), m AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(px AS DECIMAL(38,0))) AS DOUBLE) AS s_p,
         CAST(SUM(CAST(px * px AS DECIMAL(38,0))) AS DOUBLE) AS s_p2,
         CAST(SUM(CAST(qx AS DECIMAL(38,0))) AS DOUBLE) AS s_q,
         CAST(SUM(CAST(qx * qx AS DECIMAL(38,0))) AS DOUBLE) AS s_q2,
         CAST(SUM(CAST(px * qx AS DECIMAL(38,0))) AS DOUBLE) AS s_pq,
         CAST(SUM(CAST(dx AS DECIMAL(38,0))) AS DOUBLE) AS s_d,
         CAST(SUM(CAST(tx AS DECIMAL(38,0))) AS DOUBLE) AS s_t,
         CAST(SUM(CAST(dx * tx AS DECIMAL(38,0))) AS DOUBLE) AS s_dt,
         CAST(SUM(big_disc) AS BIGINT) AS n_big_disc
  FROM scaled GROUP BY l_returnflag
)
SELECT l_returnflag,
       {_E04_STAT_EXPRS['price_sd']} AS price_sd,
       {_E04_STAT_EXPRS['qty_var']} AS qty_var,
       {_E04_STAT_EXPRS['price_qty_corr']} AS price_qty_corr,
       {_E04_STAT_EXPRS['disc_tax_cov']} AS disc_tax_cov,
       n_big_disc
FROM m
"""


# --- e06: histogram / binning ---------------------------------------------
N_BINS = 20
BIN_W = 5.0


def e06_histogram(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    bucket = F.least(
        F.floor(F.col("value") / BIN_W), F.lit(N_BINS - 1)
    ).cast("int")
    return (
        e.groupBy(bucket.alias("bin"))
        .agg(F.count("*").alias("n"), _r(F.avg("value"), 6).alias("bin_avg"))
    )


E06_SQL = f"""
SELECT CAST(LEAST(FLOOR(value / {BIN_W}), {N_BINS - 1}) AS INTEGER) AS bin,
       COUNT(*) AS n, {_rsql('AVG(value)', 6)} AS bin_avg
FROM events GROUP BY 1
"""


# --- e07: salted two-phase aggregation ------------------------------------
# The skew discipline for aggregations (operators/skew.py covers joins):
# when one group key holds a disproportionate share of rows, a direct
# groupBy sends that whole key to one reducer. Salting splits each key into
# n_salts sub-groups (phase 1: partial agg per (key, salt) — spreads the hot
# key across reducers), then re-aggregates the tiny partial table per key
# (phase 2). Results are identical to the direct aggregate — which is
# exactly what the DuckDB oracle (a plain GROUP BY) checks. Salt is a
# deterministic row hash, not random(): task retries stay idempotent.
N_SALTS = 16


def e07_salted_agg(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    salt = F.abs(F.xxhash64("l_orderkey", "l_linenumber")) % N_SALTS
    phase1 = (
        l.withColumn("__salt", salt)
        .groupBy("l_returnflag", "__salt")
        .agg(
            F.sum("l_quantity").alias("pq"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("pr"),
            F.count("*").alias("pn"),
        )
    )
    return phase1.groupBy("l_returnflag").agg(
        _r(F.sum("pq"), 2).alias("sum_qty"),
        _r(F.sum("pr"), 2).alias("revenue"),
        F.sum("pn").alias("n_rows"),
    )


E07_SQL = f"""
SELECT l_returnflag,
       {_rsql('SUM(l_quantity)', 2)} AS sum_qty,
       {_rsql('SUM(l_extendedprice * (1 - l_discount))', 2)} AS revenue,
       COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


# --- e08: sketch aggregates with bounded-error certification --------------
# HLL distinct-count and quantile sketches are the approximate-query
# workhorses at 100 TB (exact distinct = full shuffle of the key universe;
# a sketch is constant memory + one map-side pass). Raw sketch estimates are
# engine-specific (Spark HLL++ vs DuckDB HLL; t-digest vs GK), so the
# cross-engine contract certifies the ERROR BOUND, not the estimate: each
# engine checks its own sketch against its own exact value and emits the
# boolean verdict + the exact integers. Bounds are generous (10% HLL, 2%·n
# quantile rank error) so the check is deterministic, not flaky.
def e08_sketch_bounds(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select("event_type", "user_id", "value")
    stats = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct"),
        F.approx_count_distinct("user_id").alias("hll"),
        F.expr("approx_percentile(value, 0.5, 10000)").alias("p50a"),
        F.count("*").alias("n"),
    )
    ranks = (
        e.join(stats.select("event_type", "p50a"), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("value") <= F.col("p50a"), 1).otherwise(0)
            ).alias("rank50")
        )
    )
    return stats.join(ranks, "event_type").select(
        "event_type",
        "exact_distinct",
        "n",
        (
            F.abs(F.col("hll") - F.col("exact_distinct"))
            <= 0.1 * F.col("exact_distinct")
        ).alias("hll_ok"),
        (F.abs(F.col("rank50") - F.col("n") / 2.0) <= 0.02 * F.col("n")).alias(
            "p50_ok"
        ),
    )


E08_SQL = """
WITH stats AS (
  SELECT event_type,
         COUNT(DISTINCT user_id) AS exact_distinct,
         approx_count_distinct(user_id) AS hll,
         approx_quantile(value, 0.5) AS p50a,
         COUNT(*) AS n
  FROM events GROUP BY event_type
),
ranks AS (
  SELECT e.event_type,
         SUM(CASE WHEN e.value <= s.p50a THEN 1 ELSE 0 END) AS rank50
  FROM events e JOIN stats s USING (event_type)
  GROUP BY e.event_type
)
SELECT event_type, exact_distinct, n,
       ABS(hll - exact_distinct) <= 0.1 * exact_distinct AS hll_ok,
       ABS(rank50 - n / 2.0) <= 0.02 * n AS p50_ok
FROM stats JOIN ranks USING (event_type)
"""


# --- e09: rollup cascade (continuous-aggregate / hypertable pattern) ------
# The time-series scale pattern: fine-grained partial aggregates (hourly)
# are materialized once, and every coarser resolution (daily, …) reduces
# the PARTIALS, never the raw events — at 100 TB the daily rollup reads
# n_hours rows per key instead of n_events. Values are integer cents
# (floor(v*100+0.5), spelled identically on both engines), so every level
# of the cascade is exact integer arithmetic — no float re-accumulation
# drift between levels or engines.
def e09_rollup_cascade(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count("*").alias("n"), F.sum(cents).alias("cents"))
    return hourly.groupBy(
        F.date_trunc("day", "h").alias("d"), "event_type"
    ).agg(
        F.sum("n").alias("n_events"),
        F.sum("cents").alias("value_cents"),
        F.count("*").alias("n_hours"),
    )


E09_SQL = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, event_type,
         COUNT(*) AS n,
         SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS cents
  FROM events GROUP BY 1, 2
)
SELECT CAST(date_trunc('day', h) AS TIMESTAMP) AS d, event_type,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS value_cents,
       COUNT(*) AS n_hours
FROM hourly GROUP BY 1, 2
"""


from datafusion_table_providers_spark.operators.relational import _merged

# merged capability-coverage entries (window discipline — see suite.py)
e01b_interval_joins, E01B_SQL = _merged(
    ("e01", e01_asof_join, E01_SQL),
    ("e02", e02_range_join, E02_SQL),
)
e03b_distributions, E03B_SQL = _merged(
    ("e03", e03_percentiles, E03_SQL),
    ("e06", e06_histogram, E06_SQL),
    ("e09", e09_rollup_cascade, E09_SQL),
)
# r4: e07's salted two-phase aggregation (green in r1 solo, never since)
# rides the e04 stats row so both hold a current driver certification
e04b_stats_salted, E04B_SQL = _merged(
    ("e04", e04_stats, E04_SQL),
    ("e07", e07_salted_agg, E07_SQL),
)

SUITE = {
    "e01_asof_join": QueryCase(e01_asof_join, E01_SQL, "as-of join via window"),
    "e07_salted_agg": QueryCase(
        e07_salted_agg, E07_SQL, "salted two-phase aggregation"
    ),
    "e02_range_join": QueryCase(e02_range_join, E02_SQL, "bucketed range join"),
    "e03_percentiles": QueryCase(e03_percentiles, E03_SQL, "continuous percentiles"),
    "e04_stats": QueryCase(e04_stats, E04_SQL, "stddev/var/corr/covar/count_if"),
    "e06_histogram": QueryCase(e06_histogram, E06_SQL, "histogram binning"),
    "e08_sketch_bounds": QueryCase(
        e08_sketch_bounds, E08_SQL, "HLL/quantile sketches, certified error"
    ),
    "e09_rollup_cascade": QueryCase(
        e09_rollup_cascade, E09_SQL, "continuous-aggregate rollup cascade"
    ),
    "e01b_interval_joins": QueryCase(
        e01b_interval_joins, E01B_SQL, "as-of + bucketed range joins"
    ),
    "e03b_distributions": QueryCase(
        e03b_distributions,
        E03B_SQL,
        "percentiles + histogram + rollup cascade",
    ),
    "e04b_stats_salted": QueryCase(
        e04b_stats_salted,
        E04B_SQL,
        "stats aggregates + salted two-phase aggregation (merged)",
    ),
}


# --- e10: salted skew join (hot fact keys spread over n_salts reducers) ---
# operators/skew.py::salted_join is the declarative explode-salt pattern for
# joins whose hot keys would otherwise put one reducer on the critical path
# (AQE splits skewed SHUFFLE partitions, but a deliberately salted plan also
# covers sort-merge-with-broadcast-disabled and pre-AQE engines). Semantics
# are identical to the plain equi-join — which is exactly what the oracle
# runs — so the row certifies "salting never changes results". The brand
# aggregate keeps the driver-visible output small while summing every joined
# row.
def e10_salted_join(spark, sf_dir):
    from datafusion_table_providers_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    pt = (
        _t(spark, sf_dir, "part")
        .select("p_partkey", "p_brand")
        .withColumnRenamed("p_partkey", "l_partkey")
    )
    joined = salted_join(li, pt, "l_partkey", n_salts=8)
    return joined.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count("*").alias("n_items"),
        _r(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


E10_SQL = f"""
SELECT p_brand AS brand, COUNT(*) AS n_items,
       {_rsql('SUM(l_quantity)', 2)} AS sum_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""

SUITE["e10_salted_join"] = QueryCase(
    e10_salted_join, E10_SQL, "salted equi-join == plain join (skew spread)"
)


# e10 rides the e04b stats row (same discipline as e07 in r4's first
# rotation) so the salted-join certification lands this round: re-merge
# and overwrite the registry entry defined above.
e04b_stats_salted, E04B_SQL = _merged(
    ("e04", e04_stats, E04_SQL),
    ("e07", e07_salted_agg, E07_SQL),
    ("e10", e10_salted_join, E10_SQL),
)
SUITE["e04b_stats_salted"] = QueryCase(
    e04b_stats_salted,
    E04B_SQL,
    "stats aggregates + salted two-phase agg + salted join (merged)",
)


# --- e11: heavy hitters via Misra-Gries partial summaries ------------------
# The bounded-memory frequent-items pattern (Misra & Gries 1982): each
# partition keeps at most MG_K counters (weighted variant — batches are
# pre-aggregated with value_counts, and an eviction subtracts the min from
# all k+1 logical counters, so every decrement unit cancels k+1 real
# occurrences). Partition summaries are tiny (≤ MG_K rows each) and merge
# by summing. At 100 TB this replaces a full groupBy over a high-cardinality
# key with a constant-memory single pass + an O(partitions × K) merge.
#
# Like e08, the ORACLE contract is the proven guarantees, not the
# engine-specific estimates: for every item with true_n > N/(K+1) —
# 1) found: the merged summary MUST contain it (guaranteed recall);
# 2) no_overcount: summed counters never exceed the true count;
# 3) bound_ok: undercount ≤ N/(K+1) (integer-exact comparison).
# The oracle computes the heavy set exactly and asserts the three booleans
# TRUE; a broken sketch flips a boolean and fails the row. MG_K=4 over the
# 5-valued event_type stream forces real evictions in every partition while
# leaving the ~20%-share types above the N/5 threshold.
MG_K = 4


def _mg_add(counters: dict, item, c: int, k: int = MG_K) -> None:
    if item in counters:
        counters[item] += c
        return
    if len(counters) < k:
        counters[item] = c
        return
    m = min(counters.values())
    if c <= m:
        dec = c  # the new item is absorbed entirely
        newc = 0
    else:
        dec = m
        newc = c - m
    for t in list(counters):
        counters[t] -= dec
        if counters[t] == 0:
            del counters[t]
    if newc:
        counters[item] = newc


def _mg_partition(batches):
    """mapInPandas stage: fold every batch of an ``item`` column into one
    Misra-Gries summary per partition (shared by e11 and its tests)."""
    import pandas as pd

    counters: dict = {}
    for pdf in batches:
        for item, c in pdf["item"].value_counts().items():
            _mg_add(counters, item, int(c))
    if counters:
        yield pd.DataFrame(
            {"item": list(counters), "est": list(counters.values())}
        )


def e11_heavy_hitters(spark, sf_dir):
    items = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("item")
    )
    summary = items.mapInPandas(_mg_partition, schema="item string, est long")
    est = summary.groupBy("item").agg(F.sum("est").alias("est"))
    exact = items.groupBy("item").agg(F.count("*").alias("true_n"))
    total = items.agg(F.count("*").alias("n_total"))
    heavy = exact.crossJoin(total).where(
        F.col("true_n") * (MG_K + 1) > F.col("n_total")
    )
    out = heavy.join(est, "item", "left")
    return out.select(
        "item",
        "true_n",
        F.col("est").isNotNull().alias("found"),
        (F.coalesce("est", F.lit(0)) <= F.col("true_n")).alias("no_overcount"),
        (
            (F.col("true_n") - F.coalesce("est", F.lit(0))) * (MG_K + 1)
            <= F.col("n_total")
        ).alias("bound_ok"),
    )


E11_SQL = f"""
WITH exact AS (SELECT event_type AS item, COUNT(*) AS true_n FROM events GROUP BY 1),
tot AS (SELECT COUNT(*) AS n_total FROM events)
SELECT item, true_n, TRUE AS found, TRUE AS no_overcount, TRUE AS bound_ok
FROM exact CROSS JOIN tot WHERE true_n * {MG_K + 1} > n_total
"""

SUITE["e11_heavy_hitters"] = QueryCase(
    e11_heavy_hitters,
    E11_SQL,
    "Misra-Gries heavy hitters: partial summaries, certified guarantees",
)


# sketch family window row: HLL/quantile bounds + Misra-Gries guarantees
e08b_sketches, E08B_SQL = _merged(
    ("e08", e08_sketch_bounds, E08_SQL),
    ("e11", e11_heavy_hitters, E11_SQL),
)
SUITE["e08b_sketches"] = QueryCase(
    e08b_sketches,
    E08B_SQL,
    "sketches: HLL + approx-quantile bounds + MG heavy hitters (merged)",
)

"""Statistical aggregates with exact-moment determinism (extension).

corr/stddev/covar are order-dependent when summed in floating point, so
the naive forms can't hash-match across engines. These compute the
raw moments (Σx, Σy, Σx², Σy², Σxy, n) in EXACT decimal arithmetic,
round them to integer scale (keeping the scaled value under 2^53 so
both engines' decimal→double casts are exact), then evaluate the
closed-form formula in identical double expression order. The result
is a bit-stable Pearson r / population stddev.

Scale: one map-side-combinable aggregation — moments are the textbook
distributed-statistics shape (they merge associatively across
partitions, which is also WHY they can be exact here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.exact import davg, hround, oracle_davg, oracle_hround
from ..registry import register


def _descale_sum(expr: str, d: int) -> str:
    """Exact moment over scaled-LONG terms: SUM in DECIMAL(38,0), one
    HALF_UP descale round, surfaced as double — value-identical to the
    oracle's ROUND(SUM(decimal-products), 0) at a fraction of the
    per-row cost (round 15: a LONG multiply + decimal add per row
    instead of a BigDecimal multiply + add; interleaved A/B at sf0.1
    read 0.66 vs 0.86 best / 0.79 vs 1.00 median on the corr moments,
    values bit-identical). Inputs must be non-negative — the repo-wide
    scaled_long FLOOR(x*10^d + 0.5D) half-up convention; quantities,
    prices and event values all are.

    A product term (``_xl * _yl``) is a LONG multiply before the
    DECIMAL cast, so each scaled factor must stay under sqrt(2^63):
    |scaled| < 3.03e9 (3,037,000,499), i.e. |x| < ~3.03e7 at d=2.
    The fixtures sit far below it (l_extendedprice scales to ~1.05e7);
    tests/test_scaled_long_domain.py pins both preconditions."""
    return (
        f"CAST(ROUND(SUM(CAST({expr} AS DECIMAL(38,0))) / {10**d}, 0)"
        " AS DOUBLE)"
    )


_CORR_ORACLE = """
WITH m AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 0) AS DOUBLE) AS sx,
         CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS sy,
         CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))), 0) AS DOUBLE) AS sxx,
         CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS syy,
         CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       ROUND((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS qty_price_corr,
       ROUND(sqrt((sxx - sx * sx / n) / n), 6) AS qty_stddev_pop
FROM m
"""


@register("stats_corr_moments", oracle=_CORR_ORACLE)
def stats_corr_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.exact import spark_scaled_long

    li = load_table(spark, sf_dir, "lineitem")
    # scaled-long projection once, long products per row, exact
    # DECIMAL(38,0) sums — see _descale_sum (values identical to the
    # decimal-multiply form the oracle spells)
    scaled = li.selectExpr(
        "l_returnflag",
        f"{spark_scaled_long('l_quantity')} AS _xl",
        f"{spark_scaled_long('l_extendedprice')} AS _yl",
    )
    m = scaled.groupBy("l_returnflag").agg(
        F.expr("COUNT(1)").alias("n"),
        F.expr(_descale_sum("_xl", 2)).alias("sx"),
        F.expr(_descale_sum("_yl", 2)).alias("sy"),
        F.expr(_descale_sum("_xl * _xl", 4)).alias("sxx"),
        F.expr(_descale_sum("_yl * _yl", 4)).alias("syy"),
        F.expr(_descale_sum("_xl * _yl", 4)).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    stddev = F.sqrt((sxx - sx * sx / n) / n)
    return m.select(
        "l_returnflag",
        "n",
        F.round(corr, 6).alias("qty_price_corr"),
        F.round(stddev, 6).alias("qty_stddev_pop"),
    )


# --- anomaly flags (z-score outliers) ----------------------------------------
# The data-quality gate built on the exact-moment machinery: events
# whose value sits beyond 2 population-stddevs of their type's mean.
# Moments are exact; mean/stddev are derived per group once (broadcast
# back via join), each row then does fixed-order FP comparisons.


@register(
    "stats_value_outliers",
    oracle="""
WITH m AS (
  SELECT event_type,
         COUNT(value) AS n,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 0) AS DOUBLE) AS sx,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))), 0) AS DOUBLE) AS sxx
  FROM events GROUP BY event_type
),
stats AS (
  SELECT event_type,
         sx / n AS mean,
         sqrt((sxx - sx * sx / n) / n) AS sd
  FROM m
)
SELECT e.event_id, e.event_type, e.value,
       ROUND((e.value - s.mean) / s.sd, 6) AS zscore
FROM events e JOIN stats s ON e.event_type = s.event_type
WHERE abs(e.value - s.mean) > 2 * s.sd
""",
)
def stats_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.exact import spark_scaled_long

    ev = load_table(spark, sf_dir, "events")
    # scaled-long moments (see _descale_sum); COUNT(value) — not
    # COUNT(1) — keeps the oracle's NULL-skipping count, and the
    # scaled term must stay NULL for NULL values for the sums to match
    m = ev.selectExpr(
        "event_type",
        "value",
        f"{spark_scaled_long('value')} AS _vl",
    ).groupBy("event_type").agg(
        F.expr("COUNT(value)").alias("n"),
        F.expr(_descale_sum("_vl", 2)).alias("sx"),
        F.expr(_descale_sum("_vl * _vl", 4)).alias("sxx"),
    )
    stats = m.select(
        "event_type",
        (F.col("sx") / F.col("n")).alias("mean"),
        F.sqrt((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / F.col("n")).alias("sd"),
    )
    joined = ev.join(F.broadcast(stats), "event_type")
    return (
        joined.filter(F.abs(F.col("value") - F.col("mean")) > 2 * F.col("sd"))
        .select(
            "event_id",
            "event_type",
            "value",
            F.round((F.col("value") - F.col("mean")) / F.col("sd"), 6).alias("zscore"),
        )
    )


# --- histogram / binning ------------------------------------------------------


@register(
    "stats_value_histogram",
    oracle="""
SELECT CAST(floor(value / 20.0) AS BIGINT) AS bin,
       COUNT(*) AS n,
       CAST(MIN(value) AS DOUBLE) AS bin_min,
       CAST(MAX(value) AS DOUBLE) AS bin_max
FROM events
GROUP BY CAST(floor(value / 20.0) AS BIGINT)
""",
)
def stats_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bin_ = F.floor(F.col("value") / 20.0).cast("long")
    return ev.groupBy(bin_.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").cast("double").alias("bin_min"),
        F.max("value").cast("double").alias("bin_max"),
    )


# --- OLS regression from exact moments ---------------------------------------
# Least-squares slope/intercept of price ~ quantity per return flag,
# from the SAME exact-moment machinery as corr: moments merge
# associatively across partitions (map-side combinable, one shuffle of
# #groups rows), the closed form evaluates in identical double order
# on both engines. At 100 TB this is the only shape that works —
# iterative solvers need passes, moments need one.

_REGR_ORACLE = """
WITH m AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 0) AS DOUBLE) AS sx,
         CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS sy,
         CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))), 0) AS DOUBLE) AS sxx,
         CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       FLOOR(((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 1000000.0 + 0.5)
         / 1000000.0 AS price_per_qty_slope,
       FLOOR(((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n)
             * 1000000.0 + 0.5) / 1000000.0 AS price_intercept
FROM m
"""


@register("stats_regression_moments", oracle=_REGR_ORACLE)
def stats_regression_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.exact import hround, spark_scaled_long

    li = load_table(spark, sf_dir, "lineitem")
    # scaled-long moments — see _descale_sum (round 15)
    scaled = li.selectExpr(
        "l_returnflag",
        f"{spark_scaled_long('l_quantity')} AS _xl",
        f"{spark_scaled_long('l_extendedprice')} AS _yl",
    )
    m = scaled.groupBy("l_returnflag").agg(
        F.expr("COUNT(1)").alias("n"),
        F.expr(_descale_sum("_xl", 2)).alias("sx"),
        F.expr(_descale_sum("_yl", 2)).alias("sy"),
        F.expr(_descale_sum("_xl * _xl", 4)).alias("sxx"),
        F.expr(_descale_sum("_xl * _yl", 4)).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy = F.col("sxx"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    return m.select(
        "l_returnflag",
        "n",
        hround(slope).alias("price_per_qty_slope"),
        hround(intercept).alias("price_intercept"),
    )


# --- higher moments: skewness / kurtosis (exact raw moments) -----------------
# Engine-native skewness()/kurtosis() are order-dependent FP folds, so
# they can't hash-match. Same cure as corr/regression: raw moments as
# exact integer sums (l_quantity is integer-valued — verified — so
# q..q^4 sums stay exact in int64 AND below 2^53 through ~sf100), then
# one fixed-order double evaluation of the central-moment formulas.
# Moments merge associatively — the one-pass distributed shape.

_SKEW_ORACLE = """
WITH m AS (
  SELECT l_returnflag, COUNT(*) AS n,
         SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS sx,
         SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)
             * CAST(ROUND(l_quantity, 0) AS BIGINT)) AS sxx,
         SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)
             * CAST(ROUND(l_quantity, 0) AS BIGINT)
             * CAST(ROUND(l_quantity, 0) AS BIGINT)) AS sxxx,
         SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)
             * CAST(ROUND(l_quantity, 0) AS BIGINT)
             * CAST(ROUND(l_quantity, 0) AS BIGINT)
             * CAST(ROUND(l_quantity, 0) AS BIGINT)) AS sxxxx
  FROM lineitem GROUP BY l_returnflag
),
d AS (
  SELECT l_returnflag, n,
         CAST(sx AS DOUBLE) / n AS mu,
         CAST(sxx AS DOUBLE) / n AS r2,
         CAST(sxxx AS DOUBLE) / n AS r3,
         CAST(sxxxx AS DOUBLE) / n AS r4
  FROM m
),
c AS (
  SELECT l_returnflag, n, mu,
         r2 - mu * mu AS m2,
         r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
         r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2 - 3.0 * mu * mu * mu * mu AS m4
  FROM d
)
SELECT l_returnflag, n,
       FLOOR((m3 / (sqrt(m2) * m2)) * 1000000.0 + 0.5) / 1000000.0 AS qty_skewness,
       FLOOR((m4 / (m2 * m2) - 3.0) * 1000000.0 + 0.5) / 1000000.0
         AS qty_kurtosis_excess
FROM c
"""


@register("stats_skew_kurtosis_moments", oracle=_SKEW_ORACLE)
def stats_skew_kurtosis_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.exact import hround

    li = load_table(spark, sf_dir, "lineitem")
    q = F.round(F.col("l_quantity"), 0).cast("long")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("sx"),
        F.sum(q * q).alias("sxx"),
        F.sum(q * q * q).alias("sxxx"),
        F.sum(q * q * q * q).alias("sxxxx"),
    )
    n = F.col("n")
    mu = F.col("sx").cast("double") / n
    r2 = F.col("sxx").cast("double") / n
    r3 = F.col("sxxx").cast("double") / n
    r4 = F.col("sxxxx").cast("double") / n
    m2 = r2 - mu * mu
    m3 = r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu
    m4 = r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2 - 3.0 * mu * mu * mu * mu
    return m.select(
        "l_returnflag",
        "n",
        hround(m3 / (F.sqrt(m2) * m2)).alias("qty_skewness"),
        hround(m4 / (m2 * m2) - 3.0).alias("qty_kurtosis_excess"),
    )


# --- grouped exact quantiles -------------------------------------------------
# Per-group percentile profiles (p25/p50/p75) with EXACT interpolation:
# Spark's percentile() and DuckDB's quantile_cont() both sort the group
# and evaluate the identical (1-f)*lower + f*upper linear interpolation
# over the same doubles — verified bit-equal, no rounding shim needed.
# Scale: exact percentile materializes each group's values (fine for
# bounded per-type groups); unbounded groups switch to the
# approx_percentile sketch registered in operators/approx.py.


@register(
    "stats_grouped_quantiles",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       quantile_cont(value, 0.25) AS p25,
       quantile_cont(value, 0.50) AS p50,
       quantile_cont(value, 0.75) AS p75
FROM events
GROUP BY event_type
""",
)
def stats_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile(value, 0.25)").alias("p25"),
        F.expr("percentile(value, 0.50)").alias("p50"),
        F.expr("percentile(value, 0.75)").alias("p75"),
    )


# --- winsorized mean (robust aggregation) ------------------------------------
# Outlier-robust per-group mean: clamp values into the group's own
# [p05, p95] band, then average exactly. The standard robust statistic
# when trimming would bias small groups. Two-pass shape like the
# percentile gate: per-group exact quantile thresholds (bit-equal
# cross-engine per stats_grouped_quantiles), broadcast back, clamp
# map-side, exact scaled-long average. The interpolated thresholds are
# ARBITRARY doubles, which would violate scaled_long's fixed-scale
# precondition for clamped rows — so both engines first quantize the
# thresholds with the shared hround (scale 6), making every clamped
# value genuinely <=6-decimal, and the winsorized leg averages at d=6
# (values themselves are 2-decimal, so d=6 is exact for them too).
# This removes both the cent-quantization bias on boundary rows and
# the cross-engine ROUND half-case drift the advisor flagged (r5).


@register(
    "stats_winsorized_mean",
    oracle=f"""
WITH thr AS (
  SELECT event_type,
         {oracle_hround("quantile_cont(value, 0.05)", 6)} AS lo,
         {oracle_hround("quantile_cont(value, 0.95)", 6)} AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       COUNT(*) AS n,
       {oracle_davg("e.value")} AS raw_mean,
       {oracle_davg("GREATEST(thr.lo, LEAST(thr.hi, e.value))", 6)}
         AS winsor_mean
FROM events e JOIN thr ON e.event_type = thr.event_type
GROUP BY e.event_type
""",
)
def stats_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    thr = ev.groupBy("event_type").agg(
        hround(F.expr("percentile(value, 0.05)"), 6).alias("lo"),
        hround(F.expr("percentile(value, 0.95)"), 6).alias("hi"),
    )
    clamped = F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("value")))
    return (
        ev.join(F.broadcast(thr), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            davg("value").alias("raw_mean"),
            davg(clamped, d=6).alias("winsor_mean"),
        )
    )


# --- RFM customer segmentation -----------------------------------------------
# The classic CRM composite: score every customer 1-3 on Recency (last
# order day), Frequency (order count), Monetary (exact total spend in
# cents), with tercile cut points computed from the CUSTOMER-GRAIN
# aggregate — which is dims-sized regardless of fact scale, so the
# single-group percentile agg is safe (the same exact-vs-approx
# percentile switch documented at stats_grouped_quantiles applies if
# the key dimension itself becomes unbounded). Plan: facts collapse to
# one row per customer (map-side combinable), one tiny threshold agg
# broadcast back, scores as pure comparisons, final segment rollup.
# Scores use >= on bit-identical interpolated thresholds over exact
# integer metrics — no epsilon needed on either engine.


def _rfm_score(metric: str, p1: str, p2: str):
    return (
        F.when(F.col(metric) >= F.col(p2), 3)
        .when(F.col(metric) >= F.col(p1), 2)
        .otherwise(1)
        .cast("long")
    )


def _rfm_score_sql(metric: str, p1: str, p2: str) -> str:
    return (
        f"CAST(CASE WHEN {metric} >= {p2} THEN 3 "
        f"WHEN {metric} >= {p1} THEN 2 ELSE 1 END AS BIGINT)"
    )


@register(
    "customer_rfm_segments",
    oracle=f"""
WITH base AS (
  SELECT o_custkey,
         date_diff('day', DATE '1970-01-01', CAST(MAX(o_orderdate) AS DATE))
           AS r_day,
         COUNT(*) AS f_cnt,
         SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS m_cents
  FROM orders GROUP BY o_custkey
),
thr AS (
  SELECT quantile_cont(r_day, 1.0/3) AS r1, quantile_cont(r_day, 2.0/3) AS r2,
         quantile_cont(f_cnt, 1.0/3) AS f1, quantile_cont(f_cnt, 2.0/3) AS f2,
         quantile_cont(m_cents, 1.0/3) AS m1, quantile_cont(m_cents, 2.0/3) AS m2
  FROM base
)
SELECT {_rfm_score_sql("r_day", "r1", "r2")} AS r_score,
       {_rfm_score_sql("f_cnt", "f1", "f2")} AS f_score,
       {_rfm_score_sql("m_cents", "m1", "m2")} AS m_score,
       COUNT(*) AS n_customers,
       CAST(SUM(m_cents) AS BIGINT) AS total_cents
FROM base, thr
GROUP BY 1, 2, 3
""",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.exact import scaled_long

    orders = load_table(spark, sf_dir, "orders")
    base = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.max(F.col("o_orderdate")).cast("date"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("r_day"),
        F.count(F.lit(1)).alias("f_cnt"),
        F.sum(scaled_long("o_totalprice", 2)).alias("m_cents"),
    )
    thr = base.agg(
        F.expr("percentile(r_day, 1.0/3)").alias("r1"),
        F.expr("percentile(r_day, 2.0/3)").alias("r2"),
        F.expr("percentile(f_cnt, 1.0/3)").alias("f1"),
        F.expr("percentile(f_cnt, 2.0/3)").alias("f2"),
        F.expr("percentile(m_cents, 1.0/3)").alias("m1"),
        F.expr("percentile(m_cents, 2.0/3)").alias("m2"),
    )
    return (
        base.crossJoin(F.broadcast(thr))
        .select(
            _rfm_score("r_day", "r1", "r2").alias("r_score"),
            _rfm_score("f_cnt", "f1", "f2").alias("f_score"),
            _rfm_score("m_cents", "m1", "m2").alias("m_score"),
            "m_cents",
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("m_cents").alias("total_cents"),
        )
    )


# --- order-to-ship lag profile per priority ----------------------------------
# Logistics QA: the distribution of order-to-first-ship lag per order
# priority. Lags are exact integer day differences; groups are bounded
# (#priorities), so the exact percentile interpolation applies
# unchanged (same engine-identity as stats_grouped_quantiles). The
# lineitem side pre-collapses to MIN(shipdate) per order before the
# join, so the fact join is order-grain on both sides.


@register(
    "priority_ship_lag_profile",
    oracle="""
WITH first_ship AS (
  SELECT l_orderkey, MIN(l_shipdate) AS ship_dt
  FROM lineitem GROUP BY l_orderkey
)
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       quantile_cont(date_diff('day', CAST(o.o_orderdate AS DATE),
                               CAST(f.ship_dt AS DATE)), 0.5) AS p50_lag,
       quantile_cont(date_diff('day', CAST(o.o_orderdate AS DATE),
                               CAST(f.ship_dt AS DATE)), 0.95) AS p95_lag,
       CAST(MAX(date_diff('day', CAST(o.o_orderdate AS DATE),
                          CAST(f.ship_dt AS DATE))) AS BIGINT) AS max_lag
FROM orders o JOIN first_ship f ON o.o_orderkey = f.l_orderkey
GROUP BY o.o_orderpriority
""",
)
def priority_ship_lag_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("ship_dt")
    )
    lag = F.datediff(
        F.col("ship_dt").cast("date"), F.col("o_orderdate").cast("date")
    )
    return (
        orders.join(first_ship, orders.o_orderkey == first_ship.l_orderkey)
        .select("o_orderpriority", lag.alias("_lag"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("percentile(_lag, 0.5)").alias("p50_lag"),
            F.expr("percentile(_lag, 0.95)").alias("p95_lag"),
            F.max("_lag").cast("long").alias("max_lag"),
        )
    )

"""Join operators (extension surface X-join-*, SURVEY.md §2.9).

The reference performs no data-table joins (SURVEY.md §2.3) — its only
join-shaped op is the incremental anti-join (relational.py). The driver's
star-schema corpus mandates full join coverage; every plan here is
written for the 100 TB shape:

- constant-size dimensions (region: 5 rows, nation: 25 rows — fixed at
  ANY scale factor) carry an explicit ``broadcast()`` hint, so the big
  fact table never shuffles for them;
- SF-scaled tables (customer/supplier/part) get NO forced hint: at 100x
  they blow past any executor's broadcast budget, and a hint bypasses
  AQE's size check (OOM instead of a graceful shuffle join). AQE still
  picks broadcast for them at local scale from measured stats — same
  local plan, safe remote plan;
- fact-to-fact joins (lineitem ⨝ orders) shuffle on the join key — at
  scale the win is bucketing both tables on orderkey at write time
  (see sources/parquet_io.py), which Catalyst turns into a zero-shuffle
  sort-merge join; AQE handles residual skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from ..catalog import knuth_hash as _knuth_hash
from ..catalog import load_table
from ..catalog import oracle_knuth_hash as _oracle_knuth_hash
from ..functions.exact import (
    REV_D,
    davg,
    dsum,
    oracle_davg,
    oracle_dsum,
    oracle_rev_scaled,
    oracle_unscale,
    partial_by_partition,
    rev_scaled,
    scaled_long,
    spark_rev_scaled,
    spark_unscale,
    unscale,
)
from ..registry import register

# --- star join: revenue per region/nation ------------------------------------
# lineitem ⨝ orders (fact-fact, shuffle on orderkey) then customer →
# nation → region. nation/region are constant-size (25/5 rows) at ANY
# scale factor, so those broadcasts are hinted explicitly. customer is
# fact-scaled: a forced broadcast hint would bypass AQE's size check and
# OOM a 100x run, so AQE decides it from measured stats (it still
# broadcasts at local scale, same plan — see EXPLAINS.md).


@register(
    "star_join_revenue",
    oracle=f"""
SELECT
  r.r_name AS region_name,
  n.n_name AS nation_name,
  {oracle_unscale(f"SUM({oracle_rev_scaled('l.l_extendedprice', 'l.l_discount')})", REV_D, 2)} AS revenue,
  COUNT(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
""",
    headline=True,
)
def star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    # join predicates as parsed strings (round 15 string-twin pass):
    # all key names are globally unique across the five tables, so the
    # by-name resolution binds the identical attributes the qualified
    # Column form did — one parser trip per predicate
    joined = (
        li.join(orders, F.expr("l_orderkey = o_orderkey"))
        .join(cust, F.expr("o_custkey = c_custkey"))
        .join(F.broadcast(nation), F.expr("c_nationkey = n_nationkey"))
        .join(F.broadcast(region), F.expr("n_regionkey = r_regionkey"))
    )
    # 25 (region, nation) groups ← billions of fact rows at scale:
    # two-level scaled-LONG sum (see functions/exact.py overflow budget).
    return (
        partial_by_partition(
            joined,
            [(F.col("r_name"), "region_name"), (F.col("n_name"), "nation_name")],
        )
        .sum_scaled(spark_rev_scaled(), REV_D, "revenue")
        .count("n_items")
        .finish()
    )


# --- broadcast equi-join: brand-level part pricing ---------------------------


@register(
    "join_part_pricing",
    oracle=f"""
SELECT
  p.p_brand AS brand,
  {oracle_dsum("l.l_quantity", 0)} AS sum_qty,
  {oracle_davg("l.l_extendedprice")} AS avg_price,
  COUNT(*) AS n_items
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
""",
)
def join_part_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # quantity (<=50/row) and cents (<=1e7/row) stay inside int64 for any
    # realistic rows-per-brand — single-level scaled-LONG sums suffice.
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            dsum("l_quantity", 0).alias("sum_qty"),
            davg("l_extendedprice").alias("avg_price"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --- TPC-H Q3 shape: shipping priority (join + agg + global top-k) -----------


@register(
    "q3_shipping_priority",
    headline=True,
    oracle=f"""
SELECT l.l_orderkey,
       {oracle_unscale(f"SUM({oracle_rev_scaled('l.l_extendedprice', 'l.l_discount')})", REV_D, 2)} AS revenue,
       o.o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = "TIMESTAMP '1995-03-15 00:00:00'"
    co = (
        cust.filter("c_mktsegment = 'BUILDING'")
        .join(orders, F.expr("c_custkey = o_custkey"))
        .filter(f"o_orderdate < {cutoff}")
    )
    # size-gated broadcast of the filtered cust⋈orders side (round 15,
    # same gate style as the dedup verify joins): the INITIAL plan is
    # already 2 BroadcastHashJoin at this scale, but AQE re-derives it
    # from runtime stats, serializing the lineitem join behind the
    # cust⋈orders stage barrier — the static hint skips that wait
    # (interleaved A/B best 0.48 vs 0.83, median 0.61 vs 0.97 at
    # sf0.1; outputs identical). Gated on the UNFILTERED orders bytes
    # (filters/projection only shrink the side), so past the catalog
    # gate the hint disappears and AQE keeps the runtime choice.
    orders_bytes = catalog.table_file_bytes(spark, sf_dir, "orders")
    if orders_bytes <= catalog.BROADCAST_MAX_BYTES:
        co = F.broadcast(co)
    # per-order groups are bounded (~7 lines/order) → single-level LONG
    return (
        co
        .join(li, F.expr("l_orderkey = o_orderkey"))
        .filter(f"l_shipdate > {cutoff}")
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.expr(
                spark_unscale(f"SUM({spark_rev_scaled()})", REV_D, 2)
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


# --- TPC-H Q18 shape: large-quantity orders (HAVING over a join) -------------


@register(
    "q18_large_orders",
    oracle="""
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
       CAST(SUM(CAST(ROUND((l.l_quantity) * 1, 0) AS BIGINT)) AS DOUBLE) / 1.0 AS total_qty
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderkey, o.o_custkey, o.o_totalprice
HAVING SUM(CAST(ROUND((l.l_quantity) * 1, 0) AS BIGINT)) > 150
""",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # integer quantities: exact LONG sum, bounded per-order groups
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_custkey", "o_totalprice")
        .agg(F.sum(scaled_long("l_quantity", 0)).alias("_q"))
        .filter(F.col("_q") > 150)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            unscale("_q", 0, None).alias("total_qty"),
        )
    )


# --- TPC-H Q4 shape: order priority checking (correlated EXISTS + agg) -------


@register(
    "q4_order_priority",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1995-04-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY o_orderpriority
""",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    window = orders.filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-04-01 00:00:00").cast("timestamp"))
    )
    # correlated EXISTS with a non-equi term → semi join on the key with
    # the l_shipdate > o_orderdate condition folded into the join predicate
    late = window.join(
        li,
        (window.o_orderkey == li.l_orderkey) & (li.l_shipdate > window.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


# --- TPC-H Q10 shape: returned-item revenue by customer (top 20) -------------


@register(
    "q10_returned_revenue",
    oracle=f"""
SELECT c.c_custkey, c.c_name,
       {oracle_unscale(f"SUM({oracle_rev_scaled('l.l_extendedprice', 'l.l_discount')})", REV_D, 2)} AS revenue,
       c.c_acctbal
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""",
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # per-customer groups are bounded (O(100) orders) → single-level LONG
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        # customer is fact-scaled — no forced broadcast; AQE decides
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "c_acctbal")
        .agg(unscale(F.sum(rev_scaled()), REV_D, 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal")
    )


# --- TPC-H Q14 shape: promotion revenue ratio --------------------------------
# Ratio of two exact decimal sums (conditional numerator / total) — one
# double division over bit-identical operands, round(6).


_Q14_REV = oracle_rev_scaled("l.l_extendedprice", "l.l_discount")


@register(
    "q14_promo_revenue",
    oracle=f"""
SELECT ROUND(
  CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%' THEN {_Q14_REV}
           ELSE CAST(0 AS BIGINT) END) AS DOUBLE)
  / CAST(SUM({_Q14_REV}) AS DOUBLE)
  * 100.0, 6) AS promo_revenue_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1995-10-01 00:00:00'
""",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # ratio of two exact scaled-LONG sums (scale cancels): numerator and
    # denominator both two-level (single global group at any data size)
    rev = rev_scaled()
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(
        F.lit(0).cast("long")
    )
    window = li.filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01 00:00:00").cast("timestamp"))
    )
    joined = window.join(part, window.l_partkey == part.p_partkey)
    return (
        partial_by_partition(joined, [])
        .sum_long(promo, "_promo")
        .sum_long(rev, "_rev")
        .finish()
        .select(
            F.round(
                F.col("_promo").cast("double") / F.col("_rev").cast("double") * 100.0,
                6,
            ).alias("promo_revenue_pct")
        )
    )


# --- semi join: EXISTS --------------------------------------------------------
# Orders that contain at least one high-quantity line. LEFT SEMI keeps
# the probe side only — no row multiplication, dedup-free.


@register(
    "semi_join_orders",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
)
""",
)
def semi_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = li.filter(F.col("l_quantity") > 45)
    return orders.join(
        big, orders.o_orderkey == big.l_orderkey, "left_semi"
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


# --- outer join with null handling -------------------------------------------
# Customer order stats including order-less customers (LEFT OUTER +
# coalesce): the dim side is the probe here, fact side aggregated first
# (pre-aggregate before the join = the scalable shape; joining raw
# lineitem then grouping would shuffle the full fact table twice).


@register(
    "outer_join_customer_orders",
    oracle=f"""
SELECT
  c.c_custkey,
  c.c_mktsegment,
  COALESCE(os.n_orders, 0) AS n_orders,
  COALESCE(os.total_spent, 0.0) AS total_spent
FROM customer c
LEFT JOIN (
  SELECT o_custkey, COUNT(*) AS n_orders,
         {oracle_dsum("o_totalprice")} AS total_spent
  FROM orders GROUP BY o_custkey
) os ON c.c_custkey = os.o_custkey
""",
)
def outer_join_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    os_agg = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total_spent"),
    )
    return cust.join(os_agg, cust.c_custkey == os_agg.o_custkey, "left").select(
        "c_custkey",
        "c_mktsegment",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("total_spent", F.lit(0.0)).alias("total_spent"),
    )


# --- explicit cross join (bounded calendar matrix) ---------------------------
# The one join type the suite hadn't spelled out. Legitimate only when
# one side is tiny and bounded (here: 5 regions x distinct order
# quarters) — the dense matrix that reporting layers join facts onto so
# empty cells exist. Spark plans BroadcastNestedLoopJoin; at scale the
# region side broadcasts and the cost stays |quarters| x |regions|.


@register(
    "cross_join_region_quarters",
    oracle="""
WITH q AS (
  SELECT DISTINCT CAST(year(o_orderdate) AS INT) AS yr,
         CAST(quarter(o_orderdate) AS INT) AS qtr
  FROM orders
)
SELECT r.r_name AS region_name, q.yr, q.qtr
FROM region r CROSS JOIN q
""",
)
def cross_join_region_quarters(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    orders = load_table(spark, sf_dir, "orders")
    quarters = orders.select(
        F.year(F.to_date("o_orderdate")).alias("yr"),
        F.quarter(F.to_date("o_orderdate")).alias("qtr"),
    ).distinct()
    return region.select(F.col("r_name").alias("region_name")).crossJoin(quarters)


# --- market-basket pair affinity ---------------------------------------------
# Co-occurrence mining: which part pairs ship together in the same
# order, ranked by support. Two guards make the within-order pair-gen
# scale-safe AND semantically right (both mirrored in the oracle, both
# non-binding at test scales — no duplicate (order, part) rows and max
# basket 17 < 32):
#   1. DISTINCT parts per order first — "n_orders" support must count
#      an order once per pair, not once per line-combination (a part
#      repeated in an order would otherwise multiply the count);
#   2. a 32-part membership cap per basket — an uncapped hot basket (a
#      popular session, or any replicated input: the @x100 sweep read
#      7.8×/decade, 700-item baskets → 245k pairs each) pairs
#      quadratically in its size. Same bounded-block principle as the
#      dedup caps. The cap ORDER is a deterministic multiplicative hash
#      of the partkey, NOT a partkey prefix: a prefix cap would bias
#      support systematically toward low partkeys on >cap baskets,
#      whereas the hash picks a pseudo-random-but-reproducible 32-part
#      sample per basket, so reported support is capped-basket SAMPLE
#      support with no systematic key bias (exact whenever the basket
#      fits the cap — every TPC-H basket does, max 17 parts).
# Top-20 by (support, pair) lands in TakeOrderedAndProject — no global
# sort.

_BASKET_CAP = 32


@register(
    "basket_part_pairs",
    oracle=f"""
WITH d AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
c AS (
  SELECT l_orderkey, l_partkey,
         ROW_NUMBER() OVER (
           PARTITION BY l_orderkey
           ORDER BY {_oracle_knuth_hash('l_partkey')}, l_partkey) AS rn
  FROM d
)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       COUNT(*) AS n_orders
FROM c a JOIN c b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
WHERE a.rn <= {_BASKET_CAP} AND b.rn <= {_BASKET_CAP}
GROUP BY a.l_partkey, b.l_partkey
ORDER BY n_orders DESC, part_a, part_b
LIMIT 20
""",
)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import cap_per_group

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    # hash-ordered cap (see header note 2): pseudo-random deterministic
    # sample per basket, no systematic low-partkey bias
    capped = cap_per_group(
        li,
        ["l_orderkey"],
        [_knuth_hash("l_partkey"), F.col("l_partkey")],
        _BASKET_CAP,
    )
    a = capped.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
    )
    b = capped.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b")
    )
    return (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(20)
    )

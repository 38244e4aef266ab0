"""TPC-H shape completion: the 17 decision-support query shapes not
already covered by the registry's core (Q1=q1_pricing_summary,
Q3=q9_shipping_priority, Q5=q1a_local_supplier_volume,
Q6=q1b_forecast_revenue, Q10=q10_star_join_revenue).

The fixture is a TRIMMED TPC-H (TESTDATA.md): no partsupp table and no
l_commitdate / l_receiptdate / l_shipmode / o_comment / c_phone /
p_container columns. Each query here keeps the ORIGINAL query's
logical shape — the join topology, subquery nesting, and aggregate
structure that exercise the optimizer — with predicates adapted to
the columns that exist; the adaptation is documented per query.

Scale notes (common to the family):
- Every monetary aggregate routes through functions.exact (scaled-long
  sums) so Spark's partial/final aggregation and DuckDB's scan-order
  sum agree bit-for-bit — and every THRESHOLD comparison against an
  aggregate (Q11's fraction-of-total, Q15's max, Q17's 0.2*avg,
  Q18's sum>k, Q22's global avg) is performed on the scaled BIGINT
  itself, never the rounded double, so boundary rows can't flip
  between engines.
- Scalar subqueries (total revenue, global max, global avg) become
  1-row aggregates cross-joined via broadcast: one job, no driver
  collect, no recomputation per row.
- Dimension joins (part 2k rows, supplier 100, nation 25, customer
  1.5k/SF) are broadcast; only lineitem⋈orders shuffles, on the key
  both sides already share.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fcs_etl_reactor_spark.functions.exact import davg, dsum, o_davg, o_dsum
from fcs_etl_reactor_spark.io import load
from fcs_etl_reactor_spark.queries import query


def _scaled(col, scale: int = 100):
    """Exact scaled-long addend (see functions.exact): monetary and
    quantity columns have ≤2 true decimals, so scale=100 is exact and
    the long accumulator holds ~1e12 rows per group."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * F.lit(float(scale)) + F.lit(0.5)).cast("long")


def _o_scaled(expr: str, scale: int = 100) -> str:
    return f"CAST(FLOOR(({expr}) * {float(scale)} + 0.5) AS BIGINT)"


# --------------------------------------------------------------------------
# qt02 — TPC-H Q2 shape: min-cost supplier (correlated MIN subquery).
# Adaptation: no partsupp, so the part↔supplier relation is the set of
# DISTINCT (l_partkey, l_suppkey) pairs observed in lineitem, and
# "cost" is s_acctbal (raw column, no arithmetic → exact equality is
# safe). The correlated MIN becomes a per-part window MIN — one
# shuffle on partkey instead of a rescan per row.
# --------------------------------------------------------------------------


@query(
    "qt02_min_cost_supplier",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    costed AS (
      SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, s_nationkey
      FROM part JOIN ps ON p_partkey = l_partkey
                JOIN supplier ON s_suppkey = l_suppkey
      WHERE p_type = 'STANDARD' AND p_size <= 10
    )
    SELECT p_partkey, p_name, s_name, s_acctbal, n_name
    FROM costed JOIN nation ON s_nationkey = n_nationkey
    WHERE s_acctbal = (SELECT MIN(c2.s_acctbal) FROM costed c2
                       WHERE c2.p_partkey = costed.p_partkey)
    """,
)
def qt02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    ps = l.select("l_partkey", "l_suppkey").distinct()
    costed = (
        p.filter((F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10))
        .join(ps, F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        costed.withColumn("min_bal", F.min("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("min_bal"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("p_partkey", "p_name", "s_name", "s_acctbal", "n_name")
    )


# --------------------------------------------------------------------------
# qt04 — TPC-H Q4 shape: order-priority checking (EXISTS semi-join +
# agg). Adaptation: "l_commitdate < l_receiptdate" (a late line)
# becomes "l_shipdate > o_orderdate + 30 days" — same semantics (the
# order had at least one slow line), expressed against the surviving
# columns. The EXISTS is a left-semi join with a non-equi residual.
# --------------------------------------------------------------------------


@query(
    "qt04_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    """,
)
def qt04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    l = load(spark, sf_dir, "lineitem")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    )
    return (
        o.join(l, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# --------------------------------------------------------------------------
# qt07 — TPC-H Q7 shape: volume shipping between a nation pair (double
# nation join, OR-of-pairs predicate, year breakdown). Adaptation:
# ship year from l_shipdate (the column survives); pair chosen so both
# directions are populated.
# --------------------------------------------------------------------------


@query(
    "qt07_nation_volume",
    oracle=f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
           {o_dsum("l_extendedprice * (1 - l_discount)", "revenue")}
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE (sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_8')
       OR (sn.n_name = 'NATION_8' AND cn.n_name = 'NATION_3')
    GROUP BY 1, 2, 3
    """,
)
def qt07_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_8")
    ) | ((F.col("supp_nation") == "NATION_8") & (F.col("cust_nation") == "NATION_3"))
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


# --------------------------------------------------------------------------
# qt08 — TPC-H Q8 shape: national market share (case-weighted share of
# a revenue total per year). Adaptation: market = customers in region
# ASIA, focal supplier nation NATION_5, part type ECONOMY. The share
# is a ratio of two exact scaled sums → bit-identical across engines.
# --------------------------------------------------------------------------


@query(
    "qt08_market_share",
    oracle=f"""
    WITH vol AS (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             sn.n_name AS supp_nation
      FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region   ON cn.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN part     ON l_partkey = p_partkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_5'
                         THEN {_o_scaled("volume")} ELSE 0 END) AS DOUBLE)
           / CAST(SUM({_o_scaled("volume")}) AS DOUBLE) AS mkt_share
    FROM vol GROUP BY o_year
    """,
)
def qt08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    scaled = _scaled(volume)
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(
            F.broadcast(r.filter(F.col("r_name") == "ASIA")),
            F.col("cn_region") == F.col("r_regionkey"),
        )
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_5", scaled).otherwise(
                        F.lit(0)
                    )
                ).cast("double")
                / F.sum(scaled).cast("double")
            ).alias("mkt_share")
        )
    )


# --------------------------------------------------------------------------
# qt09 — TPC-H Q9 shape: product-type profit by nation and year.
# Adaptation: no ps_supplycost, so cost is modeled from the part dim
# as 0.4 * p_retailprice per unit; part filter is the surviving
# adjective prefix of p_name ('red %'). Expression association is
# written identically on both sides so the scaled-long rounding sees
# bit-identical doubles.
# --------------------------------------------------------------------------


@query(
    "qt09_product_profit",
    oracle=f"""
    SELECT n_name AS nation,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
           {o_dsum(
               "l_extendedprice * (1 - l_discount)"
               " - 0.4 * p_retailprice * l_quantity",
               "sum_profit",
           )}
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN part     ON l_partkey = p_partkey
    WHERE p_name LIKE 'red %'
    GROUP BY 1, 2
    """,
)
def qt09_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("red %"))
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        0.4
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(dsum(profit, "sum_profit"))
    )


# --------------------------------------------------------------------------
# qt11 — TPC-H Q11 shape: important stock (group agg filtered by a
# FRACTION-OF-GLOBAL-TOTAL scalar subquery). Adaptation: no partsupp,
# so "stock value" is revenue per part from suppliers in nations 0-9.
# The HAVING comparison runs on scaled BIGINTs: part_value * 10000 >
# grand_total — integer math, no boundary drift.
# --------------------------------------------------------------------------


@query(
    "qt11_important_parts",
    oracle=f"""
    WITH pv AS (
      SELECT l_partkey,
             SUM({_o_scaled("l_extendedprice * (1 - l_discount)")}) AS v
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      WHERE s_nationkey < 10
      GROUP BY l_partkey
    )
    SELECT l_partkey, CAST(v AS DOUBLE) / 100.0 AS part_value
    FROM pv WHERE v * 10000 > (SELECT SUM(v) FROM pv)
    """,
)
def qt11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 10)
    pv = (
        l.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(_scaled(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("v"))
    )
    total = pv.agg(F.sum("v").alias("grand_total"))
    return (
        pv.join(F.broadcast(total))
        .filter(F.col("v") * 10000 > F.col("grand_total"))
        .select(
            "l_partkey", (F.col("v").cast("double") / 100.0).alias("part_value")
        )
    )


# --------------------------------------------------------------------------
# qt12 — TPC-H Q12 shape: shipping-mode priority counts (join + dual
# conditional aggregate). Adaptation: no l_shipmode/commitdate, so the
# grouping key is the ship-lag bucket datediff(l_shipdate,
# o_orderdate) ∈ {≤7 fast, ≤30 medium, else slow} — same two-level
# CASE aggregate over the orders⋈lineitem join.
# --------------------------------------------------------------------------


@query(
    "qt12_ship_lag_priority",
    oracle="""
    SELECT CASE WHEN DATE_DIFF('day', o_orderdate, l_shipdate) <= 7 THEN 'fast'
                WHEN DATE_DIFF('day', o_orderdate, l_shipdate) <= 30 THEN 'medium'
                ELSE 'slow' END AS lag_bucket,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1
    """,
)
def qt12_ship_lag_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    lag = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(lag <= 7, "fast").when(lag <= 30, "medium").otherwise("slow")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(bucket.alias("lag_bucket"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------------
# qt13 — TPC-H Q13 shape: customer order-count distribution (filtered
# LEFT join + double aggregation). Adaptation: the o_comment NOT LIKE
# filter becomes o_orderpriority <> '4-NOT SPECIFIED' — any join-side
# predicate preserves the shape (customers with zero qualifying orders
# must still appear, with c_count = 0).
# --------------------------------------------------------------------------


@query(
    "qt13_custdist",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c_custkey
    ) GROUP BY c_count
    """,
)
def qt13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    joined = c.join(
        o,
        (F.col("c_custkey") == F.col("o_custkey"))
        & (F.col("o_orderpriority") != "4-NOT SPECIFIED"),
        "left",
    )
    return (
        joined.groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


# --------------------------------------------------------------------------
# qt14 — TPC-H Q14 shape: promotion-revenue percentage (single-row
# conditional ratio over a month of shipments). p_type = 'PROMO'
# survives verbatim (the fixture's types are un-suffixed). Ratio of
# two exact scaled sums → deterministic double.
# --------------------------------------------------------------------------


@query(
    "qt14_promo_revenue",
    oracle=f"""
    SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                       THEN {_o_scaled("l_extendedprice * (1 - l_discount)")}
                       ELSE 0 END) AS DOUBLE)
           / CAST(SUM({_o_scaled("l_extendedprice * (1 - l_discount)")})
                  AS DOUBLE) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
    """,
)
def qt14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part")
    scaled = _scaled(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", scaled).otherwise(F.lit(0))
                ).cast("double")
                / F.sum(scaled).cast("double")
            ).alias("promo_revenue_pct")
        )
    )


# --------------------------------------------------------------------------
# qt15 — TPC-H Q15 shape: top supplier (revenue view + scalar MAX
# equality). The view is the quarter's revenue per supplier; the
# original's revenue0 view + WHERE total = (SELECT MAX...) becomes an
# agg + 1-row broadcast max compared on scaled BIGINTs (exact — ties
# would surface BOTH suppliers in both engines, as in the spec).
# --------------------------------------------------------------------------


@query(
    "qt15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM({_o_scaled("l_extendedprice * (1 - l_discount)")}) AS total_sc
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_sc AS DOUBLE) / 100.0 AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_sc = (SELECT MAX(total_sc) FROM revenue)
    """,
)
def qt15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = load(spark, sf_dir, "supplier")
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_scaled(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "total_sc"
        )
    )
    mx = revenue.agg(F.max("total_sc").alias("max_sc"))
    return (
        revenue.join(F.broadcast(mx))
        .filter(F.col("total_sc") == F.col("max_sc"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("total_sc").cast("double") / 100.0).alias("total_revenue"),
        )
    )


# --------------------------------------------------------------------------
# qt16 — TPC-H Q16 shape: parts/supplier relationship count (DISTINCT
# agg over excluded attribute sets + NOT IN anti-join). Adaptation:
# the part↔supplier relation comes from lineitem; the "customer
# complaints" exclusion becomes suppliers whose name ends in '7'.
# --------------------------------------------------------------------------


@query(
    "qt16_supplier_part_counts",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 16, 25, 36, 49, 50)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_name LIKE '%7')
    GROUP BY p_brand, p_type, p_size
    """,
)
def qt16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49, 50)
    )
    bad = load(spark, sf_dir, "supplier").filter(F.col("s_name").like("%7"))
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


# --------------------------------------------------------------------------
# qt17 — TPC-H Q17 shape: small-quantity-order revenue (correlated
# per-part AVG). Adaptation: p_container → p_size < 5. The correlated
# 0.2*AVG comparison is cross-multiplied onto scaled BIGINTs:
#   qty < 0.2 * sum/cnt  ⇔  5 * qty_scaled * cnt < sum_scaled
# so the boundary is integer-exact in both engines. The per-part
# stats aggregate is broadcast back (|part| rows, tiny).
# --------------------------------------------------------------------------


@query(
    "qt17_small_qty_revenue",
    oracle=f"""
    WITH stats AS (
      SELECT l_partkey AS sp, COUNT(*) AS cnt,
             SUM({_o_scaled("l_quantity")}) AS sumq
      FROM lineitem GROUP BY l_partkey
    )
    SELECT {o_dsum("l_extendedprice", "small_qty_revenue", "100.0")}
    FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN stats ON l_partkey = sp
    WHERE p_brand = 'Brand#15' AND p_size < 5
      AND 5 * {_o_scaled("l_quantity")} * cnt < sumq
    """,
)
def qt17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#15") & (F.col("p_size") < 5)
    )
    stats = l.groupBy(F.col("l_partkey").alias("sp")).agg(
        F.count(F.lit(1)).alias("cnt"), F.sum(_scaled("l_quantity")).alias("sumq")
    )
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(stats), F.col("l_partkey") == F.col("sp"))
        .filter(F.lit(5) * _scaled("l_quantity") * F.col("cnt") < F.col("sumq"))
        .agg(dsum("l_extendedprice", "small_qty_revenue", scale=100.0))
    )


# --------------------------------------------------------------------------
# qt18 — TPC-H Q18 shape: large-volume customers (IN subquery with
# GROUP BY ... HAVING over the fact table, then re-join + re-agg).
# Threshold 250 (fixture orders average ~103 units). The HAVING runs
# on scaled BIGINTs; the top-100 is tie-broken by unique o_orderkey
# so LIMIT picks the same set in both engines.
# --------------------------------------------------------------------------


@query(
    "qt18_volume_customers",
    oracle=f"""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           {o_dsum("l_quantity", "sum_qty", "100.0")}
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM({_o_scaled("l_quantity")}) > 25000
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
)
def qt18_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(_scaled("l_quantity")).alias("sq"))
        .filter(F.col("sq") > 25000)
        .select("l_orderkey")
    )
    return (
        o.join(big.withColumnRenamed("l_orderkey", "bk"), F.col("o_orderkey") == F.col("bk"), "left_semi")
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum("l_quantity", "sum_qty", scale=100.0))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


# --------------------------------------------------------------------------
# qt19 — TPC-H Q19 shape: discounted revenue under an OR-of-AND-blocks
# predicate spanning both join sides (the classic disjunctive
# join-predicate pushdown test). Adaptation: the container/shipmode
# legs become p_size bands.
# --------------------------------------------------------------------------


@query(
    "qt19_disjunctive_revenue",
    oracle=f"""
    SELECT {o_dsum("l_extendedprice * (1 - l_discount)", "revenue")}
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def qt19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    leg = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(
            leg("Brand#12", 5, 1, 11)
            | leg("Brand#23", 10, 10, 20)
            | leg("Brand#34", 15, 20, 30)
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


# --------------------------------------------------------------------------
# qt20 — TPC-H Q20 shape: suppliers with excess stock (nested
# semi-join chain: supplier ← has (part,supp) group over a filtered
# part set whose year-total exceeds a threshold). Adaptation: 'red%'
# parts, shipped-quantity total in 1997 > 50 units, nations 0-4.
# --------------------------------------------------------------------------


@query(
    "qt20_excess_suppliers",
    oracle=f"""
    SELECT s_name, s_acctbal
    FROM supplier
    WHERE s_nationkey < 5
      AND s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_name LIKE 'red%')
          AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_suppkey, l_partkey
        HAVING SUM({_o_scaled("l_quantity")}) > 5000
      )
    """,
)
def qt20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 5)
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    red = load(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    excess = (
        l.join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(_scaled("l_quantity")).alias("sq"))
        .filter(F.col("sq") > 5000)
        .select("l_suppkey")
        .distinct()
    )
    return s.join(
        F.broadcast(excess), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
    ).select("s_name", "s_acctbal")


# --------------------------------------------------------------------------
# qt21 — TPC-H Q21 shape: suppliers who kept orders waiting (EXISTS +
# NOT EXISTS against the SAME fact table with different correlations —
# the hardest subquery shape in the suite). Adaptation: "late" is
# l_shipdate > o_orderdate + 60 days. A supplier is counted for an
# order when: the order is finalized ('F'), this supplier shipped
# late on it, some OTHER supplier is on the order, and NO other
# supplier shipped late. numwait counts distinct such orders.
# Spark plan: distinct (order,supplier) pair sets + semi/anti joins —
# every join shuffles on l_orderkey only.
# --------------------------------------------------------------------------


@query(
    "qt21_waiting_suppliers",
    oracle="""
    WITH late AS (
      SELECT DISTINCT l_orderkey, l_suppkey
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
        AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    ),
    anyl AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
    SELECT s_name, COUNT(*) AS numwait
    FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
    WHERE EXISTS (SELECT 1 FROM anyl l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name LIMIT 20
    """,
)
def qt21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load(spark, sf_dir, "supplier")
    late = (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    anyl = l.select(
        F.col("l_orderkey").alias("a_orderkey"), F.col("l_suppkey").alias("a_suppkey")
    ).distinct()
    late2 = late.select(
        F.col("l_orderkey").alias("b_orderkey"), F.col("l_suppkey").alias("b_suppkey")
    )
    waited = (
        late.join(
            anyl,
            (F.col("a_orderkey") == F.col("l_orderkey"))
            & (F.col("a_suppkey") != F.col("l_suppkey")),
            "left_semi",
        )
        .join(
            late2,
            (F.col("b_orderkey") == F.col("l_orderkey"))
            & (F.col("b_suppkey") != F.col("l_suppkey")),
            "left_anti",
        )
    )
    return (
        waited.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# qt22 — TPC-H Q22 shape: global-sales-opportunity (scalar AVG
# subquery + NOT EXISTS anti-join + re-agg). Adaptation: the phone
# country code becomes c_nationkey % 5, and "has no orders" becomes
# "has no orders since 1999" (every fixture customer has at least one
# lifetime order, so the verbatim predicate returns the empty set —
# a vacuous oracle); the AVG threshold comparison is cross-multiplied
# onto scaled BIGINTs (bal*cnt > sum) so the boundary is
# integer-exact.
# --------------------------------------------------------------------------


@query(
    "qt22_idle_customers",
    oracle=f"""
    WITH pos AS (
      SELECT COUNT(*) AS cnt, SUM({_o_scaled("c_acctbal")}) AS sumbal
      FROM customer
      WHERE c_acctbal > 0.0 AND c_nationkey % 5 IN (0, 2, 3)
    )
    SELECT CAST(c_nationkey % 5 AS INTEGER) AS cntrycode,
           COUNT(*) AS numcust,
           {o_dsum("c_acctbal", "totacctbal", "100.0")}
    FROM customer, pos
    WHERE c_nationkey % 5 IN (0, 2, 3)
      AND {_o_scaled("c_acctbal")} * cnt > sumbal
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    GROUP BY 1
    """,
)
def qt22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").filter(
        (F.col("c_nationkey") % 5).isin(0, 2, 3)
    )
    o = load(spark, sf_dir, "orders")
    pos = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.count(F.lit(1)).alias("cnt"), F.sum(_scaled("c_acctbal")).alias("sumbal")
    )
    return (
        c.join(F.broadcast(pos))
        .filter(_scaled("c_acctbal") * F.col("cnt") > F.col("sumbal"))
        .join(
            o.filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy((F.col("c_nationkey") % 5).cast("int").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal", "totacctbal", scale=100.0),
        )
    )

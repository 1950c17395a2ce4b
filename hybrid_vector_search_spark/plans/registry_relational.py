"""Relational breadth, streaming rollups, decontamination, vector aggregation, results-log analytics, TPC-H shapes, hybrid-over-IVF.

r11 mechanical split of plans/registry.py (r10 verdict task 7): this is a
contiguous slice of the original file, imported by the registry hub in
original order, so registration order, query names, and oracle SQL are
byte-identical to the single-file registry. Shared infra (register,
QUERIES/ORACLES, load_corpus, caches) stays in the hub; cross-family
helpers are imported explicitly below.
"""

from __future__ import annotations

from hybrid_vector_search_spark.operators import sampling as SP

from hybrid_vector_search_spark.functions import text as TX

import os
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from hybrid_vector_search_spark.functions.portable import (
    grid_avg,
    grid_avg_sql,
    round_portable,
    round_portable_sql,
)
from hybrid_vector_search_spark.functions.predicates import (
    compile_filters,
    filters_to_sql,
)
from hybrid_vector_search_spark.functions.vector import dot_score_pandas_udf
from hybrid_vector_search_spark.operators.topk import topk
from hybrid_vector_search_spark.queryvecs import query_vector, sql_array_literal
from hybrid_vector_search_spark.session import artifact
from hybrid_vector_search_spark.sources.loaders import (
    load_table,
    spread,
)

from hybrid_vector_search_spark.plans.registry import (  # noqa: E402
    CORPUS_CTE,
    load_corpus,
    register,
)
from hybrid_vector_search_spark.plans.registry_hybrid_ann import (  # noqa: E402
    ANN_IVF_K,
    _ann_ivf_centroids,
    _ann_ivf_fixed_index,
    _ann_ivf_probed,
)

# ----------------------------------------- relational breadth, batch 2
# More distinct plan shapes over the reduced TPC-H testdata: outer-join
# count distribution (Q13), max-over-aggregated-CTE (Q15), having-subquery
# semi-join (Q18), disjunctive multi-attribute pushdown (Q19), conditional
# market-share ratio (Q8), scalar-subquery + anti-join (Q22 shape), lag
# windows, and running totals. The reference has none of these (SURVEY.md
# §2.5-2.7 "absent"); they are the relational surface a 100 TB pipeline
# leans on daily.

_REV_GRID_SQL = round_portable_sql(
    round_portable_sql("SUM(l_extendedprice * (1 - l_discount))", 4), 2
)


def _rev_grid():
    """Order-stable 2-decimal revenue sum: summands live on a 4-decimal
    grid (2-dec price × 2-dec discount), so snapping the float sum to that
    grid collapses ULP noise before the display rounding."""
    expr = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return round_portable(round_portable(expr, 4), 2)


@register(
    "tpch_q13_customer_distribution",
    """SELECT c_count, COUNT(*) AS custdist
FROM (SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey) t
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC""",
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed how many orders — left
    outer join (order-less customers count as 0) into a double aggregation.
    The outer join shuffles on custkey; the second group-by re-aggregates
    the tiny (c_count, n) table, so the heavy shuffle happens exactly
    once."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy(cust.c_custkey)
        .agg(F.count(orders.o_orderkey).alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "tpch_q15_top_supplier",
    f"""WITH rev AS (
  SELECT l_suppkey AS supplier_no, {_REV_GRID_SQL} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN rev ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
ORDER BY s_suppkey""",
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: top supplier(s) by quarter revenue — an aggregated
    CTE compared against its own MAX (ties kept). The scalar subquery
    decorrelates to a single-row broadcast joined back to the per-supplier
    revenue table; the revenue grid-snap makes the equality comparison
    safe across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1996-04-01").cast("timestamp")
    rev = (
        li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .groupBy("l_suppkey")
        .agg(_rev_grid().alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("_mx"))
        .join(supp, rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q18_large_orders",
    """SELECT c_custkey, c_name, o_orderkey,
  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
  o_totalprice, total_qty
FROM orders
JOIN customer ON c_custkey = o_custkey
JOIN (SELECT l_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 200) big
  ON big.l_orderkey = o_orderkey
ORDER BY total_qty DESC, o_orderkey ASC
LIMIT 50""",
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold —
    the IN-subquery over a grouped HAVING decorrelated into an
    aggregate-then-join. The lineitem aggregate shuffles on orderkey and
    shrinks the fact ~4000× before it ever meets orders; quantities are
    integral doubles so the sum is exact in any order."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 200)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.col("total_qty").desc(), F.col("o_orderkey").asc())
        .limit(50)
    )


@register(
    "tpch_q19_disjunctive_revenue",
    f"""SELECT {_REV_GRID_SQL} AS revenue, COUNT(*) AS n_items
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#18' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)""",
)
def tpch_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across both join sides. Catalyst
    extracts the common single-side conjuncts (brand IN the three values,
    quantity within the hull) and pushes them below the join as scan
    filters, leaving only the residual disjunction on the joined rows —
    the classic disjunctive-pushdown test."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    qty = F.col("l_quantity")
    sz = F.col("p_size")
    br = F.col("p_brand")
    disj = (
        ((br == "Brand#12") & sz.between(1, 15) & qty.between(1, 11))
        | ((br == "Brand#18") & sz.between(1, 25) & qty.between(10, 20))
        | ((br == "Brand#23") & sz.between(1, 35) & qty.between(20, 30))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(disj)
        .agg(_rev_grid().alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


_Q8_NUM_SQL = round_portable_sql(
    "SUM(CASE WHEN n_name = 'NATION_2' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)",
    4,
)
_Q8_DEN_SQL = round_portable_sql("SUM(l_extendedprice * (1 - l_discount))", 4)


@register(
    "tpch_q8_market_share",
    f"""SELECT EXTRACT(year FROM o_orderdate)::BIGINT AS o_year,
  {round_portable_sql(f"{_Q8_NUM_SQL} / {_Q8_DEN_SQL}", 6)} AS mkt_share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
JOIN part ON l_partkey = p_partkey
WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
GROUP BY 1 ORDER BY o_year""",
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of ECONOMY-part revenue among
    ASIA suppliers, per order year — a six-table star join (all dims
    broadcast around the lineitem fact) feeding a conditional-aggregate
    ratio. Numerator and denominator are grid-snapped before the divide so
    the share is the same double in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    num = round_portable(
        F.sum(F.when(F.col("n_name") == "NATION_2", vol).otherwise(0.0)), 4
    )
    den = round_portable(F.sum(vol), 4)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            nation.n_regionkey == region.r_regionkey,
        )
        .join(
            F.broadcast(part.filter(F.col("p_type") == "ECONOMY")),
            li.l_partkey == part.p_partkey,
        )
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(round_portable(num / den, 6).alias("mkt_share"))
        .orderBy("o_year")
    )


@register(
    "idle_rich_customers",
    f"""WITH thresh AS (
  SELECT {grid_avg_sql('SUM(c_acctbal)', 'COUNT(*)', 2, 6)} AS avg_bal
  FROM customer WHERE c_acctbal > 0.0)
SELECT c_mktsegment, COUNT(*) AS n_cust,
  {round_portable_sql('SUM(c_acctbal)', 2)} AS total_bal
FROM customer, thresh
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_mktsegment ORDER BY c_mktsegment""",
)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape on the reduced schema: above-average-balance
    customers with no recent orders, profiled per market segment. A
    scalar-subquery threshold (single-row broadcast cross join) feeds an
    anti-join against the date-filtered orders scan; acctbal sums are
    2-decimal-grid values snapped portably."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    thresh = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(grid_avg(F.sum("c_acctbal"), F.count(F.lit(1)), 2, 6).alias("avg_bal"))
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return (
        cust.crossJoin(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            round_portable(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "events_user_interarrival",
    f"""WITH seq AS (
  SELECT event_type,
         epoch_us(ts) - LAG(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events)
SELECT event_type, COUNT(gap_us) AS n_gaps,
  {grid_avg_sql('SUM(gap_us)', 'COUNT(gap_us)', 0, 2)} AS avg_gap_us
FROM seq WHERE gap_us IS NOT NULL
GROUP BY event_type ORDER BY event_type""",
)
def events_user_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival gaps (lag window over the event stream,
    microsecond-exact integers), averaged per event type — the cadence
    statistic behind bot/burst detection. One shuffle on user_id for the
    window, one tiny re-aggregation; the integer sum makes the average
    portable via the 0-digit grid snap."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    seq = ev.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    )
    return (
        seq.filter(F.col("gap_us").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("gap_us").alias("n_gaps"),
            grid_avg(F.sum("gap_us"), F.count("gap_us"), 0, 2).alias(
                "avg_gap_us"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "events_daily_cumulative",
    f"""WITH d AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         COUNT(*) AS n_events,
         {round_portable_sql('SUM(value)', 2)} AS day_value
  FROM events GROUP BY 1, 2)
SELECT event_type, day, n_events,
  (SUM(n_events) OVER (PARTITION BY event_type ORDER BY day
                       ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_events,
  {round_portable_sql("SUM(day_value) OVER (PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING)", 2)} AS cum_value
FROM d ORDER BY event_type, day""",
)
def events_daily_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running totals per event type: daily aggregate then a cumulative
    window (ROWS UNBOUNDED PRECEDING) — the standard dashboard 'to-date'
    query. The window runs over the already-tiny per-day table and reuses
    the group-by's hash partitioning; daily sums are grid-snapped so the
    sequential running sum is bit-identical across engines."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    d = ev.select("event_type", day, "value").groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_events"),
        round_portable(F.sum("value"), 2).alias("day_value"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return d.select(
        "event_type",
        "day",
        "n_events",
        F.sum("n_events").over(w).alias("cum_events"),
        round_portable(F.sum("day_value").over(w), 2).alias("cum_value"),
    ).orderBy("event_type", "day")


# ----------------------------------------- relational breadth, batch 3
# The remaining classic TPC-H plan shapes expressible on the reduced
# testdata schema (no partsupp / shipmode / receiptdate columns exist, so
# Q2/Q11/Q12/Q20 are out of reach and Q9/Q16/Q17/Q21 are adapted shapes):
# two-sided nation disjunction (Q7), multi-dim profit rollup (Q9), distinct
# aggregation with a NOT-IN blacklist (Q16), correlated per-group average
# threshold (Q17), and double-correlated EXISTS/NOT-EXISTS decorrelated to
# one per-order aggregate (Q21).


@register(
    "tpch_q7_volume_shipping",
    f"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  EXTRACT(year FROM l_shipdate)::BIGINT AS l_year,
  {_REV_GRID_SQL} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, l_year""",
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: trade volume between two nations by year, with the
    nation dimension joined twice under different roles (supplier vs
    customer) and a cross-side disjunction. Both nation copies broadcast;
    the disjunction can only be evaluated after both joins, but the
    shipdate range prunes the fact scan first — the one big shuffle is
    lineitem⋈orders on orderkey."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1997-12-31").cast("timestamp")
    sn = F.col("supp_nation")
    cn = F.col("cust_nation")
    return (
        li.filter(F.col("l_shipdate").between(lo, hi))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .filter(
            ((sn == "NATION_1") & (cn == "NATION_2"))
            | ((sn == "NATION_2") & (cn == "NATION_1"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(_rev_grid().alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "tpch_q9_profit_by_nation_year",
    f"""SELECT n_name AS nation,
  EXTRACT(year FROM o_orderdate)::BIGINT AS o_year,
  {_REV_GRID_SQL} AS profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON o_orderkey = l_orderkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2 ORDER BY nation, o_year DESC""",
)
def tpch_q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted — no partsupp table, so profit is gross
    discounted revenue rather than revenue minus supplycost): per
    supplier-nation, per order-year profit on parts whose name matches a
    substring. The part filter broadcasts as a pre-filtered dimension so
    the fact scan shrinks before the orderkey shuffle; nation/supplier
    broadcast around it."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    red = part.filter(F.col("p_name").contains("red")).select("p_partkey")
    return (
        li.join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(_rev_grid().alias("profit"))
        .orderBy(F.col("nation").asc(), F.col("o_year").desc())
    )


@register(
    "tpch_q16_supplier_counts_by_part",
    """SELECT p_brand, p_type, p_size,
  COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#12'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 9, 13, 17, 21)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
)
def tpch_q16_supplier_counts_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (adapted — supplier blacklist keyed on negative
    account balance instead of the comment-text complaint scan, and part
    attributes reached through lineitem since partsupp doesn't exist):
    distinct-supplier counts per (brand, type, size) bucket. The NOT IN
    becomes a broadcast anti-join (safe: s_suppkey is non-null), the part
    predicate prunes the broadcast dimension before the fact join, and
    COUNT(DISTINCT) shuffles once on the group keys with partial
    de-duplication map-side."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    keep_part = part.filter(
        (F.col("p_brand") != "Brand#12")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    blacklist = supp.filter(F.col("s_acctbal") < 0.0).select("s_suppkey")
    return (
        li.join(F.broadcast(keep_part), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(blacklist),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


_Q17_SQL = round_portable_sql(
    f"{round_portable_sql('SUM(l_extendedprice)', 2)} / 7.0", 6
)


@register(
    "tpch_q17_small_quantity_revenue",
    f"""SELECT {_Q17_SQL} AS avg_yearly, COUNT(*) AS n_items
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#12'
  AND l_quantity < (SELECT 0.2 * (SUM(l_quantity) / COUNT(*))
                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""",
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (adapted — brand filter only, no container column):
    revenue from lineitems whose quantity is under 20% of their part's
    average. The correlated scalar subquery decorrelates to a per-part
    aggregate joined back to the fact; quantities are small integral
    doubles so SUM/COUNT is exact in any accumulation order and the 0.2×
    threshold is the same double in both engines — a strict `<` against it
    is portable. The per-part average is computed only over the brand's
    parts (lineitem is pre-joined to the brand-filtered part list before
    aggregating) — equivalent to the unfiltered correlated subquery since
    the correlation keys on p_partkey, and far cheaper: the aggregate runs
    on the ~1/25th of lineitem that survives the broadcast semi-join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    brand = part.filter(F.col("p_brand") == "Brand#12").select("p_partkey")
    per_part = (
        li.join(F.broadcast(brand), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey")
        .agg(
            (
                F.lit(0.2)
                * (F.sum("l_quantity") / F.count(F.lit(1)).cast("double"))
            ).alias("qty_threshold")
        )
        .select(F.col("l_partkey").alias("t_partkey"), "qty_threshold")
    )
    small = (
        li.join(F.broadcast(per_part), F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
    )
    return small.agg(
        round_portable(
            round_portable(F.sum("l_extendedprice"), 2) / 7.0, 6
        ).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "tpch_q21_sole_returned_supplier",
    """WITH per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END)
           AS n_ret_supp
  FROM lineitem GROUP BY 1)
SELECT s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN supplier ON s_suppkey = l1.l_suppkey
JOIN per_order ON per_order.l_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
  AND n_supp > 1 AND n_ret_supp = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20""",
)
def tpch_q21_sole_returned_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted — l_returnflag='R' stands in for the
    missing receipt-after-commit date comparison): suppliers who were the
    ONLY supplier with a returned line on a multi-supplier finalized
    order. The classic EXISTS + NOT-EXISTS self-join pair is decorrelated
    into ONE per-order aggregate (distinct suppliers, distinct returning
    suppliers) reused for both conditions — a single orderkey shuffle
    instead of two fact-to-fact semi/anti joins, the plan that survives a
    100× fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    # min/max stand in for COUNT(DISTINCT): >1 distinct ⇔ min≠max, and
    # exactly-1 distinct (non-null) ⇔ min=max non-null — same semantics
    # without the Expand duplication two distinct-aggregates would cost
    # (the oracle SQL keeps COUNT(DISTINCT) for readability; results are
    # identical)
    ret_supp = F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
    per_order = li.groupBy(F.col("l_orderkey").alias("po_orderkey")).agg(
        (F.min("l_suppkey") != F.max("l_suppkey")).alias("multi_supp"),
        (
            F.min(ret_supp).isNotNull()
            & (F.min(ret_supp) == F.max(ret_supp))
        ).alias("sole_ret"),
    )
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(per_order, F.col("l_orderkey") == F.col("po_orderkey"))
        .filter(F.col("multi_supp") & F.col("sole_ret"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


# ------------------------------------------------- streaming (oracle-checked)
# Structured Streaming entries, drained with trigger(availableNow) into a
# memory sink so they return a plain DataFrame the driver can compare.
# Complete-mode windowed aggregation and set-semantics dedup are
# DETERMINISTIC under replay, so — unusually for streaming — both carry a
# full DuckDB oracle rather than a rows-only check. At production scale
# the same plans run in append mode with the watermark bounding state;
# complete mode here keeps every window so the one-shot drain equals the
# batch answer exactly (streaming/pipeline.py docstrings).

# Fixed memory-sink table names: restarting a query with the same
# queryName REPLACES the temp view (verified: same row count across
# re-runs), so repeated bench/selfcheck invocations in one session reuse
# 4 bounded views instead of accumulating stream_*_<seq> tables in driver
# memory (ADVICE r1 #3).

# Landing-zone cache: the single-file testdata tables serialize the
# stream's first stateful exchange (every source task reads one split);
# materialize a defaultParallelism-file split once per (session, sf_dir)
# and point every streaming reader at it — the streaming twin of the
# batch spread() (VERDICT r2 #4).

# State partitioning for the availableNow drains: the bench/driver
# micro-batches hold ~1e5 rows, where the session's batch-sized shuffle
# partitioning (32) pays 32 state dirs + commit files + tasks per
# micro-batch for a few thousand groups. 4 keeps core overlap on the
# state stage while cutting the per-batch constant (r5 sweep at sf0.1,
# warm best-of-3: 16→1.13s, 8→0.81s, 4→0.69s, 2→0.61s — 4 is the knee
# before the ×8 probe's bigger micro-batches would serialize). A
# production deployment with a durable checkpoint sizes this ONCE at
# provisioning (state partitioning is immutable for a checkpoint's
# lifetime).
_STREAM_PARTS = 4


def _stream_parts(spark: SparkSession, sf_dir: str, factor: int = 1) -> int:
    """VOLUME-ADAPTIVE state partitioning for the availableNow drains:
    one state partition per ~25k landed event rows, clamped to
    [``_STREAM_PARTS``·factor, defaultParallelism]. At sf0.1 (100k
    events) this lands exactly on the r5-swept knee (4); the ×16 scale
    probe's 1.6M-row micro-batch fans its state stage across all cores
    instead of serializing on 4 partitions. ``factor`` preserves the
    queries tuned at 2× the base (stateful totals, the stream-stream
    join — bigger per-group state rows). A durable-checkpoint
    deployment runs this arithmetic ONCE at provisioning on expected
    micro-batch volume — state partitioning is immutable for the
    checkpoint's lifetime (run_available_now docstring)."""
    n = artifact(
        spark, ("stream_rows", sf_dir),
        lambda: load_table(spark, sf_dir, "events").count(),
    )
    try:
        cap = spark.sparkContext.defaultParallelism
    except Exception:  # Spark Connect: no SparkContext handle
        cap = 32
    return max(_STREAM_PARTS * factor, min(cap, -(-n // 25_000)))


def _sink_sorted(spark: SparkSession, table: str, *cols: str) -> DataFrame:
    """Read an in-memory sink table in total order. A memory-sink table
    is DRIVER-RESIDENT by construction — if it didn't fit one task, the
    drain design (buffering the full result on the driver) would be the
    bug, not the sort — so ``orderBy``'s range-partitioning sampling job
    + shuffle buys nothing over coalesce(1) + local sort (r6 A/B on the
    95k-row session sink: 0.89→0.30 s end-to-end with Arrow delivery).
    The r5 row-count gate that picked between the two is gone with its
    ~0.3 s ``count()`` job: the ×8 probe's largest sink (~760k session
    rows) still single-task-sorts in well under the shuffle's cost.
    Result-delivery only; the distributed work happened in the drain."""
    return spark.table(table).coalesce(1).sortWithinPartitions(*cols)


def _landing(spark: SparkSession, sf_dir: str, table: str = "events") -> str:
    from hybrid_vector_search_spark.streaming.pipeline import (
        materialize_landing,
    )

    return artifact(
        spark, ("landing", sf_dir, table),
        lambda: materialize_landing(spark, sf_dir, table),
    )


@register(
    "streaming_hourly_counts",
    f"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
    AS window_start,
  event_type, COUNT(*) AS n_events,
  {round_portable_sql('SUM(value)', 2)} AS sum_value
FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""",
side_effects=True,
)
def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window streaming aggregation over the events landing zone,
    drained via availableNow — the incremental-batch pattern ("run the
    stream until caught up"). Epoch-aligned 1h windows make window.start
    ≡ date_trunc('hour'), so the complete-mode result is exactly the
    batch GROUP BY: the batch/stream duality the engine promises
    (streaming/pipeline.py windowed_agg_stream is the watermarked
    production twin)."""
    from hybrid_vector_search_spark.streaming.pipeline import (
        TS_FMT,
        read_events_stream,
        run_available_now,
    )

    ev = read_events_stream(spark, _landing(spark, sf_dir, "events"))
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round_portable(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    table = "stream_hourly"
    run_available_now(
        agg,
        table,
        output_mode="complete",
        shuffle_partitions=_stream_parts(spark, sf_dir),
    )
    return _sink_sorted(spark, table, "window_start", "event_type")


@register(
    "streaming_dedup_fingerprints",
    f"""SELECT DISTINCT {TX.fingerprint_md5_sql('text')} AS fingerprint
FROM documents ORDER BY fingerprint""",
side_effects=True,
)
def streaming_dedup_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup drained to the surviving fingerprint set:
    every distinct content fingerprint survives exactly once, so the
    append-mode output has set-equality with batch SELECT DISTINCT — the
    parity that makes online ingest dedup trustworthy. Documents carry no
    event time, so arrival order is synthesized (doc_id minutes) and the
    watermark is set beyond the synthetic span: duplicates can never
    outlive the fingerprint state, the condition for exact parity
    (dedup_stream docstring covers the bounded-watermark trade at
    production scale)."""
    from pyspark.sql import types as T

    from hybrid_vector_search_spark.streaming.pipeline import (
        dedup_stream,
        run_available_now,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    docs = (
        spark.readStream.schema(schema)
        .parquet(_landing(spark, sf_dir, "documents"))
        .withColumn(
            # +1: a synthetic ts of exactly epoch 0 (doc_id 0) equals the
            # stream's INITIAL watermark and is discarded as late data
            "ts",
            F.timestamp_micros((F.col("doc_id") + 1) * 60_000_000),
        )
    )
    deduped = dedup_stream(docs, watermark="36500 days").select("fingerprint")
    table = "stream_dedup"
    run_available_now(
        deduped,
        table,
        output_mode="append",
        shuffle_partitions=_stream_parts(spark, sf_dir),
    )
    return _sink_sorted(spark, table, "fingerprint")


# --------------------------------------------- benchmark decontamination

_DECON_N = 4  # word n-gram size; _DECON_MOD picks the pseudo-benchmark split
_DECON_MOD = 11


@register(
    "docs_decontaminate",
    f"""WITH toks AS (SELECT doc_id,
    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
      AS t FROM documents),
sh AS (SELECT doc_id, list_distinct(list_transform(
    range(0, greatest(len(t) - {_DECON_N}, 0) + 1),
    i -> array_to_string(t[i + 1 : i + {_DECON_N}], ' '))) AS s FROM toks),
bench AS (SELECT DISTINCT unnest(s) AS g FROM sh
          WHERE doc_id % {_DECON_MOD} = 0),
corpus AS (SELECT doc_id, unnest(s) AS g FROM sh
           WHERE doc_id % {_DECON_MOD} <> 0),
hits AS (SELECT doc_id, COUNT(*) AS n_hits
         FROM corpus JOIN bench USING (g) GROUP BY 1),
sz AS (SELECT doc_id, len(s) AS n_sh FROM sh)
SELECT h.doc_id, n_hits,
  {round_portable_sql('n_hits::DOUBLE / n_sh', 6)} AS containment
FROM hits h JOIN sz USING (doc_id) ORDER BY doc_id""",
)
def docs_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    {n}-gram with a held-out benchmark set (here the doc_id % MOD == 0
    slice stands in for the benchmark), reporting hit count and
    containment |doc∩bench|/|doc| per contaminated document. The
    benchmark shingle vocabulary is tiny relative to the corpus (real
    benchmarks are MBs against TBs), so it BROADCASTS: the corpus-side
    explode never shuffles — map-side semi-join, then one aggregation by
    doc_id. No stop-shingle df cap is needed here (unlike the Jaccard
    self-join): the vocab side is DISTINCT, so each corpus shingle row
    matches at most one vocab row — fan-out is linear in corpus shingles
    even if a vocab gram is ubiquitous. The same shingle UDF as the
    dedup family keeps one n-gram semantics engine-wide."""
    docs = load_table(spark, sf_dir, "documents")
    is_bench = F.col("doc_id") % _DECON_MOD == 0
    # shingle_rows = one mapInPandas pass per branch emitting the exploded
    # inverted index with |shingles| carried inline — no UDF→Generate dead
    # duplicate eval, no separate sizes⋈hits join.
    bench_g = (
        TX.shingle_rows(docs.filter(is_bench), _DECON_N)
        .select("g")
        .distinct()
    )
    corpus_ex = TX.shingle_rows(docs.filter(~is_bench), _DECON_N)
    return (
        corpus_ex.join(F.broadcast(bench_g), "g")
        .groupBy("doc_id", "n_sh")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(
            "doc_id",
            "n_hits",
            round_portable(
                F.col("n_hits").cast("double") / F.col("n_sh"), 6
            ).alias("containment"),
        )
        .orderBy("doc_id")
    )


_FUNNEL_QUALITY = 0.75  # rounded-to-6 quality floor for stage 2
# word tokens + distinct word n-grams (the docs_decontaminate shapes)
_FUNNEL_TOKS = (
    "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"
)
_FUNNEL_SH = (
    f"list_distinct(list_transform(range(0, greatest(len(t) - {_DECON_N},"
    f" 0) + 1), i -> array_to_string(t[i + 1 : i + {_DECON_N}], ' ')))"
)


@register(
    "docs_curation_funnel",
    f"""WITH base AS (
  SELECT * FROM documents WHERE text IS NOT NULL AND length(text) > 0),
s1 AS (SELECT * FROM base WHERE ({TX.lang_id_sql('text')}) = 'en'),
s2 AS (SELECT * FROM s1
  WHERE {round_portable_sql(TX.quality_score_sql('text'), 6)}
        >= {_FUNNEL_QUALITY}),
s3 AS (SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY {TX.fingerprint_md5_sql('text')} ORDER BY doc_id) AS rn
    FROM s2) WHERE rn = 1),
bsh AS (SELECT DISTINCT unnest({_FUNNEL_SH}) AS g
  FROM (SELECT {_FUNNEL_TOKS} AS t FROM base WHERE doc_id % {_DECON_MOD} = 0)),
csh AS (SELECT doc_id, unnest({_FUNNEL_SH}) AS g
  FROM (SELECT doc_id, {_FUNNEL_TOKS} AS t FROM s3
        WHERE doc_id % {_DECON_MOD} <> 0)),
s4 AS (SELECT * FROM s3 WHERE doc_id % {_DECON_MOD} <> 0
  AND doc_id NOT IN (SELECT DISTINCT doc_id FROM csh JOIN bsh USING (g))),
s5 AS (SELECT * FROM s4
  WHERE ('0x' || substr(md5(text), 1, 4))::BIGINT % 10 < 9),
counts AS (
  SELECT '0_total' AS stage, COUNT(*) AS n_docs FROM base UNION ALL
  SELECT '1_lang_en', COUNT(*) FROM s1 UNION ALL
  SELECT '2_quality', COUNT(*) FROM s2 UNION ALL
  SELECT '3_exact_dedup', COUNT(*) FROM s3 UNION ALL
  SELECT '4_decontaminated', COUNT(*) FROM s4 UNION ALL
  SELECT '5_train_split', COUNT(*) FROM s5)
SELECT stage, n_docs,
  {round_portable_sql(
      'n_docs * 1.0 / (SELECT COUNT(*) FROM base)', 6)} AS pct_of_total
FROM counts ORDER BY stage""",
)
def docs_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data curation pipeline as ONE composed plan —
    the integration query a user of this engine actually runs: language
    gate → quality floor → exact dedup (keep-first per normalized
    fingerprint) → benchmark decontamination (drop the benchmark slice
    and every doc sharing a word 4-gram with it) → hash-based train
    split. Emits the retention funnel (stage, surviving docs, fraction
    of corpus).

    Every stage reuses the engine's single implementation of its
    semantics (functions/text.py lang_id / quality_score /
    fingerprint_md5 / shingle_rows), so the funnel is an end-to-end
    consistency check across the family, not new logic. Scale shape:
    per-document STAGE FLAGS computed in one pass (Spark does no
    common-subplan reuse across union legs, so the naive
    one-aggregate-per-stage form re-ran the gates per leg — review
    finding, r12), keep-first as one window over (fingerprint,
    eligible), decontamination as a broadcast of the (tiny) benchmark
    gram vocabulary against ONLY the surviving rows' shingles, the
    split a stateless hash — then a single conditional aggregation
    emits every stage count from one row, unpivoted JVM-side with
    ``stack``."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    ).select("doc_id", "text")
    flags = base.select(
        "doc_id",
        "text",
        (TX.lang_id("text") == "en").alias("f_lang"),
        (
            round_portable(TX.quality_score("text"), 6) >= _FUNNEL_QUALITY
        ).alias("f_qual"),
        TX.fingerprint_md5("text").alias("__fp"),
    ).withColumn("f_lq", F.col("f_lang") & F.col("f_qual"))
    # keep-first among ELIGIBLE rows only: ineligible rows sit in their
    # own (fp, false) partitions and are masked out by the f_lq conjunct
    w = Window.partitionBy("__fp", "f_lq").orderBy("doc_id")
    flags = flags.withColumn(
        "f_keep", F.col("f_lq") & (F.row_number().over(w) == 1)
    )
    bench_g = (
        TX.shingle_rows(
            base.filter(F.col("doc_id") % _DECON_MOD == 0), _DECON_N
        )
        .select("g")
        .distinct()
    )
    non_bench = F.col("doc_id") % _DECON_MOD != 0
    contaminated = (
        TX.shingle_rows(
            flags.filter(F.col("f_keep") & non_bench).select(
                "doc_id", "text"
            ),
            _DECON_N,
        )
        .join(F.broadcast(bench_g), "g")
        .select("doc_id")
        .distinct()
        .withColumn("__cont", F.lit(True))
    )
    f_dec = F.col("f_keep") & non_bench & F.col("__cont").isNull()
    f_train = f_dec & (
        F.conv(F.substring(F.md5("text"), 1, 4), 16, 10).cast("bigint") % 10
        < 9
    )
    one = (
        flags.join(F.broadcast(contaminated), "doc_id", "left")
        .select(
            F.lit(1).alias("__one"),
            F.col("f_lang").cast("long").alias("__l"),
            F.col("f_lq").cast("long").alias("__q"),
            F.col("f_keep").cast("long").alias("__k"),
            f_dec.cast("long").alias("__d"),
            f_train.cast("long").alias("__t"),
        )
        .agg(
            F.count(F.lit(1)).alias("n0"),
            F.coalesce(F.sum("__l"), F.lit(0)).alias("n1"),
            F.coalesce(F.sum("__q"), F.lit(0)).alias("n2"),
            F.coalesce(F.sum("__k"), F.lit(0)).alias("n3"),
            F.coalesce(F.sum("__d"), F.lit(0)).alias("n4"),
            F.coalesce(F.sum("__t"), F.lit(0)).alias("n5"),
        )
    )
    stacked = one.select(
        F.expr(
            "stack(6, '0_total', n0, '1_lang_en', n1, '2_quality', n2,"
            " '3_exact_dedup', n3, '4_decontaminated', n4,"
            " '5_train_split', n5) AS (stage, n_docs)"
        ),
        F.col("n0").cast("double").alias("__total"),
    )
    return stacked.select(
        "stage",
        F.col("n_docs").cast("long").alias("n_docs"),
        round_portable(F.col("n_docs") / F.col("__total"), 6).alias(
            "pct_of_total"
        ),
    ).orderBy("stage")


# ------------------------------------- vector aggregation + pivot shapes


@register(
    "embedding_centroids_per_label",
    """SELECT label, d - 1 AS dim, COUNT(*) AS n_vecs,
  ROUND(AVG(v::DOUBLE), 6) AS centroid_v
FROM (SELECT label, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) AS d FROM embeddings)
GROUP BY 1, 2 ORDER BY label, dim""",
)
def embedding_centroids_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids, emitted as (label, dim, avg) rows —
    element-wise vector aggregation via posexplode + one partial-agg
    shuffle on (label, dim). The unpivoted form keeps the comparator on
    scalars and is also the shape you feed back into a KMeans-style
    update step; at scale the exploded stream is map-combined 64× before
    the exchange, so the shuffle carries one row per (label, dim), not
    per vector."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid_v"),
        )
        .orderBy("label", "dim")
    )


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "events_pivot_daily",
    f"""SELECT strftime(ts, '%Y-%m-%d') AS day,
  {', '.join(f"COUNT(*) FILTER (event_type = '{t}') AS n_{t}" for t in _EVENT_TYPES)}
FROM events GROUP BY 1 ORDER BY day""",
)
def events_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-type matrix: groupBy(day).pivot(event_type) with the
    value list pinned — pinning keeps the pivot one-pass (no extra
    distinct-values job) and the output schema static, which is what a
    downstream dashboard (and the oracle compare) needs. Equivalent to
    conditional aggregation; the pivot carries the per-type counts in one
    shuffle on day."""
    ev = load_table(spark, sf_dir, "events")
    piv = (
        ev.select(F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type")
        .groupBy("day")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    # null → 0 for days missing a type, matching COUNT FILTER semantics
    return piv.select(
        "day",
        *[
            F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
    ).orderBy("day")


@register(
    "events_type_transitions",
    f"""WITH seq AS (
  SELECT user_id, event_type,
    lag(event_type) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS prev_type
  FROM events),
t AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
  {round_portable_sql(
      "n * 1.0 / SUM(n) OVER (PARTITION BY prev_type)", 6
  )} AS p
FROM t ORDER BY prev_type, next_type""",
)
def events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-path TRANSITION MATRIX (first-order Markov): lag
    the event type within each user's timeline (total order pinned by
    ``ts, event_id`` — timestamp ties would otherwise make the lag
    nondeterministic), count (prev → next) pairs, and normalize each
    row of the matrix into transition probabilities with a second
    window over the tiny |types|² table. The product-analytics path
    query (what do users do AFTER an error?) — one user-partitioned
    Exchange for the lag, then the aggregate reuses nothing corpus-
    sized; the probability window runs over ≤ 25 rows."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    t = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wp = Window.partitionBy("prev_type")
    return t.select(
        "prev_type",
        "next_type",
        "n",
        round_portable(
            F.col("n") * 1.0 / F.sum("n").over(wp), 6
        ).alias("p"),
    ).orderBy("prev_type", "next_type")


_MIX_BUDGET = 0.8  # fraction of the corpus the resampled mixture keeps
# per-source weight 1..4 from the numeric suffix — a deliberately skewed
# target mixture so high-weight sources hit the rate=1.0 clamp
# weight from the trailing digits of the source name; regexp + TRY_CAST +
# COALESCE so an unexpected source name degrades identically in BOTH
# engines (weight 1) instead of Spark NULL-dropping vs DuckDB erroring
# (ADVICE r1 #2)
_MIX_W_SQL = (
    "(1 + (COALESCE(TRY_CAST(regexp_extract(source, '([0-9]+)$', 1) AS INT),"
    " 0) % 4))"
)


@register(
    "docs_resample_mixture",
    f"""WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs, {_MIX_W_SQL} AS w
  FROM documents GROUP BY 1),
tot AS (SELECT SUM(n_docs)::DOUBLE AS total, SUM(w)::DOUBLE AS sum_w
        FROM per_src),
rates AS (SELECT source, n_docs,
  LEAST(1.0, ({_MIX_BUDGET} * total * w / sum_w) / n_docs) AS rate
  FROM per_src, tot),
kept AS (SELECT d.source, COUNT(*) AS n_kept
  FROM documents d JOIN rates r USING (source)
  WHERE {SP.hash_key_lt_threshold_sql('d.doc_id', 'r.rate')}
  GROUP BY 1)
SELECT r.source, r.n_docs, ROUND(r.rate, 6) AS rate,
  COALESCE(k.n_kept, 0) AS n_kept
FROM rates r LEFT JOIN kept k USING (source) ORDER BY source""",
)
def docs_resample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture resampling: reweight sources toward a target mix
    under a global document budget — per-source acceptance rate =
    min(1, budget·wₛ/Σw / nₛ), applied as a deterministic hash threshold
    (operators/sampling.py): the same document is kept on every run, on
    any partitioning, at any cluster size. The rate table is a tiny
    two-stage aggregate broadcast back onto the corpus scan, so the keep
    decision is map-side; reported per source as (population, rate,
    kept). Rates derive from integer counts, so both engines compute the
    identical double and the floor-threshold compare is exact."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")
    ).withColumn(
        "w",
        F.coalesce(
            F.regexp_extract("source", "([0-9]+)$", 1).cast("int"), F.lit(0)
        )
        % 4
        + 1,
    )
    tot = per_src.agg(
        F.sum("n_docs").cast("double").alias("total"),
        F.sum("w").cast("double").alias("sum_w"),
    )
    rates = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.least(
            F.lit(1.0),
            (F.lit(_MIX_BUDGET) * F.col("total") * F.col("w") / F.col("sum_w"))
            / F.col("n_docs"),
        ).alias("rate"),
    )
    # One corpus pass computes kept-vs-population together: every doc
    # joins its (broadcast, 20-row) rate row, the keep decision is a
    # map-side flag, and a single per-source aggregation carries the
    # population and rate through first() — no second rate evaluation, no
    # outer join back, zero-kept sources still appear.
    keep = (
        SP.portable_hash_key(F.col("doc_id"))
        < F.floor(F.col("rate") * F.lit(float(SP.HASH_SPACE))).cast("long")
    ).cast("long")
    return (
        docs.join(F.broadcast(rates), "source")
        .groupBy("source")
        .agg(
            F.first("n_docs").alias("n_docs"),
            F.round(F.first("rate"), 6).alias("rate"),
            F.sum(keep).alias("n_kept"),
        )
        .select("source", "n_docs", "rate", "n_kept")
        .orderBy("source")
    )


def _lsh_postfilter_oracle(seed: int, filters: dict, k: int, radius: int) -> str:
    from pyspark.sql import types as T

    from hybrid_vector_search_spark.operators import lsh as LSH

    planes = LSH.hyperplanes(LSH.DEFAULT_NBITS, dim=64)
    q = query_vector(seed)
    probes = LSH.probe_set(q, planes, probe_hamming=radius)
    qlit = sql_array_literal(q)
    bucket = LSH.bucket_sql_expr(planes)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("label", T.IntegerType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    where = filters_to_sql(schema, filters)
    return f"""{CORPUS_CTE}
SELECT id, ROUND(list_dot_product(embedding::DOUBLE[], {qlit}), 6) AS score
FROM corpus
WHERE {bucket} IN ({', '.join(str(b) for b in probes)}) AND ({where})
ORDER BY list_dot_product(embedding::DOUBLE[], {qlit}) DESC, id ASC
LIMIT {k}"""


_LSH_PF_CASE = {
    "seed": 23,
    "filters": {"label": {"in": [2, 5, 8]}, "lang": {"in": ["en", "fr"]}},
    "k": 10,
    "radius": 1,
}


@register(
    "hybrid_topk_post_filter_lsh",
    _lsh_postfilter_oracle(**_LSH_PF_CASE),
)
def hybrid_topk_post_filter_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 post-filter strategy end-to-end on the LSH scale path: probed
    buckets are scored, then semi-joined against the predicate-compiled
    allowed set — ANN candidate generation UNDER a metadata filter, the
    reference's post_filter plan (src/baselines/post_filter.py:17-109)
    re-expressed as bucket pruning + broadcast left-semi. The probe
    radius is pinned at Hamming 1 so the plan is deterministic and fully
    oracle-checkable; the production ladder (radius 0→1→2 until ≥K
    survivors) is LSHPostFilterBackend.search (strategies.LadderBackend
    over the LSH rung) and is exercised by the harness tests."""
    from hybrid_vector_search_spark.operators.lsh import LSHPostFilterBackend

    corpus = load_corpus(spark, sf_dir)
    backend = LSHPostFilterBackend(corpus)
    plan, _probes = backend.plan(
        query_vector(_LSH_PF_CASE["seed"]),
        _LSH_PF_CASE["filters"],
        _LSH_PF_CASE["k"],
        probe_hamming=_LSH_PF_CASE["radius"],
    )
    return plan.select("id", F.round("score", 6).alias("score"))


@register(
    "docs_chunk_passages",
    """WITH toks AS (SELECT doc_id,
  string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents),
ch AS (SELECT doc_id, i AS chunk_idx, t[i * 24 + 1 : i * 24 + 32] AS c
       FROM toks, UNNEST(range(0, ((len(t) - 1) // 24) + 1)) AS u(i))
SELECT doc_id, chunk_idx, len(c) AS n_tokens,
  md5(array_to_string(c, ' ')) AS chunk_fp
FROM ch ORDER BY doc_id, chunk_idx""",
)
def docs_chunk_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage chunking for embedding pipelines: sliding 32-word windows
    at stride 24 (8-word overlap keeps context across boundaries), one
    output row per chunk with its token count and content fingerprint.
    Entirely JVM expressions — split, sequence, explode, slice — so the
    fan-out stays inside whole-stage codegen with zero Python and zero
    shuffle before the final ordering: pure map-side work at any corpus
    size, the step that typically feeds the embedding UDF
    (sources/etl.py embed_text_udf) downstream."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(TX.normalized_text("text"), " ").alias("t")
    )
    return (
        toks.select(
            "doc_id",
            "t",
            F.explode(
                F.sequence(
                    F.lit(0),
                    ((F.size("t") - F.lit(1)) / F.lit(24)).cast("int"),
                )
            ).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.slice("t", F.col("chunk_idx") * 24 + 1, 32).alias("c"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.size("c").alias("n_tokens"),
            F.md5(F.array_join("c", " ")).alias("chunk_fp"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


@register(
    "events_trailing_7d",
    f"""WITH d AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         (epoch(date_trunc('day', ts)) // 86400)::BIGINT AS day_num,
         COUNT(*) AS n_events,
         {round_portable_sql('SUM(value)', 2)} AS day_value
  FROM events GROUP BY 1, 2, 3)
SELECT event_type, day, n_events,
  (SUM(n_events) OVER w)::BIGINT AS trailing_7d_events,
  {round_portable_sql('SUM(day_value) OVER w', 2)} AS trailing_7d_value
FROM d
WINDOW w AS (PARTITION BY event_type ORDER BY day_num
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
ORDER BY event_type, day""",
)
def events_trailing_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day totals per event type — a RANGE-frame window over
    the integer day number, so GAPS in the calendar shrink the frame
    (unlike the ROWS frame in events_daily_cumulative, which would
    silently span missing days). The window runs over the tiny per-day
    aggregate and reuses its hash partitioning; day values are
    grid-snapped so the short frame sums are bit-identical across
    engines."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.select(
            "event_type",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
                "day_num"
            ),
            "value",
        )
        .groupBy("event_type", "day", "day_num")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round_portable(F.sum("value"), 2).alias("day_value"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_num")
        .rangeBetween(-6, Window.currentRow)
    )
    return d.select(
        "event_type",
        "day",
        "n_events",
        F.sum("n_events").over(w).alias("trailing_7d_events"),
        round_portable(F.sum("day_value").over(w), 2).alias(
            "trailing_7d_value"
        ),
    ).orderBy("event_type", "day")


@register(
    "docs_sources_covering_all_langs",
    """SELECT source, COUNT(DISTINCT lang) AS n_langs, COUNT(*) AS n_docs
FROM documents GROUP BY 1
HAVING COUNT(DISTINCT lang) = (SELECT COUNT(DISTINCT lang) FROM documents)
ORDER BY source""",
)
def docs_sources_covering_all_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division: sources with documents in EVERY language —
    the for-all quantifier decorrelated to per-source distinct counts
    checked against a single-row global distinct count (broadcast cross
    join). Classic division plans via double NOT EXISTS cost two
    fact-fact anti-joins; the count-matching form is one aggregation and
    a broadcast compare, the shape that survives at scale."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.countDistinct("lang").alias("n_langs"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    total = docs.agg(F.countDistinct("lang").alias("all_langs"))
    return (
        per_src.crossJoin(F.broadcast(total))
        .filter(F.col("n_langs") == F.col("all_langs"))
        .select("source", "n_langs", "n_docs")
        .orderBy("source")
    )


_GEO_LAT_SQL = (
    "(('0x' || substr(md5(id::VARCHAR || ':lat'), 1, 8))::BIGINT"
    " / 4294967296.0) * 180.0 - 90.0"
)
_GEO_LON_SQL = (
    "(('0x' || substr(md5(id::VARCHAR || ':lon'), 1, 8))::BIGINT"
    " / 4294967296.0) * 360.0 - 180.0"
)
_GEO_CASE = {"seed": 37, "box": (0.0, 60.0, -90.0, 90.0), "k": 10}


@register(
    "hybrid_topk_geo",
    f"""{CORPUS_CTE},
geo AS (SELECT id, embedding, {_GEO_LAT_SQL} AS latitude,
               {_GEO_LON_SQL} AS longitude FROM corpus)
SELECT id, ROUND(list_dot_product(embedding::DOUBLE[],
  {{qlit}}), 6) AS score
FROM geo
WHERE latitude IS NOT NULL AND longitude IS NOT NULL
  AND latitude BETWEEN {_GEO_CASE['box'][0]} AND {_GEO_CASE['box'][1]}
  AND longitude BETWEEN {_GEO_CASE['box'][2]} AND {_GEO_CASE['box'][3]}
ORDER BY list_dot_product(embedding::DOUBLE[], {{qlit}}) DESC, id ASC
LIMIT {_GEO_CASE['k']}""".replace(
        "{qlit}", sql_array_literal(query_vector(_GEO_CASE["seed"]))
    ),
)
def hybrid_topk_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo bounding-box hybrid search (reference F7,
    src/dataio/validators.py:305-329): the paired lat/lon `between`
    predicate — accepted top-level in the filter DSL, NULL-failing both
    columns — under vector scoring. Testdata carries no coordinates, so
    the query derives deterministic uniform lat/lon from the portable id
    hash (exact integer/2^32 arithmetic, identical doubles in both
    engines); the predicate compiler then treats them like any stored
    column."""
    from hybrid_vector_search_spark.operators import sampling as SP2

    corpus = load_corpus(spark, sf_dir)
    lat_key = SP2.portable_hash_key(
        F.concat(F.col("id").cast("string"), F.lit(":lat"))
    )
    lon_key = SP2.portable_hash_key(
        F.concat(F.col("id").cast("string"), F.lit(":lon"))
    )
    geo = corpus.withColumns(
        {
            "latitude": (lat_key / F.lit(4294967296.0)) * 180.0 - 90.0,
            "longitude": (lon_key / F.lit(4294967296.0)) * 360.0 - 180.0,
        }
    )
    lo_lat, hi_lat, lo_lon, hi_lon = _GEO_CASE["box"]
    pred = compile_filters(
        geo.schema,
        {"lat_between": [lo_lat, hi_lat], "lon_between": [lo_lon, hi_lon]},
    )
    scored = geo.filter(pred).select(
        "id",
        dot_score_pandas_udf(query_vector(_GEO_CASE["seed"]))(
            F.col("embedding")
        ).alias("score"),
    )
    return topk(scored, _GEO_CASE["k"]).select(
        "id", F.round("score", 6).alias("score")
    )


@register(
    "streaming_sliding_2h_counts",
    """WITH assigned AS (
  SELECT date_trunc('hour', ts) AS wstart, event_type FROM events
  UNION ALL
  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type FROM events)
SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
  event_type, COUNT(*) AS n_events
FROM assigned GROUP BY 1, 2 ORDER BY window_start, event_type""",
side_effects=True,
)
def streaming_sliding_2h_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window streaming aggregation (2h windows sliding 1h):
    every event contributes to exactly two overlapping windows — the
    hopping-window shape behind trailing-rate monitors. Complete-mode
    availableNow drain equals the batch union-of-two-buckets oracle;
    state is two window rows per (hour, type), and in production the
    watermarked append-mode twin evicts each window one slide after it
    closes."""
    from hybrid_vector_search_spark.streaming.pipeline import (
        TS_FMT,
        read_events_stream,
        run_available_now,
    )

    ev = read_events_stream(spark, _landing(spark, sf_dir, "events"))
    agg = (
        ev.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    table = "stream_sliding"
    run_available_now(
        agg,
        table,
        output_mode="complete",
        shuffle_partitions=_stream_parts(spark, sf_dir),
    )
    return _sink_sorted(spark, table, "window_start", "event_type")


@register(
    "customers_churned_since_1995",
    """WITH a95 AS (SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1995-12-31'),
a01 AS (SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '2001-01-01'),
churn AS (SELECT o_custkey FROM a95 EXCEPT SELECT o_custkey FROM a01)
SELECT c_mktsegment, COUNT(*) AS n_churned
FROM churn JOIN customer ON c_custkey = o_custkey
GROUP BY 1 ORDER BY c_mktsegment""",
)
def customers_churned_since_1995(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-difference shape: customers active in 1995 with no orders in
    2001+, profiled per market segment. DataFrame ``subtract`` (EXCEPT
    DISTINCT) — Catalyst plans it as distinct + left-anti join, so both
    order scans keep their date pushdown and the subtraction shuffles
    only distinct custkeys (reference has no set ops; SURVEY §2.7)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    a95 = orders.filter(
        F.col("o_orderdate").between(
            F.lit("1995-01-01").cast("timestamp"),
            F.lit("1995-12-31").cast("timestamp"),
        )
    ).select("o_custkey")
    a01 = orders.filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    ).select("o_custkey")
    churn = a95.subtract(a01)
    return (
        churn.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_churned"))
        .orderBy("c_mktsegment")
    )


@register(
    "docs_quality_deciles",
    f"""WITH q AS (SELECT doc_id, lang,
  {round_portable_sql(TX.quality_score_sql('text'), 6)} AS quality
  FROM documents),
t AS (SELECT lang, quality,
  NTILE(10) OVER (PARTITION BY lang ORDER BY quality, doc_id) AS decile
  FROM q)
SELECT lang, decile, COUNT(*) AS n_docs,
  {grid_avg_sql('SUM(quality)', 'COUNT(*)', 6, 6)} AS avg_quality
FROM t GROUP BY 1, 2 ORDER BY lang, decile""",
)
def docs_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score deciles per language — the distribution view behind
    'drop the bottom N%' corpus filtering. NTILE ranks over the ROUNDED
    score with doc_id as tiebreaker so bucket boundaries are identical in
    both engines; one shuffle for the per-language window, a tiny
    re-aggregation for the decile profile. Quality values live on the
    1e-6 grid, so decile averages snap portably."""
    from pyspark.sql import Window

    docs = spread(load_table(spark, sf_dir, "documents"))
    q = docs.select(
        "doc_id",
        "lang",
        round_portable(TX.quality_score("text"), 6).alias("quality"),
    )
    w = Window.partitionBy("lang").orderBy("quality", "doc_id")
    t = q.select("lang", "quality", F.ntile(10).over(w).alias("decile"))
    return (
        t.groupBy("lang", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            grid_avg(F.sum("quality"), F.count(F.lit(1)), 6, 6).alias(
                "avg_quality"
            ),
        )
        .orderBy("lang", "decile")
    )


@register(
    "streaming_enriched_by_user_segment",
    """WITH seg AS (SELECT DISTINCT user_id, (user_id % 5)::INT AS segment
                    FROM events)
SELECT segment, event_type, COUNT(*) AS n_events
FROM events JOIN seg USING (user_id)
GROUP BY 1, 2 ORDER BY segment, event_type""",
side_effects=True,
)
def streaming_enriched_by_user_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against a static
    dimension (user → segment) before a complete-mode aggregation — the
    canonical lookup-table pattern (Kafka stream ⋈ broadcast dim). The
    static side is loaded once per micro-batch planning cycle and
    broadcast; no stream-stream state is involved, so the join adds no
    watermark requirement. Segments derive deterministically from
    user_id so the oracle can rebuild the same dimension."""
    from hybrid_vector_search_spark.streaming.pipeline import (
        read_events_stream,
        run_available_now,
    )

    ev = read_events_stream(spark, _landing(spark, sf_dir, "events"))
    static_dim = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .withColumn("segment", (F.col("user_id") % 5).cast("int"))
    )
    agg = (
        ev.join(F.broadcast(static_dim), "user_id")
        .groupBy("segment", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    table = "stream_seg"
    run_available_now(
        agg,
        table,
        output_mode="complete",
        shuffle_partitions=_stream_parts(spark, sf_dir),
    )
    return _sink_sorted(spark, table, "segment", "event_type")


# ------------------------------------------- results-log analytics (A3/A4)

# Committed harness-output fixture (fixtures/results_log.jsonl): 4 backends
# × the 10 canonical queries at sf0.001, plus one deliberately corrupt line
# exercising the tolerant S8 scan in BOTH engines. Absolute path so the
# oracle runs regardless of the driver's cwd.
RESULTS_FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "fixtures",
    "results_log.jsonl",
)

# DuckDB's ignore_errors surfaces the corrupt line as an all-NULL row
# (Spark's PERMISSIVE + corrupt-record drop removes it); `method IS NOT
# NULL` aligns the two tolerances.
_RESULTS_CTE = (
    f"WITH results AS (SELECT * FROM read_json_auto('{RESULTS_FIXTURE}', "
    "ignore_errors=true) WHERE method IS NOT NULL)"
)

_RESULT_METHODS = ("exact", "post_filter_lsh", "pre_filter", "random")


@register(
    "results_mean_scored_by_method",
    f"""{_RESULTS_CTE}
SELECT method, COUNT(*) AS n_queries,
  {grid_avg_sql('SUM(scored_vectors)', 'COUNT(*)', 0, 6)} AS mean_scored,
  {grid_avg_sql('SUM(recall_at_k)', 'COUNT(*)', 6, 6)} AS mean_recall
FROM results GROUP BY method ORDER BY method""",
)
def results_mean_scored_by_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 (reference plots/latency_recall.py:48 plot_scored_vectors_bar):
    mean scored_vectors per method over the results log — the work-vs-
    method comparison the reference renders as a bar chart, as an
    oracle-checked aggregation over the committed harness-output fixture.
    Averages use grid_avg: scored_vectors sums are integers and recall
    sums live on a small decimal grid, so both engines round the
    identical double."""
    from hybrid_vector_search_spark.plans.harness import load_results

    res = load_results(spark, RESULTS_FIXTURE)
    return (
        res.groupBy("method")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            grid_avg(
                F.sum("scored_vectors"), F.count(F.lit(1)), 0, 6
            ).alias("mean_scored"),
            grid_avg(
                F.sum("recall_at_k"), F.count(F.lit(1)), 6, 6
            ).alias("mean_recall"),
        )
        .orderBy("method")
    )


@register(
    "results_scored_pivot_by_qid",
    f"""{_RESULTS_CTE}
SELECT qid,
  {', '.join(f"MAX(scored_vectors) FILTER (method = '{m}') AS {m}" for m in _RESULT_METHODS)}
FROM results GROUP BY qid ORDER BY qid""",
)
def results_scored_pivot_by_qid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 (reference plots/latency_recall.py:65
    plot_scored_vectors_per_query): the qid × method scored_vectors
    matrix — ``groupBy(qid).pivot(method)`` with the method list pinned
    so the pivot stays one-pass and the output schema static."""
    from hybrid_vector_search_spark.plans.harness import load_results

    res = load_results(spark, RESULTS_FIXTURE)
    return (
        res.groupBy("qid")
        .pivot("method", list(_RESULT_METHODS))
        .agg(F.max("scored_vectors"))
        .orderBy("qid")
    )


# -------------------------------------- TPC-H shapes: q2/q11/q12/q20/q22
# (adapted to the testdata star schema — no partsupp/phone/shipmode
# columns exist, so lineitem serves as the part↔supplier catalog and
# nationkey as the country code; each docstring names the delta)

_Q2_COST_SQL = grid_avg_sql("SUM(l_extendedprice)", "COUNT(*)", 2, 6)


@register(
    "tpch_q2_min_cost_supplier",
    f"""WITH cost AS (
  SELECT l_partkey, l_suppkey, {_Q2_COST_SQL} AS supply_cost
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey
  WHERE r_name = 'EUROPE'
  GROUP BY l_partkey, l_suppkey),
best AS (SELECT l_partkey, MIN(supply_cost) AS min_cost
         FROM cost GROUP BY l_partkey)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, supply_cost
FROM cost
JOIN best ON best.l_partkey = cost.l_partkey AND supply_cost = min_cost
JOIN part ON p_partkey = cost.l_partkey
JOIN supplier ON s_suppkey = cost.l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE p_type = 'LARGE' AND p_size BETWEEN 10 AND 20
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 20""",
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (adapted: lineitem stands in for partsupp, average
    sale price per (part, supplier) for supply cost): the minimum-cost
    supplier per part within a region — a correlated MIN subquery
    decorrelated into an aggregate joined back on (part, cost) equality.
    The equality is safe because both cost sides snap to the same grid
    (grid_avg). Dimension joins (supplier/nation/region/filtered part)
    all broadcast; the only big shuffles are the two partkey
    aggregations."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")

    region_supp = (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(
            F.broadcast(reg.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    wanted = part.filter(
        (F.col("p_type") == "LARGE") & F.col("p_size").between(10, 20)
    ).select("p_partkey", "p_name")
    cost = (
        li
        # push the selective part predicate INTO the lineitem scan: the
        # per-part MIN is independent across parts, so aggregating only
        # the wanted parts' rows is answer-equivalent to the oracle's
        # aggregate-everything-filter-last — and it shrinks the partkey
        # shuffle by the part filter's selectivity (the dominant cost at
        # 100 TB)
        .join(
            F.broadcast(wanted.select("p_partkey")),
            li.l_partkey == F.col("p_partkey"),
            "left_semi",
        )
        .join(
            F.broadcast(region_supp.select("s_suppkey")),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            grid_avg(
                F.sum("l_extendedprice"), F.count(F.lit(1)), 2, 6
            ).alias("supply_cost")
        )
        # two consumers (min-per-part + the equality join back) — persist
        # the SMALL aggregated output so lineitem is scanned once, not
        # twice (ContextCleaner unpersists when the plan is GC'd)
        .persist()
    )
    best = (
        cost.groupBy("l_partkey")
        .agg(F.min("supply_cost").alias("min_cost"))
        .withColumnRenamed("l_partkey", "_bpk")
    )
    return (
        # best is one row per part (≤ |part|) — broadcast it; the
        # post-aggregation side carries no size stats, so Catalyst would
        # otherwise fall back to a sort-merge join
        cost.join(
            F.broadcast(best),
            (cost.l_partkey == F.col("_bpk"))
            & (cost.supply_cost == F.col("min_cost")),
        )
        .drop("_bpk")
        .join(F.broadcast(wanted), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(region_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "supply_cost")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(20)
    )


_Q11_FRACTION = 0.002


@register(
    "tpch_q11_important_parts",
    f"""WITH val AS (
  SELECT l_partkey, {_REV_GRID_SQL} AS part_value
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name = 'NATION_7'
  GROUP BY l_partkey)
SELECT l_partkey AS p_partkey, part_value
FROM val
WHERE part_value >
  (SELECT {round_portable_sql(f'SUM(part_value) * {_Q11_FRACTION}', 6)}
   FROM val)
ORDER BY part_value DESC, p_partkey""",
)
def tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (adapted: lineitem revenue stands in for partsupp
    stock value): parts whose value through one nation's suppliers
    exceeds a fraction of the nation's total — a HAVING against a scalar
    subquery, decorrelated into a single-row broadcast cross-join. The
    per-part value reuses the revenue grid snap, so the threshold
    compare is the same double in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")

    nation_supp = (
        supp.join(
            F.broadcast(nat.filter(F.col("n_name") == "NATION_7")),
            supp.s_nationkey == nat.n_nationkey,
        ).select("s_suppkey")
    )
    val = (
        li.join(F.broadcast(nation_supp), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(_rev_grid().alias("part_value"))
        .persist()  # feeds both the threshold scalar and the filter scan
    )
    # snap the threshold to the 6-dec grid: the part_value sum is
    # order-dependent at ULP level (grid_avg docstring), and a strict >
    # against an unsnapped sum can flip between engines
    thresh = val.agg(
        round_portable(F.sum("part_value") * F.lit(_Q11_FRACTION), 6).alias(
            "_thresh"
        )
    )
    return (
        val.join(F.broadcast(thresh))
        .filter(F.col("part_value") > F.col("_thresh"))
        .select(F.col("l_partkey").alias("p_partkey"), "part_value")
        .orderBy(F.col("part_value").desc(), "p_partkey")
    )


@register(
    "tpch_q12_late_shipments",
    """SELECT l_returnflag,
  COUNT(*) FILTER (o_orderpriority IN ('1-URGENT', '2-HIGH'))
    AS high_line_count,
  COUNT(*) FILTER (o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
    AS low_line_count
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
WHERE date_diff('day', o_orderdate, l_shipdate) > 60
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_returnflag ORDER BY l_returnflag""",
)
def tpch_q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: no shipmode/commitdate/receiptdate
    columns — "late" is shipped >60 days after the order date, and
    l_returnflag stands in for the shipmode grouping): per-group counts
    of high- vs low-priority late lineitems. The date filter pushes to
    the lineitem scan; the orders join carries only (orderkey, priority);
    conditional counts are one pass (no Expand — two count-ifs, not
    COUNT DISTINCT)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1997-01-01").cast("timestamp")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .join(
            orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .filter(F.datediff("l_shipdate", "o_orderdate") > 60)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


_Q20_SHARE = 0.2


@register(
    "tpch_q20_dominant_suppliers",
    f"""WITH red AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red %'),
shipped AS (
  SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty
  FROM lineitem JOIN red ON p_partkey = l_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_partkey, l_suppkey),
tot AS (SELECT l_partkey, SUM(qty) AS part_qty FROM shipped GROUP BY l_partkey)
SELECT DISTINCT s_suppkey, s_name, n_name
FROM shipped
JOIN tot ON tot.l_partkey = shipped.l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE qty > {_Q20_SHARE} * part_qty
ORDER BY s_suppkey""",
)
def tpch_q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted: no partsupp.availqty — a supplier is
    "dominant" when it shipped more than a share of a red part's total
    quantity in the year): nested semi-join pyramid (filtered parts →
    per-(part,supplier) quantities → per-part totals → threshold join →
    supplier names). Quantities are small integral doubles — exact in
    any order, so the share compare is portable; the red-part list
    broadcasts ahead of the lineitem scan."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")

    red = part.filter(F.col("p_name").like("red %")).select("p_partkey")
    lo = F.lit("1997-01-01").cast("timestamp")
    hi = F.lit("1998-01-01").cast("timestamp")
    shipped = (
        li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .join(F.broadcast(red), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .persist()  # feeds both the per-part totals and the share join
    )
    tot = shipped.groupBy("l_partkey").agg(F.sum("qty").alias("part_qty"))
    return (
        shipped.join(tot.withColumnRenamed("l_partkey", "_pk"),
                     shipped.l_partkey == F.col("_pk"))
        .filter(F.col("qty") > F.lit(_Q20_SHARE) * F.col("part_qty"))
        .join(F.broadcast(supp), shipped.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
        .distinct()
        .orderBy("s_suppkey")
    )


_Q22_CODES = (3, 8, 13, 18, 23)


@register(
    "tpch_q22_sales_opportunity",
    f"""WITH pos AS (
  SELECT {grid_avg_sql(
      "SUM(c_acctbal)",
      "COUNT(*)", 2, 6)} AS avg_bal
  FROM customer
  WHERE c_acctbal > 0.0 AND c_nationkey IN {_Q22_CODES!r}),
eligible AS (
  SELECT c_custkey, c_nationkey, c_acctbal
  FROM customer, pos
  WHERE c_nationkey IN {_Q22_CODES!r} AND c_acctbal > avg_bal
    AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01'))
SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
  {round_portable_sql(round_portable_sql("SUM(c_acctbal)", 2), 2)} AS totacctbal
FROM eligible GROUP BY c_nationkey ORDER BY cntrycode""",
)
def tpch_q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (adapted: c_nationkey stands in for the phone
    country code, and "inactive" means no order since 1999 — the dense
    synthetic history gives every customer SOME order, which would make
    the original never-ordered predicate vacuous): wealthy-but-inactive
    customers per country — a scalar average over positive balances
    (broadcast single row), an anti-join against recent orders, then
    per-code counts. The anti-join is the plan's one big shuffle;
    everything else is broadcast, and the date filter shrinks the
    anti-join's build side before the shuffle."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    recent = F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")

    in_codes = F.col("c_nationkey").isin(*_Q22_CODES)
    avg_bal = (
        cust.filter(in_codes & (F.col("c_acctbal") > 0.0))
        .agg(grid_avg(F.sum("c_acctbal"), F.count(F.lit(1)), 2, 6).alias("avg_bal"))
    )
    return (
        cust.filter(in_codes)
        .join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            orders.filter(recent).select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            round_portable(
                round_portable(F.sum("c_acctbal"), 2), 2
            ).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


# ----------------------------------- hybrid search over the IVF index

_HYBRID_IVF_SEED = 31
_HYBRID_IVF_FILTERS = {"lang": {"in": ["en", "de"]}, "n_chars": {"ge": 50}}


def _hybrid_ivf_oracle() -> str:
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    where = filters_to_sql(schema, _HYBRID_IVF_FILTERS)
    qlit = sql_array_literal(query_vector(_HYBRID_IVF_SEED))
    dots = ", ".join(
        f"list_dot_product(e, {sql_array_literal(c)})"
        for c in _ann_ivf_centroids()
    )
    probed = ", ".join(str(i) for i in _ann_ivf_probed(_HYBRID_IVF_SEED))
    return f"""WITH assigned AS (
  SELECT id, e, list_position(d, list_max(d)) - 1 AS list_id
  FROM (SELECT vec_id AS id, embedding::DOUBLE[] AS e, [{dots}] AS d
        FROM embeddings)),
pruned AS (
  SELECT a.id, a.e, doc.lang, doc.n_chars
  FROM assigned a LEFT JOIN documents doc ON a.id = doc.doc_id
  WHERE a.list_id IN ({probed}))
SELECT id, ROUND(list_dot_product(e, {qlit}), 6) AS score
FROM pruned
WHERE {where}
ORDER BY list_dot_product(e, {qlit}) DESC, id ASC
LIMIT {ANN_IVF_K}"""


@register("hybrid_topk_ivf_prefilter", _hybrid_ivf_oracle())
def hybrid_topk_ivf_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN: metadata predicates INSIDE the IVF probe (the
    combination the reference runs as post_filter P3, here in its
    pre-filter form): prune to the probed lists first — at scale that is
    partition pruning, nprobe/nlist of the bytes — then join the pruned
    slice to its metadata, apply the compiled predicate, exact-score only
    the survivors. One filter semantics engine-wide: the same dict
    compiles to the Spark Column and the oracle WHERE."""
    index = _ann_ivf_fixed_index(spark, sf_dir)
    qvec = query_vector(_HYBRID_IVF_SEED)
    probed = _ann_ivf_probed(_HYBRID_IVF_SEED)
    docs = load_table(spark, sf_dir, "documents").withColumnRenamed(
        "doc_id", "id"
    )
    pruned = (
        index.assigned.filter(F.col("list_id").isin(probed))
        .select("id", "embedding")
        .join(docs.select("id", "lang", "n_chars"), "id", "left")
    )
    pred = compile_filters(pruned.schema, _HYBRID_IVF_FILTERS)
    scored = pruned.filter(pred).select(
        "id", dot_score_pandas_udf(qvec)(F.col("embedding")).alias("score")
    )
    return topk(scored, ANN_IVF_K).select(
        "id", F.round("score", 6).alias("score")
    )


# --------------------------------------- data-quality expectations (r13)

_DQ_DATE_LO, _DQ_DATE_HI = "1995-01-01", "2000-12-31"


@register(
    "orders_quality_expectations",
    f"""WITH m AS (SELECT
  COUNT(*) AS n,
  COUNT(DISTINCT o_orderkey) AS ndv_key,
  COUNT(o_custkey) AS nn_cust,
  SUM(CASE WHEN o_totalprice >= 0 THEN 1 ELSE 0 END) AS nonneg,
  SUM(CASE WHEN strftime(o_orderdate, '%Y-%m-%d')
           BETWEEN '{_DQ_DATE_LO}' AND '{_DQ_DATE_HI}'
           THEN 1 ELSE 0 END) AS in_range,
  SUM(CASE WHEN o_orderstatus IN ('O', 'F', 'P') THEN 1 ELSE 0 END)
    AS in_domain
FROM orders),
orphans AS (SELECT COUNT(*) AS n_orphan FROM orders o
  LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_custkey IS NULL),
rows_out AS (
  SELECT 'custkey_not_null' AS constraint, nn_cust * 1.0 / n AS metric,
         1.0 AS threshold FROM m UNION ALL
  SELECT 'custkey_referential', 1.0 - n_orphan * 1.0 / n, 1.0
    FROM m CROSS JOIN orphans UNION ALL
  SELECT 'orderdate_in_range', in_range * 1.0 / n, 1.0 FROM m UNION ALL
  SELECT 'orderkey_unique', ndv_key * 1.0 / n, 1.0 FROM m UNION ALL
  SELECT 'status_in_domain', in_domain * 1.0 / n, 1.0 FROM m UNION ALL
  SELECT 'totalprice_nonnegative', nonneg * 1.0 / n, 1.0 FROM m)
SELECT "constraint",
  {round_portable_sql('metric', 6)} AS metric, threshold,
  {round_portable_sql('metric', 6)} >= threshold AS passed
FROM rows_out ORDER BY "constraint" """,
)
def orders_quality_expectations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Data-quality EXPECTATIONS over a fact table (the Deequ/Great-
    Expectations shape a 100 TB ingest gate runs before publishing a
    snapshot): completeness (not-null rate), uniqueness (exact ndv/count
    — the one constraint paying a key shuffle; a monitoring deployment
    swaps in the HLL register estimate from the sketch family),
    domain membership, range conformance, and referential containment
    (orphan o_custkey rate via a broadcast left-anti count against the
    dimension). Every metric lands in ONE aggregation pass over the
    fact table + one bounded anti-join; the output is the per-constraint
    (metric, threshold, passed) audit row set — with orderdate_in_range
    deliberately FAILING on this corpus (orders run to 2001-08), so both
    verdict polarities are pinned by the oracle."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    n_orphan = (
        orders.join(
            F.broadcast(cust.select("c_custkey")),
            orders.o_custkey == cust.c_custkey,
            "left_anti",
        ).count()
    )
    m = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("o_orderkey").alias("ndv_key"),
        F.count("o_custkey").alias("nn_cust"),
        F.sum(
            F.when(F.col("o_totalprice") >= 0, 1).otherwise(0)
        ).alias("nonneg"),
        F.sum(
            F.when(
                F.date_format("o_orderdate", "yyyy-MM-dd").between(
                    _DQ_DATE_LO, _DQ_DATE_HI
                ),
                1,
            ).otherwise(0)
        ).alias("in_range"),
        F.sum(
            F.when(
                F.col("o_orderstatus").isin("O", "F", "P"), 1
            ).otherwise(0)
        ).alias("in_domain"),
    ).withColumn("n_orphan", F.lit(n_orphan))
    n = F.col("n").cast("double")
    rows = m.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("custkey_not_null").alias("constraint"),
                    (F.col("nn_cust") / n).alias("metric"),
                ),
                F.struct(
                    F.lit("custkey_referential").alias("constraint"),
                    (F.lit(1.0) - F.col("n_orphan") / n).alias("metric"),
                ),
                F.struct(
                    F.lit("orderdate_in_range").alias("constraint"),
                    (F.col("in_range") / n).alias("metric"),
                ),
                F.struct(
                    F.lit("orderkey_unique").alias("constraint"),
                    (F.col("ndv_key") / n).alias("metric"),
                ),
                F.struct(
                    F.lit("status_in_domain").alias("constraint"),
                    (F.col("in_domain") / n).alias("metric"),
                ),
                F.struct(
                    F.lit("totalprice_nonnegative").alias("constraint"),
                    (F.col("nonneg") / n).alias("metric"),
                ),
            )
        ).alias("r")
    ).select("r.constraint", "r.metric")
    return (
        rows.select(
            "constraint",
            round_portable("metric", 6).alias("metric"),
            F.lit(1.0).alias("threshold"),
            (round_portable("metric", 6) >= F.lit(1.0)).alias("passed"),
        )
        .orderBy("constraint")
    )


# ------------------------------------------- cohort retention (r13)


@register(
    "events_retention_cohorts",
    """WITH firsts AS (
  SELECT user_id, MIN(strftime(date_trunc('week', ts), '%Y-%m-%d'))
    AS cohort_week FROM events GROUP BY user_id),
activity AS (SELECT DISTINCT e.user_id, f.cohort_week,
    CAST(datediff('week', strptime(f.cohort_week, '%Y-%m-%d'),
         date_trunc('week', e.ts)) AS BIGINT) AS week_offset
  FROM events e JOIN firsts f USING (user_id)),
sizes AS (SELECT cohort_week, COUNT(*) AS cohort_users FROM firsts
          GROUP BY cohort_week)
SELECT a.cohort_week, a.week_offset,
  COUNT(DISTINCT a.user_id) AS n_active, s.cohort_users,
  (floor((COUNT(DISTINCT a.user_id) * 1.0 / s.cohort_users)::DOUBLE
         * 1000000.0 + 0.5) / 1000000.0) AS retention
FROM activity a JOIN sizes s USING (cohort_week)
GROUP BY a.cohort_week, a.week_offset, s.cohort_users
ORDER BY cohort_week, week_offset""",
)
def events_retention_cohorts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COHORT RETENTION — the canonical product-analytics matrix: users
    cohorted by first-activity week, each cohort's active-user fraction
    tracked by week offset. Two shuffles total at any scale: the
    first-touch aggregate (groupBy user, min week), then a broadcast of
    the per-user cohort label back onto the events scan — the label
    table is |users| rows, which is broadcastable far beyond test SF
    (and at true 100 TB user counts becomes the classic shuffle join on
    user_id with AQE handling skew); the final (cohort, offset) grid is
    bounded by weeks², never by events. Week arithmetic is epoch-aligned
    date_trunc in both engines; retention rounds portable."""
    ev = load_table(spark, sf_dir, "events")
    wk = F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd")
    firsts = (
        ev.select("user_id", wk.alias("w"))
        .groupBy("user_id")
        .agg(F.min("w").alias("cohort_week"))
    )
    sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    activity = (
        ev.select("user_id", wk.alias("w"))
        .distinct()
        .join(F.broadcast(firsts), "user_id")
        .select(
            "user_id",
            "cohort_week",
            # distinct (user, w) maps 1:1 to (user, offset) — w is
            # exactly cohort_week + 7·offset — so no second distinct
            (
                F.datediff(
                    F.to_date("w"), F.to_date("cohort_week")
                )
                / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
    )
    return (
        activity.groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_users",
            round_portable(
                F.col("n_active").cast("double") / F.col("cohort_users"),
                6,
            ).alias("retention"),
        )
        .orderBy("cohort_week", "week_offset")
    )


# --------------------------------------- value anomaly audit (r13)

_OUTLIER_Z = 3.0


@register(
    "events_value_outliers",
    f"""WITH cents AS (SELECT event_type,
    CAST(floor(value::DOUBLE * 100.0 + 0.5) AS BIGINT) AS c FROM events),
m AS (SELECT event_type, COUNT(*) AS n,
    SUM(c) AS s1, SUM(c * c) AS s2 FROM cents GROUP BY event_type),
stats AS (SELECT event_type, n,
    s1 / 100.0 / n AS mean,
    sqrt(GREATEST((s2 / 10000.0 - (s1 / 100.0) * (s1 / 100.0) / n)
                  / (n - 1), 0.0)) AS sd
  FROM m)
SELECT e.event_type, s.n AS n_events,
  {round_portable_sql('s.mean', 6)} AS mean_value,
  {round_portable_sql('s.sd', 6)} AS sd_value,
  CAST(SUM(CASE WHEN abs(e.value - s.mean) > {_OUTLIER_Z!r} * s.sd
           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
  {round_portable_sql(
      'MAX(abs(e.value - s.mean)) / s.sd', 4)} AS max_z
FROM events e JOIN stats s USING (event_type)
GROUP BY e.event_type, s.n, s.mean, s.sd
ORDER BY event_type""",
)
def events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension ANOMALY AUDIT: z-score outlier counts per event
    type — the monitoring pass a pipeline runs on every ingested batch.
    The moments are computed on EXACT INTEGER CENTS (value is a 2-dp
    grid; Σc and Σc² stay under 2^53, so both engines sum bit-exactly
    regardless of row order — the float-summation-order hazard that
    grid_avg documents is removed at the source, and only the final
    mean/σ division is floating point). Two passes over the scan (one
    for moments, one joined back for the z test) with the per-type
    stats BROADCAST — at 100 TB the moment pass is a map-side-combined
    8-row aggregate and the audit pass streams. Sample σ (n−1), the
    same estimator both engines name stddev."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value").cast("double") * 100.0 + F.lit(0.5)).cast(
        "long"
    )
    m = ev.select("event_type", cents.alias("c")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    stats = m.select(
        "event_type",
        "n",
        (F.col("s1") / 100.0 / F.col("n")).alias("mean"),
        F.sqrt(
            F.greatest(
                (
                    F.col("s2") / 10000.0
                    - (F.col("s1") / 100.0)
                    * (F.col("s1") / 100.0)
                    / F.col("n")
                )
                / (F.col("n") - 1),
                F.lit(0.0),
            )
        ).alias("sd"),
    )
    z = F.abs(F.col("value") - F.col("mean"))
    return (
        ev.join(F.broadcast(stats), "event_type")
        .groupBy("event_type", "n", "mean", "sd")
        .agg(
            F.sum(
                F.when(z > F.lit(_OUTLIER_Z) * F.col("sd"), 1).otherwise(0)
            ).alias("n_outliers"),
            F.max(z).alias("max_abs_dev"),
        )
        .select(
            "event_type",
            F.col("n").alias("n_events"),
            round_portable("mean", 6).alias("mean_value"),
            round_portable("sd", 6).alias("sd_value"),
            F.col("n_outliers").cast("long").alias("n_outliers"),
            round_portable(
                F.col("max_abs_dev") / F.col("sd"), 4
            ).alias("max_z"),
        )
        .orderBy("event_type")
    )

"""Classic TPC-H join-graph shapes (Q8/Q17/Q18/Q20/Q21/Q22) adapted
to the test schema — the decision-support query surface a user of the
reference's relational layer would expect (SURVEY §2.3-2.4 join/agg
families taken to their hard cases: correlated scalar subqueries,
HAVING semi-joins, multi-predicate EXISTS/NOT-EXISTS, dual-role
dimension joins).

Scale notes (each query's docstring says why the chosen plan survives
a 1000-executor / 100 TB run):

- Correlated per-group averages are computed with a *window over the
  group key* (one exchange; the same shuffle serves the correlation
  and the filter) instead of a self-join against a re-aggregated
  copy (two scans + two shuffles of the fact table).
- EXISTS / NOT EXISTS over the same grouping key are collapsed into
  one conditional aggregation per key — Spark shuffles the fact
  table once, instead of N self-joins (the classic Q21 plan, which
  shuffles lineitem three times).
- Scalar global aggregates join via ``F.broadcast`` (1-row
  BroadcastNestedLoopJoin), never a driver collect.
- SF-SCALING tables (part / supplier / customer and their filtered
  slices) carry NO explicit broadcast hint: at bench scale the
  size-threshold/AQE planner broadcasts them anyway, and at 100 TB a
  forced ``F.broadcast`` on a table that grows with the data is a
  driver OOM. Explicit hints are reserved for frames bounded by
  construction (nation/region, scalar aggregates, value-domain
  spines) — enforced repo-wide by
  ``tests/test_plans.py::test_broadcast_targets_are_bounded_frames``.
- Absolute thresholds are chosen on SF-invariant distributions
  (per-order quantity, ship-minus-order lag), so the queries stay
  selective-but-nonempty at any scale factor.

Float determinism follows the repo rule: exact decimal(18,2)
arithmetic until the final cast to double; ratios are double/double
divisions of decimal-exact sums (IEEE-identical in Spark and DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pipeline_usnvc_spark.plans.registry import _d38, _dec, query
from pipeline_usnvc_spark.sources.tables import load_table


_REV = "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"


def _rev_col() -> F.Column:
    return _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))


# ---------------------------------------------------------------------------
# q124 — TPC-H Q17 shape: revenue from unusually-small-quantity line
# items of one brand, where "unusually small" is relative to the
# part's own average quantity (correlated scalar subquery).
#
# Spark plan: broadcast the filtered part dim into lineitem (semi-
# join reduction BEFORE any shuffle — only ~1/25 of lineitem rows
# survive), then ONE hash exchange on l_partkey serves both the
# per-part average (unbounded window) and the correlated filter.
# The textbook self-join formulation scans and shuffles lineitem
# twice; this plan does each once.
# ---------------------------------------------------------------------------
@query(
    "q124_small_qty_revenue",
    oracle=f"""
    WITH per_part AS (
        SELECT l.l_partkey, l.l_quantity, l.l_extendedprice,
               CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l.l_partkey) AS DOUBLE)
                 / CAST(count(*) OVER (PARTITION BY l.l_partkey) AS DOUBLE) AS avg_qty
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#13'
    )
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
           count(*) AS n_small_lines
    FROM per_part
    WHERE l_quantity < 0.5 * avg_qty
    """,
)
def q124_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    w = Window.partitionBy("l_partkey")
    joined = li.join(part, li.l_partkey == part.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    with_avg = joined.withColumn(
        "avg_qty",
        F.sum(_dec("l_quantity")).over(w).cast("double") / F.count("*").over(w).cast("double"),
    )
    return with_avg.filter(F.col("l_quantity") < 0.5 * F.col("avg_qty")).agg(
        (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias("avg_yearly"),
        F.count("*").alias("n_small_lines"),
    )


# ---------------------------------------------------------------------------
# q125 — TPC-H Q18 shape: large-volume orders (HAVING-filtered agg
# used as a semi-join into the orders/customer join graph).
#
# Spark plan: lineitem aggregates once on its natural key; the
# HAVING filter shrinks the result by ~100x BEFORE it reaches the
# joins, and AQE turns the orders join into a broadcast at runtime.
# The per-order total rides along from the agg — no re-aggregation
# after the joins. Threshold 250 sits at the ~p99 of the per-order
# quantity distribution, which does not change with scale factor.
# ---------------------------------------------------------------------------
@query(
    "q125_large_volume_orders",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price,
           t.total_qty
    FROM (
        SELECT l_orderkey,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250
    ) t
    JOIN orders o ON o.o_orderkey = t.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q125_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("qty_dec"))
        .filter(F.col("qty_dec") > 250)
        .select("l_orderkey", F.col("qty_dec").cast("double").alias("total_qty"))
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            _dec("o_totalprice").cast("double").alias("total_price"),
            "total_qty",
        )
    )


# ---------------------------------------------------------------------------
# q126 — TPC-H Q20 shape: suppliers who moved an outsized share of a
# part family ("widget" parts), threshold relative to the average
# supplier so the query is scale-free.
#
# Spark plan: part dim filter broadcasts into lineitem (scan-side
# reduction), one exchange on l_suppkey for the per-supplier sums,
# the 1-row global average broadcasts back, and the surviving
# supplier keys (tiny) broadcast-semi-join into the supplier dim.
# Nothing large is shuffled twice.
# ---------------------------------------------------------------------------
@query(
    "q126_top_part_family_suppliers",
    oracle="""
    WITH supp_qty AS (
        SELECT l.l_suppkey,
               CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS family_qty
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_name LIKE '%widget%'
        GROUP BY l.l_suppkey
    ),
    avg_qty AS (
        SELECT CAST(sum(CAST(family_qty AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_qty
        FROM supp_qty
    )
    SELECT s.s_suppkey, s.s_name, q.family_qty
    FROM supp_qty q
    CROSS JOIN avg_qty a
    JOIN supplier s ON s.s_suppkey = q.l_suppkey
    WHERE q.family_qty > 1.1 * a.mean_qty
    """,
)
def q126_top_part_family_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    supp = load_table(spark, sf_dir, "supplier")
    supp_qty = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(_dec("l_quantity")).cast("double").alias("family_qty"))
    )
    mean_qty = supp_qty.agg(
        (F.sum(_dec("family_qty")).cast("double") / F.count("*").cast("double")).alias("mean_qty")
    )
    return (
        supp_qty.crossJoin(F.broadcast(mean_qty))
        .filter(F.col("family_qty") > 1.1 * F.col("mean_qty"))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "family_qty")
    )


# ---------------------------------------------------------------------------
# q127 — TPC-H Q21 shape: suppliers who were the SOLE late shipper in
# a multi-supplier order ("late" = shipped >700 days after the order
# date; the lag distribution is SF-invariant, p90 ≈ 1400 days).
#
# The textbook formulation is lineitem self-joined twice (EXISTS +
# NOT EXISTS) — three shuffles of the fact table. Spark-first: both
# existentials are per-order set properties. Two-phase aggregation:
# first dedup to (order, supplier, was_late) — plain counts/sums on
# that grain ARE the distinct counts — then fold to per-order flags.
# Measured 4.6x faster than the multi-countDistinct single groupBy at
# 10x data (Spark plans N distinct aggs via an Expand that triples
# every row through the exchange); lineitem is still scanned once,
# and the tiny qualifying set broadcast-joins into supplier.
# ---------------------------------------------------------------------------
@query(
    "q127_sole_late_supplier",
    oracle="""
    WITH per_order AS (
        SELECT l.l_orderkey,
               count(DISTINCT l.l_suppkey) AS n_supp,
               count(DISTINCT CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 700 DAY
                                   THEN l.l_suppkey END) AS n_late,
               max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 700 DAY
                        THEN l.l_suppkey END) AS late_supp
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY l.l_orderkey
    )
    SELECT s.s_suppkey, s.s_name, count(*) AS numwait
    FROM per_order p
    JOIN supplier s ON s.s_suppkey = p.late_supp
    WHERE p.n_supp > 1 AND p.n_late = 1
    GROUP BY s.s_suppkey, s.s_name
    """,
)
def q127_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = load_table(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 700 DAYS")
    per_pair = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(F.when(late, 1).otherwise(0)).alias("is_late"))
    )
    per_order = (
        per_pair.groupBy("l_orderkey")
        .agg(
            F.count("*").alias("n_supp"),
            F.sum("is_late").alias("n_late"),
            F.max(F.when(F.col("is_late") == 1, F.col("l_suppkey"))).alias("late_supp"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    return (
        per_order.join(supp, per_order.late_supp == supp.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("numwait"))
    )


# ---------------------------------------------------------------------------
# q128 — TPC-H Q22 shape: per-segment stats over rich-but-inactive
# customers — balance above the positive-balance average (scalar
# subquery, broadcast) and no recent order (NOT EXISTS, left-anti).
#
# Spark plan: the scalar average is a 1-row broadcast; the anti-join
# side is pre-filtered (only recent orders) and pre-projected to the
# join key, so the anti-join shuffles the minimum possible; AQE
# broadcasts it when small. Final agg groups on the low-cardinality
# segment.
# ---------------------------------------------------------------------------
@query(
    "q128_rich_inactive_customers",
    oracle="""
    WITH pos_avg AS (
        SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_bal
        FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_mktsegment, count(*) AS numcust,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer c
    CROSS JOIN pos_avg a
    WHERE c.c_acctbal > a.avg_bal
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY c.c_mktsegment
    """,
)
def q128_rich_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    pos_avg = cust.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count("*").cast("double")).alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(pos_avg))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# q129 — TPC-H Q8 shape: one nation's market share, per year, within
# one customer region. The nation dim joins in TWO roles (customer
# nation restricts the market; supplier nation is the share target).
#
# Spark plan: all dims (nation twice, supplier) broadcast; customer
# is the only shuffle join (on o_custkey), and the region filter on
# the customer side cuts that shuffle ~1/5 before the exchange. The
# share is a conditional decimal sum over the same groupBy — no
# second pass.
# ---------------------------------------------------------------------------
@query(
    "q129_nation_market_share",
    oracle=f"""
    SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(CAST(sum(CASE WHEN ns.n_name = 'NATION_7' THEN {_REV}
                              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                / CAST(sum({_REV}) AS DOUBLE) AS DOUBLE) AS mkt_share,
           CAST(sum({_REV}) AS DOUBLE) AS total_revenue
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
    WHERE nc.n_regionkey = 0
    GROUP BY year(o.o_orderdate)
    """,
)
def q129_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nc = nation.filter(F.col("n_regionkey") == 0).select(
        F.col("n_nationkey").alias("nc_nationkey")
    )
    ns = nation.select(
        F.col("n_nationkey").alias("ns_nationkey"), F.col("n_name").alias("supp_nation")
    )
    market_cust = cust.join(F.broadcast(nc), cust.c_nationkey == F.col("nc_nationkey")).select(
        "c_custkey"
    )
    rev = _rev_col()
    target_rev = F.when(F.col("supp_nation") == "NATION_7", rev).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(market_cust, orders.o_custkey == market_cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(ns), supp.s_nationkey == F.col("ns_nationkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (F.sum(target_rev).cast("double") / F.sum(rev).cast("double")).alias("mkt_share"),
            F.sum(rev).cast("double").alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# q136 — TPC-H Q5 shape: local-commerce revenue per nation within one
# region and year — supplier and customer must share a nation, so the
# nation dim constrains BOTH sides of the join graph.
#
# Spark plan: nation(region-filtered) and supplier broadcast; the
# s_nationkey = c_nationkey equality rides on the supplier broadcast
# join as an extra condition — no extra shuffle. orders/customer are
# the only exchanges; the year filter pushes into the orders scan.
# ---------------------------------------------------------------------------
@query(
    "q136_local_commerce_revenue",
    oracle=f"""
    SELECT n.n_name,
           CAST(sum({_REV}) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'AMERICA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def q136_local_commerce_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (supp.s_nationkey == cust.c_nationkey),
        )
        .join(F.broadcast(n), cust.c_nationkey == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.sum(_rev_col()).cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# q137 — TPC-H Q10 shape: top-20 customers by returned-goods revenue
# in a quarter. The LIMIT is a deterministic distributed top-k
# (TakeOrderedAndProject) keyed (revenue DESC, c_custkey) — exact
# decimal revenue makes the sort tie-free across engines.
# ---------------------------------------------------------------------------
@query(
    "q137_returned_top_customers",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(sum({_REV}) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-07-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q137_returned_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_rev_col()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q138 — TPC-H Q12 shape: urgent-vs-routine order counts per return
# flag over a ship-year — the two-conditional-sums-per-group pattern,
# one fact exchange, priority decode inline (no dimension needed).
# ---------------------------------------------------------------------------
@query(
    "q138_priority_by_returnflag",
    oracle="""
    SELECT l.l_returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS urgent_lines,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS routine_lines
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l.l_returnflag
    """,
)
def q138_priority_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("urgent_lines"),
            F.sum(F.when(~urgent, 1).otherwise(0)).alias("routine_lines"),
        )
    )


# ---------------------------------------------------------------------------
# q139 — TPC-H Q19 shape: revenue under an OR of brand/size/quantity
# conjunctions. The disjunction lives in the JOIN condition; Catalyst
# extracts the common p_partkey equality so it stays a broadcast hash
# join with the residual OR as a post-join filter — never a cartesian.
# ---------------------------------------------------------------------------
@query(
    "q139_disjunctive_revenue",
    oracle=f"""
    SELECT CAST(sum({_REV}) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#22' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#25' AND p.p_size BETWEEN 20 AND 50 AND l.l_quantity BETWEEN 25 AND 50)
    """,
)
def q139_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cond = (
        ((part.p_brand == "Brand#13") & part.p_size.between(1, 15) & li.l_quantity.between(1, 20))
        | ((part.p_brand == "Brand#22") & part.p_size.between(10, 30) & li.l_quantity.between(10, 30))
        | ((part.p_brand == "Brand#25") & part.p_size.between(20, 50) & li.l_quantity.between(25, 50))
    )
    return (
        li.join(part, (li.l_partkey == part.p_partkey) & cond)
        .agg(
            F.sum(_rev_col()).cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# q143 — TPC-H Q4 shape: orders with at least one late line item,
# counted per priority. The EXISTS is a left-semi join keyed on the
# fact table's natural key; the date filter prunes the orders scan.
# ---------------------------------------------------------------------------
@query(
    "q143_priority_order_check",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-04-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o.o_orderpriority
    """,
)
def q143_priority_order_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


# ---------------------------------------------------------------------------
# q144 — TPC-H Q13 shape: the customer order-count distribution
# (how many customers placed k orders, including zero). Left outer
# join + two-level aggregation; the zero bucket only exists because
# the join is OUTER — the classic distribution-with-absent-keys
# pattern.
# ---------------------------------------------------------------------------
@query(
    "q144_customer_order_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q144_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# ---------------------------------------------------------------------------
# q145 — TPC-H Q7 shape: shipping volume between two nations by year,
# in both directions (supplier nation ↔ customer nation) — the
# bidirectional-pair filter rides the two broadcast dimension joins.
# ---------------------------------------------------------------------------
@query(
    "q145_volume_shipping",
    oracle=f"""
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           CAST(sum({_REV}) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
    JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
    WHERE (ns.n_name = 'NATION_3' AND nc.n_name = 'NATION_9')
       OR (ns.n_name = 'NATION_9' AND nc.n_name = 'NATION_3')
    GROUP BY ns.n_name, nc.n_name, year(l.l_shipdate)
    """,
)
def q145_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    ns = nation.select(F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation"))
    nc = nation.select(F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation"))
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_9")
    ) | ((F.col("supp_nation") == "NATION_9") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(F.sum(_rev_col()).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# q146 — TPC-H Q9 shape: profit by supplier nation and year over a
# part-name family. Profit = revenue − cost, where cost stands in as
# retailprice·quantity (no partsupp table in this schema); all decimal
# arithmetic until the final cast.
# ---------------------------------------------------------------------------
@query(
    "q146_product_profit",
    oracle="""
    SELECT ns.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(sum(
               CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))
               - CAST(p.p_retailprice AS DECIMAL(18,2)) * CAST(l.l_quantity AS DECIMAL(18,2)) * CAST(0.08 AS DECIMAL(18,2))
           ) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%bolt%'
    GROUP BY ns.n_name, year(o.o_orderdate)
    """,
)
def q146_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("nation")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = _rev_col() - _dec("p_retailprice") * _dec("l_quantity") * F.lit(0.08).cast(
        "decimal(18,2)"
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("ns_key"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(F.sum(profit).cast("double").alias("profit"))
    )


# ---------------------------------------------------------------------------
# q154 — TPC-H Q6: the forecasting-revenue-change scan — pure
# filter + aggregate, no join. Every predicate (date range, discount
# band, quantity cap) must push into the parquet scan; the plan is a
# single scan → partial agg → 1-row final agg.
# ---------------------------------------------------------------------------
@query(
    "q154_forecast_revenue",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q154_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount")).cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# q155 — TPC-H Q14: promotion revenue share in a month — conditional
# decimal sum over the part-type dimension, double/double division of
# exact sums at the end. Part dim broadcasts.
# ---------------------------------------------------------------------------
@query(
    "q155_promo_share",
    oracle=f"""
    SELECT CAST(100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN {_REV}
                                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                / CAST(sum({_REV}) AS DOUBLE) AS DOUBLE) AS promo_share_pct,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-03-01' AND l.l_shipdate < TIMESTAMP '1997-04-01'
    """,
)
def q155_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _rev_col()
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(18,2)"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            (F.lit(100.0) * F.sum(promo).cast("double") / F.sum(rev).cast("double")).alias(
                "promo_share_pct"
            ),
            F.count("*").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# q156 — TPC-H Q15: top supplier(s) by quarterly revenue — a scalar
# max over an aggregate, joined back by equality (ties all surface,
# exactly the view-based original's semantics). The 1-row max
# broadcasts; the per-supplier aggregate is computed once (AQE reuses
# the exchange for both consumers).
# ---------------------------------------------------------------------------
@query(
    "q156_top_supplier",
    oracle=f"""
    WITH revenue0 AS (
        SELECT l_suppkey AS supplier_no, sum({_REV}) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    ),
    mx AS (SELECT max(total_rev) AS m FROM revenue0)
    SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_revenue
    FROM revenue0 r
    CROSS JOIN mx
    JOIN supplier s ON s.s_suppkey = r.supplier_no
    WHERE r.total_rev = mx.m
    """,
)
def q156_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    rev0 = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev_col()).alias("total_rev")
    )
    mx = rev0.agg(F.max("total_rev").alias("m"))
    return (
        rev0.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("m"))
        .join(supp, F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_revenue"))
    )


# ===========================================================================
# Derived partsupp — the three classic TPC-H shapes the suite lacked
# (Q2 correlated min-cost supplier, Q11 group-share-of-global HAVING,
# Q16 supplier-exclusion count-distinct) need a partsupp table that
# /root/testdata does not ship. Rather than a pytest-only fixture,
# partsupp is DERIVED deterministically from part × supplier with
# pure integer arithmetic, so the IDENTICAL formula runs as a CTE in
# the DuckDB oracle and the three queries stay fully oracle-paired
# and driver-checkable at any scale factor:
#
#   suppliers per part : 4 (i in 0..3)
#   ps_suppkey         = (p_partkey + i * (n_supp // 4 + 1)) % n_supp
#                        (distinct per part whenever n_supp >= 4)
#   ps_supplycost_cents= (p_partkey*1299721 + ps_suppkey*104729) % 90000
#                        + 10000          -- $100.00 .. $999.99, integer
#   ps_availqty        = (p_partkey*7919 + ps_suppkey*6361) % 9999 + 1
#
# Large prime multipliers wrap the modulus many times at every sf, so
# cost/qty behave pseudo-uniformly (no accidental monotonicity in
# p_partkey), and for a fixed part two suppliers can never tie on
# cost (104729 * |s1-s2| is never ≡ 0 mod 90000 for |s1-s2| < n_supp
# at the tested scales — asserted by test_plans' tie sweep). Costs
# stay in integer CENTS end-to-end (the repo's exact-sum discipline);
# dollars appear only in final outputs via the same cast expression
# on both engines.
#
# Scale note: partsupp is 4×|part| rows built from a broadcast 1-row
# supplier count — no shuffle to create it, and at 100 TB it would be
# generated map-side inside whatever scan consumes it.
# ===========================================================================

_PARTSUPP_CTE = """
    supp_n AS (SELECT CAST(count(*) AS BIGINT) AS n_supp FROM supplier),
    partsupp AS (
        SELECT ps_partkey, ps_suppkey,
               CAST((ps_partkey*1299721 + ps_suppkey*104729) % 90000 + 10000 AS BIGINT)
                 AS ps_supplycost_cents,
               CAST((ps_partkey*7919 + ps_suppkey*6361) % 9999 + 1 AS BIGINT) AS ps_availqty
        FROM (
            SELECT p.p_partkey AS ps_partkey,
                   CAST((p.p_partkey + reps.i * (sn.n_supp // 4 + 1)) % sn.n_supp AS BIGINT)
                     AS ps_suppkey
            FROM part p
            CROSS JOIN supp_n sn
            CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) reps
        )
    )
"""


def derived_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of ``_PARTSUPP_CTE`` (see block comment above)."""
    part = load_table(spark, sf_dir, "part").select("p_partkey")
    supp_n = (
        load_table(spark, sf_dir, "supplier")
        .agg(F.count("*").cast("bigint").alias("n_supp"))
    )
    step = F.floor(F.col("n_supp") / F.lit(4)).cast("bigint") + F.lit(1)
    keyed = (
        part.crossJoin(F.broadcast(supp_n))
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            "n_supp",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i"),
        )
        .select(
            "ps_partkey",
            ((F.col("ps_partkey") + F.col("i") * step) % F.col("n_supp"))
            .cast("bigint")
            .alias("ps_suppkey"),
        )
    )
    return keyed.select(
        "ps_partkey",
        "ps_suppkey",
        ((F.col("ps_partkey") * 1299721 + F.col("ps_suppkey") * 104729) % 90000 + 10000)
        .cast("bigint")
        .alias("ps_supplycost_cents"),
        ((F.col("ps_partkey") * 7919 + F.col("ps_suppkey") * 6361) % 9999 + 1)
        .cast("bigint")
        .alias("ps_availqty"),
    )


# ---------------------------------------------------------------------------
# q213 — TPC-H Q2 shape: for every STANDARD mid-size part, the single
# cheapest ASIA supplier (correlated scalar MIN subquery per part),
# with supplier account details, top-100 by account balance.
#
# Spark plan: the region→nation→supplier dim chain broadcasts into
# the derived partsupp (map-side semi-join reduction), then ONE hash
# exchange on ps_partkey serves both the per-part MIN window and the
# equality filter — the textbook formulation scans and shuffles
# partsupp twice (once for the subquery aggregate, once to join it
# back). The final top-100 is a TakeOrderedAndProject (per-partition
# heap + driver merge), never a global sort. Ordering is made total
# by folding the unique p_partkey in after s_acctbal, so LIMIT is
# deterministic on both engines.
# ---------------------------------------------------------------------------
@query(
    "q213_min_cost_supplier",
    oracle=f"""
    WITH {_PARTSUPP_CTE},
    asia_supp AS (
        SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
        FROM supplier s
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'ASIA'
    ),
    ranked AS (
        SELECT p.p_partkey, p.p_type, p.p_size,
               a.s_name, a.s_acctbal, a.n_name,
               ps.ps_supplycost_cents,
               min(ps.ps_supplycost_cents)
                 OVER (PARTITION BY p.p_partkey) AS min_cents
        FROM partsupp ps
        JOIN asia_supp a ON a.s_suppkey = ps.ps_suppkey
        JOIN part p ON p.p_partkey = ps.ps_partkey
        WHERE p.p_type = 'STANDARD' AND p.p_size BETWEEN 10 AND 20
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_type, p_size,
           CAST(ps_supplycost_cents AS DOUBLE) / 100.0 AS supplycost
    FROM ranked
    WHERE ps_supplycost_cents = min_cents
    ORDER BY s_acctbal DESC, p_partkey
    LIMIT 100
    """,
)
def q213_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = derived_partsupp(spark, sf_dir)
    part = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_type") == "STANDARD") & F.col("p_size").between(10, 20))
        .select("p_partkey", "p_type", "p_size")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    w = Window.partitionBy("p_partkey")
    ranked = (
        ps.join(asia, ps.ps_suppkey == F.col("s_suppkey"))
        .join(part, ps.ps_partkey == part.p_partkey)
        .withColumn("min_cents", F.min("ps_supplycost_cents").over(w))
        .filter(F.col("ps_supplycost_cents") == F.col("min_cents"))
    )
    return (
        ranked.select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_type", "p_size",
            (F.col("ps_supplycost_cents").cast("double") / F.lit(100.0)).alias("supplycost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "p_partkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q214 — TPC-H Q11 shape: per-part stock value held by EUROPE
# suppliers, keeping parts whose value exceeds 1.5× the mean part
# value (group-share-of-global HAVING). All arithmetic is integer
# cents; the share comparison is cross-multiplied into DECIMAL(38,0)
# (value * n_parts > 1.5 * total → 2*value*n_parts > 3*total) so
# NO division ever happens and the HAVING threshold is bit-exact on
# both engines at any scale.
#
# Spark plan: one hash exchange on ps_partkey for the per-part sums;
# the global total and part count come from a second aggregation of
# the SAME tiny per-part frame (parts-grain, not partsupp-grain) and
# broadcast back as one row.
# ---------------------------------------------------------------------------
@query(
    "q214_part_value_share",
    oracle=f"""
    WITH {_PARTSUPP_CTE},
    eu_ps AS (
        SELECT ps.ps_partkey,
               ps.ps_supplycost_cents * ps.ps_availqty AS line_value
        FROM partsupp ps
        JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_regionkey = 3
    ),
    per_part AS (
        SELECT ps_partkey, CAST(sum(line_value) AS BIGINT) AS value_cents
        FROM eu_ps GROUP BY ps_partkey
    ),
    tot AS (
        SELECT CAST(sum(value_cents) AS BIGINT) AS total_cents,
               CAST(count(*) AS BIGINT) AS n_parts
        FROM per_part
    )
    SELECT p.ps_partkey AS p_partkey, p.value_cents
    FROM per_part p CROSS JOIN tot
    WHERE CAST(2 AS DECIMAL(38,0)) * CAST(p.value_cents AS DECIMAL(38,0))
            * CAST(tot.n_parts AS DECIMAL(38,0))
          > CAST(3 AS DECIMAL(38,0)) * CAST(tot.total_cents AS DECIMAL(38,0))
    """,
)
def q214_part_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = derived_partsupp(spark, sf_dir)
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_regionkey") == 3)
        .select("n_nationkey")
    )
    eu = (
        ps.join(supp, ps.ps_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "ps_partkey",
            (F.col("ps_supplycost_cents") * F.col("ps_availqty")).alias("line_value"),
        )
    )
    per_part = eu.groupBy("ps_partkey").agg(
        F.sum("line_value").cast("bigint").alias("value_cents")
    )
    tot = per_part.agg(
        F.sum("value_cents").cast("bigint").alias("total_cents"),
        F.count("*").cast("bigint").alias("n_parts"),
    )
    return (
        per_part.crossJoin(F.broadcast(tot))
        .filter(
            _d38(F.lit(2)) * _d38(F.col("value_cents")) * _d38(F.col("n_parts"))
            > _d38(F.lit(3)) * _d38(F.col("total_cents"))
        )
        .select(F.col("ps_partkey").alias("p_partkey"), "value_cents")
    )


# ---------------------------------------------------------------------------
# q215 — TPC-H Q16 shape: how many distinct suppliers can provide
# each (brand, type, size) part family, EXCLUDING blacklisted
# suppliers (negative account balance — the "customer complaints"
# NOT IN subquery of the original).
#
# Spark plan: the blacklist is a broadcast LEFT ANTI join (never a
# NOT IN rewrite into a nested-loop); the distinct count shuffles
# the (family, suppkey) pairs once. At 100 TB the anti side stays a
# broadcast (it is a filtered supplier dim), so the only exchange is
# the final family-keyed aggregate.
# ---------------------------------------------------------------------------
@query(
    "q215_supplier_exclusion_count",
    oracle=f"""
    WITH {_PARTSUPP_CTE}
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT ps.ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM partsupp ps
    JOIN part p ON p.p_partkey = ps.ps_partkey
    WHERE p.p_type <> 'MEDIUM'
      AND p.p_size IN (1, 4, 7, 14, 23, 36, 45, 49)
      AND ps.ps_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q215_supplier_exclusion_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = derived_partsupp(spark, sf_dir)
    part = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_type") != "MEDIUM")
            & F.col("p_size").isin(1, 4, 7, 14, 23, 36, 45, 49)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    blacklist = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        ps.join(blacklist, ps.ps_suppkey == F.col("s_suppkey"), "left_anti")
        .join(part, ps.ps_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("ps_suppkey").cast("bigint").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# q234 — shipping SLA report: per order priority, the share of line
# items shipped within 365 days of order date, plus p90 ship lag
# (exact integer-day quantile via the rank method — no
# interpolation: the value at ceil(0.9·n) in lag order). Shares are
# exact-int divisions; the p90 pick is tie-broken by (orderkey,
# linenumber). The lineitem↔orders join is the fact-to-fact equi-join
# on l_orderkey with AQE handling the skew.
# ---------------------------------------------------------------------------
@query(
    "q234_shipping_sla",
    oracle="""
    WITH lags AS (
        SELECT o.o_orderpriority,
               CAST(date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lag_days,
               l.l_orderkey, l.l_linenumber
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    ranked AS (
        SELECT o_orderpriority, lag_days,
               CAST(row_number() OVER (PARTITION BY o_orderpriority
                    ORDER BY lag_days, l_orderkey, l_linenumber) AS BIGINT) AS r,
               CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n
        FROM lags
    )
    SELECT o_orderpriority,
           CAST(max(n) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN lag_days <= 365 THEN 1 ELSE 0 END) AS BIGINT) AS n_within_sla,
           CAST(sum(CASE WHEN lag_days <= 365 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(max(n) AS DOUBLE) AS sla_share,
           CAST(max(CASE WHEN r = (9 * n + 9) // 10 THEN lag_days END) AS BIGINT) AS p90_lag_days
    FROM ranked GROUP BY o_orderpriority
    """,
)
def q234_shipping_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lags = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
        .cast("bigint")
        .alias("lag_days"),
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        "lag_days", "l_orderkey", "l_linenumber"
    )
    wn = Window.partitionBy("o_orderpriority")
    ranked = lags.withColumn("r", F.row_number().over(w).cast("bigint")).withColumn(
        "n", F.count("*").over(wn).cast("bigint")
    )
    within = F.sum(F.when(F.col("lag_days") <= 365, 1).otherwise(0)).cast("bigint")
    # rank-method p90: the row where r == ceil(0.9·n) = (9n+9) div 10
    # — pure integers, no float boundary. (The first draft's identity
    # `10r == 9n + (9n mod 10)` only has solutions when n % 5 == 0,
    # which NULLed p90 for most groups — r4 review catch, regression
    # test in test_oracle_parity.)
    p90_hit = F.when(
        F.col("r") == F.expr("(9 * n + 9) div 10"), F.col("lag_days")
    )
    return ranked.groupBy("o_orderpriority").agg(
        F.max("n").cast("bigint").alias("n_lines"),
        within.alias("n_within_sla"),
        (within.cast("double") / F.max("n").cast("double")).alias("sla_share"),
        F.max(p90_hit).cast("bigint").alias("p90_lag_days"),
    )


# ---------------------------------------------------------------------------
# q294 — seasonal-naive forecast backtest: predict each month's
# revenue with the SAME month last year (the baseline every real
# forecaster must beat) and report per-month absolute percent error
# plus the cents-exact MAE numerator. Exact: monthly revenue in
# integer cents; errors are |actual − predicted| BIGINTs; only the
# final percentage is a double of two exact ints. Month grain → one
# exchange then a tiny lag join.
# ---------------------------------------------------------------------------
@query(
    "q294_seasonal_naive_backtest",
    oracle="""
    WITH monthly AS (
        SELECT CAST(extract(year FROM o_orderdate) AS INT) AS yr,
               CAST(extract(month FROM o_orderdate) AS INT) AS mo,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        FROM orders GROUP BY 1, 2
    ),
    joined AS (
        SELECT cur.yr, cur.mo, cur.rev_cents,
               prior.rev_cents AS predicted_cents
        FROM monthly cur
        JOIN monthly prior ON prior.yr = cur.yr - 1 AND prior.mo = cur.mo
    )
    SELECT yr, mo, rev_cents, predicted_cents,
           CAST(abs(rev_cents - predicted_cents) AS BIGINT) AS abs_err_cents,
           100.0 * CAST(abs(rev_cents - predicted_cents) AS DOUBLE)
             / CAST(rev_cents AS DOUBLE) AS ape_pct
    FROM joined WHERE rev_cents > 0
    """,
)
def q294_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents")
    )
    cur, prior = monthly.alias("cur"), monthly.alias("prior")
    joined = cur.join(
        prior,
        (F.col("prior.yr") == F.col("cur.yr") - 1)
        & (F.col("prior.mo") == F.col("cur.mo")),
    ).select(
        F.col("cur.yr").alias("yr"),
        F.col("cur.mo").alias("mo"),
        F.col("cur.rev_cents").alias("rev_cents"),
        F.col("prior.rev_cents").alias("predicted_cents"),
    )
    err = F.abs(F.col("rev_cents") - F.col("predicted_cents")).cast("bigint")
    return joined.filter(F.col("rev_cents") > 0).select(
        "yr",
        "mo",
        "rev_cents",
        "predicted_cents",
        err.alias("abs_err_cents"),
        (F.lit(100.0) * err.cast("double") / F.col("rev_cents").cast("double")).alias(
            "ape_pct"
        ),
    )


# ---------------------------------------------------------------------------
# q295 — basket-size dispersion: the distribution of lines-per-order
# plus its index of dispersion (variance / mean — the Poisson-ness
# check data profilers run before assuming independence). Exactness:
# basket sizes are exact ints; variance comes from the integer
# sufficient statistics (n, Σk, Σk²) and the final index is one
# double expression of exact ints on both engines.
# ---------------------------------------------------------------------------
@query(
    "q295_dispersion_index",
    oracle="""
    WITH baskets AS (
        SELECT l_orderkey, CAST(count(*) AS BIGINT) AS k
        FROM lineitem GROUP BY l_orderkey
    ),
    hist AS (SELECT k, CAST(count(*) AS BIGINT) AS n_orders FROM baskets GROUP BY k),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(k) AS BIGINT) AS sk,
               CAST(sum(CAST(k AS DECIMAL(38,0)) * CAST(k AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS skk
        FROM baskets
    )
    SELECT h.k AS basket_size, h.n_orders,
           (CAST(s.n AS DOUBLE) * CAST(s.skk AS DOUBLE) - CAST(s.sk AS DOUBLE) * CAST(s.sk AS DOUBLE))
             / (CAST(s.n AS DOUBLE) * CAST(s.n AS DOUBLE))
             / (CAST(s.sk AS DOUBLE) / CAST(s.n AS DOUBLE)) AS dispersion_index
    FROM hist h CROSS JOIN stats s
    """,
)
def q295_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(F.count("*").cast("bigint").alias("k"))
    hist = baskets.groupBy("k").agg(F.count("*").cast("bigint").alias("n_orders"))
    stats = baskets.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("sk"),
        F.sum(_d38(F.col("k")) * _d38(F.col("k"))).cast("decimal(38,0)").alias("skk"),
    )
    nd = F.col("n").cast("double")
    var = (nd * F.col("skk").cast("double") - F.col("sk").cast("double") * F.col("sk").cast("double")) / (nd * nd)
    mean = F.col("sk").cast("double") / nd
    return (
        hist.crossJoin(F.broadcast(stats))
        .select(
            F.col("k").alias("basket_size"),
            "n_orders",
            (var / mean).alias("dispersion_index"),
        )
    )


# ---------------------------------------------------------------------------
# q296 — discount-response curve: per discount band (cents-exact
# banding of the discount column), average quantity sold and the
# band-over-band delta (lag) — the "does a deeper discount move
# volume" merchandising read. Decimal-exact sums; band keys are
# exact integers (floor of discount·100).
# ---------------------------------------------------------------------------
@query(
    "q296_discount_response",
    oracle="""
    WITH bands AS (
        SELECT CAST(floor(l_discount * 100) AS BIGINT) AS discount_pct,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        FROM lineitem GROUP BY 1
    )
    SELECT discount_pct, n_lines,
           total_qty / CAST(n_lines AS DOUBLE) AS avg_qty,
           total_qty / CAST(n_lines AS DOUBLE)
             - lag(total_qty / CAST(n_lines AS DOUBLE)) OVER (ORDER BY discount_pct) AS delta_vs_prev_band
    FROM bands
    """,
)
def q296_discount_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    bands = li.groupBy(
        F.floor(F.col("l_discount") * 100).cast("bigint").alias("discount_pct")
    ).agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("total_qty"),
    )
    avg_qty = F.col("total_qty") / F.col("n_lines").cast("double")
    w = Window.orderBy("discount_pct")
    return bands.select(
        "discount_pct",
        "n_lines",
        avg_qty.alias("avg_qty"),
        (avg_qty - F.lag(avg_qty).over(w)).alias("delta_vs_prev_band"),
    )


# ---------------------------------------------------------------------------
# q297 — supplier revenue concentration (Herfindahl–Hirschman index)
# per nation: HHI = Σ share_i² computed WITHOUT per-share floats —
# Σ(rev_i²) / (Σrev_i)² over integer cents with DECIMAL(38,0)
# squares, one double division at the end. The market-concentration
# lens on the supply base; nation grain after one supplier-keyed
# exchange.
# ---------------------------------------------------------------------------
@query(
    "q297_supplier_hhi",
    oracle="""
    WITH supp_rev AS (
        SELECT s.s_nationkey, l.l_suppkey,
               CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        GROUP BY s.s_nationkey, l.l_suppkey
    ),
    per_nation AS (
        SELECT s_nationkey,
               CAST(count(*) AS BIGINT) AS n_suppliers,
               CAST(sum(CAST(rev_cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS total_rev,
               CAST(sum(CAST(rev_cents AS DECIMAL(38,0)) * CAST(rev_cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sum_sq
        FROM supp_rev GROUP BY s_nationkey
    )
    SELECT s_nationkey, n_suppliers,
           CAST(total_rev AS BIGINT) AS total_rev_cents,
           CAST(sum_sq AS DOUBLE) / (CAST(total_rev AS DOUBLE) * CAST(total_rev AS DOUBLE)) AS hhi
    FROM per_nation WHERE total_rev > 0
    """,
)
def q297_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    supp_rev = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("rev_cents")
        )
    )
    per_nation = supp_rev.groupBy("s_nationkey").agg(
        F.count("*").cast("bigint").alias("n_suppliers"),
        F.sum(_d38(F.col("rev_cents"))).cast("decimal(38,0)").alias("total_rev"),
        F.sum(_d38(F.col("rev_cents")) * _d38(F.col("rev_cents")))
        .cast("decimal(38,0)")
        .alias("sum_sq"),
    )
    return per_nation.filter(F.col("total_rev") > 0).select(
        "s_nationkey",
        "n_suppliers",
        F.col("total_rev").cast("bigint").alias("total_rev_cents"),
        (
            F.col("sum_sq").cast("double")
            / (F.col("total_rev").cast("double") * F.col("total_rev").cast("double"))
        ).alias("hhi"),
    )


# ---------------------------------------------------------------------------
# q303 — day-of-week seasonality index: each weekday's average order
# value relative to the overall average (index 1.0 = typical day).
# Both averages are ratios of exact integer cents and counts; the
# index divides the two identical-expression doubles. dow keys are
# engine-aligned via ISO day numbers.
# ---------------------------------------------------------------------------
@query(
    "q303_dow_seasonality",
    oracle="""
    WITH per_dow AS (
        SELECT CAST(isodow(o_orderdate) AS INT) AS iso_dow,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        FROM orders GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(n_orders) AS BIGINT) AS n_all,
               CAST(sum(rev_cents) AS BIGINT) AS rev_all
        FROM per_dow
    )
    SELECT p.iso_dow, p.n_orders, p.rev_cents,
           (CAST(p.rev_cents AS DOUBLE) / CAST(p.n_orders AS DOUBLE))
             / (CAST(t.rev_all AS DOUBLE) / CAST(t.n_all AS DOUBLE)) AS seasonality_index
    FROM per_dow p CROSS JOIN tot t
    """,
)
def q303_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # Repo idiom (q72): Spark weekday()+1 == DuckDB isodow.
    iso_dow = (F.weekday("o_orderdate") + 1).cast("int")
    per_dow = o.groupBy(iso_dow.alias("iso_dow")).agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents"),
    )
    tot = per_dow.agg(
        F.sum("n_orders").cast("bigint").alias("n_all"),
        F.sum("rev_cents").cast("bigint").alias("rev_all"),
    )
    return per_dow.crossJoin(F.broadcast(tot)).select(
        "iso_dow",
        "n_orders",
        "rev_cents",
        (
            (F.col("rev_cents").cast("double") / F.col("n_orders").cast("double"))
            / (F.col("rev_all").cast("double") / F.col("n_all").cast("double"))
        ).alias("seasonality_index"),
    )


# ---------------------------------------------------------------------------
# q309 — inventory turns from the DERIVED partsupp (another consumer
# of the q213 partsupp derivation, proving it composes): per part,
# units sold vs total available quantity across its four suppliers,
# with a velocity band. Turns is the one double division of two
# exact integers; the partsupp side aggregates to part grain before
# the join so lineitem joins a part-keyed dim, not a 4x-wider one.
# ---------------------------------------------------------------------------
@query(
    "q309_inventory_turns",
    oracle=f"""
    WITH {_PARTSUPP_CTE},
    avail AS (
        SELECT ps_partkey, CAST(sum(ps_availqty) AS BIGINT) AS total_avail
        FROM partsupp GROUP BY ps_partkey
    ),
    sold AS (
        SELECT l_partkey, CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS units_sold
        FROM lineitem GROUP BY l_partkey
    )
    SELECT s.l_partkey AS p_partkey, s.units_sold, a.total_avail,
           CAST(s.units_sold AS DOUBLE) / CAST(a.total_avail AS DOUBLE) AS turns,
           CASE WHEN 10 * s.units_sold >= 2 * a.total_avail THEN 'fast'
                WHEN 10 * s.units_sold >= a.total_avail THEN 'medium'
                ELSE 'slow' END AS velocity
    FROM sold s JOIN avail a ON a.ps_partkey = s.l_partkey
    WHERE a.total_avail > 0
    """,
)
def q309_inventory_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = derived_partsupp(spark, sf_dir)
    avail = ps.groupBy("ps_partkey").agg(
        F.sum("ps_availqty").cast("bigint").alias("total_avail")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    sold = li.groupBy("l_partkey").agg(
        F.sum(F.floor("l_quantity").cast("bigint")).cast("bigint").alias("units_sold")
    )
    joined = sold.join(
        avail, sold.l_partkey == avail.ps_partkey
    ).filter(F.col("total_avail") > 0)
    return joined.select(
        F.col("l_partkey").alias("p_partkey"),
        "units_sold",
        "total_avail",
        (F.col("units_sold").cast("double") / F.col("total_avail").cast("double")).alias(
            "turns"
        ),
        F.when(10 * F.col("units_sold") >= 2 * F.col("total_avail"), "fast")
        .when(10 * F.col("units_sold") >= F.col("total_avail"), "medium")
        .otherwise("slow")
        .alias("velocity"),
    )


# ---------------------------------------------------------------------------
# q262 — exact shipping lead-time percentiles WITHOUT a global sort:
# lead time (ship date − order date) is small-integer-valued, so the
# exact p50/p90/p99 fall out of a gap-day HISTOGRAM — one fact join +
# one rollup to ≤ ~200 day-gap rows, a cumulative window over that
# tiny grain, and an integer threshold compare (100·cum ≥ p·n). The
# standard trick for exact percentiles of low-cardinality measures at
# any scale (the value domain, not the row count, bounds the state).
# ---------------------------------------------------------------------------
@query(
    "q262_leadtime_percentiles",
    oracle="""
    WITH gaps AS (
        SELECT CAST(date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS BIGINT) AS gap_days,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1
    ),
    cum AS (
        SELECT gap_days, n,
               CAST(sum(n) OVER (ORDER BY gap_days
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c,
               CAST(sum(n) OVER () AS BIGINT) AS total
        FROM gaps
    )
    SELECT p.pct,
           CAST(min(c.gap_days) FILTER (WHERE 100 * c.c >= p.pct * c.total) AS BIGINT) AS gap_days,
           CAST(max(c.total) AS BIGINT) AS n_lines
    FROM cum c CROSS JOIN (SELECT unnest([50, 90, 99]) AS pct) p
    GROUP BY p.pct
    """,
)
def q262_leadtime_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    gaps = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
            .cast("bigint")
            .alias("gap_days")
        )
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    # windows over the ≤ ~200-row gap histogram, never lineitem
    w_cum = Window.orderBy("gap_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy(F.lit(1))
    cum = gaps.select(
        "gap_days",
        F.sum("n").over(w_cum).cast("bigint").alias("c"),
        F.sum("n").over(w_all).cast("bigint").alias("total"),
    )
    spine = spark.createDataFrame([(50,), (90,), (99,)], "pct int").coalesce(1)
    crossed = _d38(F.lit(100)) * _d38(F.col("c")) >= _d38(F.col("pct")) * _d38(
        F.col("total")
    )
    return (
        cum.crossJoin(F.broadcast(spine))
        .groupBy("pct")
        .agg(
            F.min(F.when(crossed, F.col("gap_days"))).cast("bigint").alias("gap_days"),
            F.max("total").cast("bigint").alias("n_lines"),
        )
    )

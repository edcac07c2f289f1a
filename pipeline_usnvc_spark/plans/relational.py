"""Core relational queries — the reference's scan/filter/join/nest
surface (SURVEY §2.1-2.5) mapped onto the TPC-H-ish test tables.

Float determinism rule used throughout: monetary aggregates are
computed on ``decimal(18,2)`` casts (exact arithmetic, identical in
Spark and DuckDB) and only the final value is cast to double, so the
hash compare is exact without tolerances.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipeline_usnvc_spark.functions.text import clean_string, split_flagged_codes
from pipeline_usnvc_spark.operators.joins import decode_dimension, star_join
from pipeline_usnvc_spark.operators.nest import attach_nested
from pipeline_usnvc_spark.plans.registry import _dec, query
from pipeline_usnvc_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# q01 — grouped aggregation (TPC-H Q1 shape): the A-family operators
# (SURVEY §2.4) plus filter pushdown into the parquet scan.
# ---------------------------------------------------------------------------
@query(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count("*").cast("double")).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# q02 — projection + predicate filters (P1/P2/P5): null guards and
# conditional field inclusion, pushed down to the scan.
# ---------------------------------------------------------------------------
@query(
    "q02_filter_project",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_totalprice > 100000 THEN 'big' ELSE 'small' END AS size_class,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_2dp
    FROM orders
    WHERE o_orderstatus IS NOT NULL AND o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
)
def q02_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderstatus").isNotNull() & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(F.col("o_totalprice") > 100000, F.lit("big")).otherwise(F.lit("small")).alias("size_class"),
            _dec("o_totalprice").cast("double").alias("total_2dp"),
        )
    )


# ---------------------------------------------------------------------------
# q03 — multi-way join + agg + order + limit (J-family + A4/A5).
# Join strategy: lineitem⋈orders shuffles on the key; customer decode
# broadcasts. Top-N via sort+limit (Spark TakeOrderedAndProject).
# ---------------------------------------------------------------------------
@query(
    "q03_top_revenue_orders",
    oracle="""
    SELECT o.o_orderkey, c.c_mktsegment,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
                    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, c.c_mktsegment
    ORDER BY revenue DESC, o.o_orderkey
    LIMIT 10
    """,
)
def q03_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "c_mktsegment")
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q04 — dimension-decode chain with rename-then-join (reference J2:
# usnvc.py:115-120 renames D_CLASSIF_CONFIDENCE_ID before joining).
# Both dims broadcast; the fact never shuffles.
# ---------------------------------------------------------------------------
@query(
    "q04_dim_decode_chain",
    oracle="""
    SELECT n.n_name AS nation_name, r.r_name AS region_name, count(*) AS n_customers
    FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
)
def q04_dim_decode_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation").withColumnRenamed("n_nationkey", "c_nationkey")
    region = load_table(spark, sf_dir, "region").withColumnRenamed("r_regionkey", "n_regionkey")
    decoded = decode_dimension(cust, nation, "c_nationkey", how="inner")
    decoded = decode_dimension(decoded, region, "n_regionkey", how="inner")
    return decoded.groupBy(
        F.col("n_name").alias("nation_name"), F.col("r_name").alias("region_name")
    ).agg(F.count("*").alias("n_customers"))


# ---------------------------------------------------------------------------
# q05 — left join + per-key nesting (reference J10/A2, the
# pandas-lookup→groupBy/collect_list rewrite). The nested array is
# surfaced as a canonical comma-joined string so the oracle compare is
# representation-stable across engines.
# ---------------------------------------------------------------------------
@query(
    "q05_nest_orders_per_customer",
    oracle="""
    SELECT c.c_custkey,
           coalesce(o.n_orders, 0) AS n_orders,
           o.order_keys
    FROM customer c
    LEFT JOIN (
        SELECT o_custkey,
               count(*) AS n_orders,
               string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS order_keys
        FROM orders GROUP BY o_custkey
    ) o ON c.c_custkey = o.o_custkey
    """,
)
def q05_nest_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "c_custkey")
    nested = attach_nested(
        cust.select("c_custkey"),
        orders,
        key="c_custkey",
        payload=["o_orderkey"],
        order_by="o_orderkey",
        out_col="order_structs",
    )
    return nested.select(
        "c_custkey",
        # robust to both ANSI modes: legacy size(NULL) = -1, so coalesce
        # alone would leak -1 for order-less customers on an ANSI-off
        # runtime — branch on the null explicitly
        F.when(F.col("order_structs").isNull(), F.lit(0))
        .otherwise(F.size("order_structs"))
        .cast("long")
        .alias("n_orders"),
        F.when(
            F.col("order_structs").isNotNull(),
            F.concat_ws(",", F.transform(F.col("order_structs"), lambda s: s["o_orderkey"].cast("string"))),
        ).alias("order_keys"),
    )


# ---------------------------------------------------------------------------
# q06 — conditional fields + cast-with-fallback (P5/P6 + E6) over the
# semi-structured events.props JSON string.
# ---------------------------------------------------------------------------
@query(
    "q06_conditional_extract",
    oracle="""
    SELECT event_id, event_type,
           coalesce(CAST(nullif(regexp_extract(props, '"k": (-?[0-9]+)', 1), '') AS BIGINT), 0) AS k_value,
           CASE WHEN value IS NOT NULL AND value > 50 THEN CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) END AS big_value
    FROM events
    WHERE event_type IN ('click', 'purchase')
    """,
)
def q06_conditional_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    extracted = F.regexp_extract("props", '"k": (-?[0-9]+)', 1)
    return ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "event_type",
        # E6 cast-with-fallback: unparseable → 0 (reference usnvc.py:437-440)
        F.coalesce(F.nullif(extracted, F.lit("")).cast("bigint"), F.lit(0)).alias("k_value"),
        F.when(F.col("value").isNotNull() & (F.col("value") > 50), _dec("value").cast("double")).alias("big_value"),
    )


# ---------------------------------------------------------------------------
# q07 — string cleaning (E1) + concat: HTML entities synthesized onto
# part names, unescaped with the reference's 3-entity chain.
# ---------------------------------------------------------------------------
@query(
    "q07_clean_string",
    oracle="""
    SELECT p_partkey,
           replace(replace(replace(
               p_name || ' &amp; ' || p_brand || ' &lt;' || p_type || '&gt;',
               '&amp;', '&'), '&lt;', '<'), '&gt;', '>') AS clean_label
    FROM part
    """,
)
def q07_clean_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    dirty = "concat(p_name, ' &amp; ', p_brand, ' &lt;', p_type, '&gt;')"
    return part.selectExpr("p_partkey", f"{clean_string(dirty)} AS clean_label")


# ---------------------------------------------------------------------------
# q08 — multi-branch CASE title expression (E2 display-title shape).
# ---------------------------------------------------------------------------
@query(
    "q08_display_title",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN o_orderpriority || ' ' || o_orderstatus || ' priority'
                WHEN o_orderpriority IN ('3-MEDIUM') THEN o_orderpriority || ' ' || o_orderstatus
                ELSE 'routine ' || o_orderstatus END AS title
    FROM orders
    """,
)
def q08_display_title(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    p, s = F.col("o_orderpriority"), F.col("o_orderstatus")
    title = (
        F.when(p.isin("1-URGENT", "2-HIGH"), F.concat(p, F.lit(" "), s, F.lit(" priority")))
        .when(p.isin("3-MEDIUM"), F.concat(p, F.lit(" "), s))
        .otherwise(F.concat(F.lit("routine "), s))
    )
    return orders.select("o_orderkey", title.alias("title"))


# ---------------------------------------------------------------------------
# q09 — split-and-flag parse (E4, reference nations list usnvc.py:355-366)
# exploded to rows: trailing '?' marks uncertainty.
# ---------------------------------------------------------------------------
@query(
    "q09_split_flags",
    oracle="""
    SELECT p_partkey,
           trim(replace(tok, '?', '')) AS abbreviation,
           CASE WHEN trim(tok) LIKE '%?' THEN true ELSE false END AS uncertainty
    FROM (
        SELECT p_partkey, unnest(string_split(p_brand || ', ' || p_type || '?, ' || p_name, ',')) AS tok
        FROM part WHERE p_size > 25
    )
    """,
)
def q09_split_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    code_list = "concat(p_brand, ', ', p_type, '?, ', p_name)"
    return (
        part.filter(F.col("p_size") > 25)
        .selectExpr("p_partkey", f"explode({split_flagged_codes(code_list)}) AS f")
        .select(
            "p_partkey",
            F.col("f.Abbreviation").alias("abbreviation"),
            F.col("f.Uncertainty").alias("uncertainty"),
        )
    )


# ---------------------------------------------------------------------------
# q10 — star join across all dims + grouped rollup-style agg: supplier
# and part broadcast against lineitem (widest join in the schema).
# ---------------------------------------------------------------------------
@query(
    "q10_star_join",
    oracle="""
    SELECT s.s_name, p.p_brand,
           CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
           count(*) AS n_lines
    FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size <= 20
    GROUP BY s.s_name, p.p_brand
    """,
)
def q10_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").withColumnRenamed("s_suppkey", "l_suppkey")
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 20)
        .withColumnRenamed("p_partkey", "l_partkey")
    )
    joined = star_join(li, [(supp, "l_suppkey"), (part, "l_partkey")])
    return joined.groupBy("s_name", "p_brand").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("total_qty"),
        F.count("*").alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# q11 — set ops + distinct (SURVEY §2.4 extension row): customers with
# orders vs suppliers' nations — union/intersect/except surface.
# ---------------------------------------------------------------------------
@query(
    "q11_set_ops",
    oracle="""
    SELECT nk AS nationkey, 'both' AS side FROM (
        SELECT DISTINCT c_nationkey AS nk FROM customer
        INTERSECT
        SELECT DISTINCT s_nationkey AS nk FROM supplier
    )
    UNION ALL
    SELECT nk AS nationkey, 'customer_only' AS side FROM (
        SELECT DISTINCT c_nationkey AS nk FROM customer
        EXCEPT
        SELECT DISTINCT s_nationkey AS nk FROM supplier
    )
    """,
)
def q11_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust_n = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk")).distinct()
    supp_n = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk")).distinct()
    both = cust_n.intersect(supp_n).select(F.col("nk").alias("nationkey"), F.lit("both").alias("side"))
    conly = cust_n.exceptAll(supp_n).select(F.col("nk").alias("nationkey"), F.lit("customer_only").alias("side"))
    return both.unionByName(conly)


# ---------------------------------------------------------------------------
# q12 — window functions: top-3 orders per customer by price
# (row_number) + customer-level running share. Deterministic tiebreak
# on o_orderkey.
# ---------------------------------------------------------------------------
@query(
    "q12_window_topk",
    oracle="""
    SELECT o_custkey, o_orderkey, rk,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price_2dp
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        FROM orders
    ) WHERE rk <= 3
    """,
)
def q12_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "rk", _dec("o_totalprice").cast("double").alias("price_2dp"))
    )


# ---------------------------------------------------------------------------
# q13 — grouping sets / rollup (free Catalyst built-in the reference
# lacks; SURVEY §2.4 extension).
# ---------------------------------------------------------------------------
@query(
    "q13_rollup",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def q13_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"), F.sum(_dec("o_totalprice")).cast("double").alias("total_price"))
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


# ---------------------------------------------------------------------------
# q14 — pivot (wide aggregation): order count per status × priority.
# ---------------------------------------------------------------------------
@query(
    "q14_pivot",
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(coalesce(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END), 0) AS BIGINT) AS urgent,
           CAST(coalesce(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END), 0) AS BIGINT) AS high,
           CAST(coalesce(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END), 0) AS BIGINT) AS low
    FROM orders GROUP BY o_orderstatus
    """,
)
def q14_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    pv = (
        orders.groupBy(F.col("o_orderstatus").alias("status"))
        .pivot("o_orderpriority", ["1-URGENT", "2-HIGH", "5-LOW"])
        .count()
    )
    return pv.select(
        "status",
        *[
            F.coalesce(F.col(f"`{src}`"), F.lit(0)).cast("bigint").alias(dst)
            for src, dst in [("1-URGENT", "urgent"), ("2-HIGH", "high"), ("5-LOW", "low")]
        ],
    )


# ---------------------------------------------------------------------------
# q28 — GROUPING SETS with grouping() indicators: three explicit
# aggregation levels in one pass (Expand + single shuffle — at scale
# this beats three separate groupBys unioned, which would scan the
# fact table three times).
# ---------------------------------------------------------------------------
@query(
    "q28_grouping_sets",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           CAST(grouping(o_orderstatus) AS INT) AS g_status,
           CAST(grouping(o_orderstatus, o_orderpriority) AS INT) AS gid,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
)
def q28_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("q28_orders")
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS INT) AS gid,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM q28_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """
    )


# ---------------------------------------------------------------------------
# q111 — global-threshold aggregation (TPC-H Q11 shape): keep the
# parts whose revenue exceeds a multiple of the AVERAGE per-part
# revenue. TPC-H Q11 scales its fraction by 1/SF for exactly this
# reason; a fixed fraction degenerates as part count grows (the r10
# driver row verified an EMPTY frame at sf0.01 — VERDICT r10 item 1),
# so the threshold here is data-adaptive: 2·rev·n_parts > 3·total_rev,
# i.e. "more than 1.5× the mean share" (the testdata's per-part
# revenue is near-uniform — max/mean ≈ 1.75–1.89 across SFs — so 1.5×
# keeps ~1% of parts at every SF: 2/29/252 rows at sf0.001/0.01/0.1
# while a 2× cut is empty everywhere). Scale-free (non-degenerate
# at every SF, same semantics at 100 TB) and exact: the comparison is
# pure decimal×integer arithmetic, no float threshold on either
# engine. Scale pattern: the global total is a 1-row aggregate of the
# per-part sums, broadcast back (BroadcastNestedLoopJoin on a single
# row) so the threshold applies without a driver collect(). The
# per-part aggregation subtree appears twice in the logical plan, but
# AQE's exchange reuse dedupes it at runtime (ReusedExchange —
# asserted in tests/test_plans.py), so the fact table is scanned and
# shuffled once.
# ---------------------------------------------------------------------------
@query(
    "q111_global_share",
    oracle="""
    WITH per_part AS (
        SELECT l_partkey,
               sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev
        FROM lineitem GROUP BY l_partkey
    ),
    total AS (SELECT sum(rev) AS total_rev, count(*) AS n_parts FROM per_part)
    SELECT p.l_partkey,
           CAST(p.rev AS DOUBLE) AS part_rev,
           CAST((CAST(p.rev * 10000 AS HUGEINT) * 1000000000)
                // CAST(t.total_rev * 10000 AS HUGEINT) AS BIGINT) AS share_nano,
           CAST((CAST(p.rev * 10000 AS HUGEINT) * 1000000000)
                // CAST(t.total_rev * 10000 AS HUGEINT) AS BIGINT) / 1000000000.0
               AS share
    FROM per_part p CROSS JOIN total t
    WHERE 2 * CAST(p.rev * 10000 AS HUGEINT) * t.n_parts
          > 3 * CAST(t.total_rev * 10000 AS HUGEINT)
    """,
)
def q111_global_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.sum(
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    )
    per_part = li.groupBy("l_partkey").agg(rev.alias("rev"))
    total = per_part.agg(
        F.sum("rev").alias("total_rev"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        # exact decimal/integer threshold: 2·rev·n_parts > 3·total_rev
        # (scale-4 decimals lifted to integral DECIMAL(38,0) so both
        # engines compare the same integers — no float rounding)
        .filter(
            F.expr("2 * CAST(rev * 10000 AS DECIMAL(38,0)) * n_parts")
            > F.expr("3 * CAST(total_rev * 10000 AS DECIMAL(38,0))")
        )
        .select(
            "l_partkey",
            F.col("rev").cast("double").alias("part_rev"),
            # exact-integer share: revenues have exact scale 4, so
            # rev*10000 is integral; nano-share by integer division —
            # round(double, 9) is NOT engine-identical on half-boundary
            # doubles (quantize-first rule)
            F.expr(
                "CAST((CAST(rev * 10000 AS DECIMAL(38,0)) * 1000000000)"
                " div CAST(total_rev * 10000 AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("share_nano"),
            (
                F.expr(
                    "CAST((CAST(rev * 10000 AS DECIMAL(38,0)) * 1000000000)"
                    " div CAST(total_rev * 10000 AS DECIMAL(38,0)) AS BIGINT)"
                )
                / F.lit(1000000000.0)
            ).alias("share"),
        )
    )

"""Event-stream queries over ``events`` — the batch expressions of the
streaming surface (sessionization, tumbling windows, as-of joins).
The same logic is reusable under Structured Streaming (streaming/),
where the tumbling window becomes a watermarked groupBy(window(...)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pipeline_usnvc_spark.plans.registry import _d38, _dec, query
from pipeline_usnvc_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# q40 — sessionization: a >30-minute gap starts a new session.
# Classic lag + cumulative-sum-of-boundaries; deterministic order on
# (ts, event_id).
# ---------------------------------------------------------------------------


def with_session_idx(ev):
    """The suite's ONE 30-minute-gap sessionization (lag + cumsum,
    (ts, event_id) total order): q40, q91 (cdc) and q245 all consume
    this helper — the r4 review found three drifting copies of the
    same block. Returns ``ev`` plus ``session_idx``."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    is_new = F.when(
        prev_ts.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts) > 1800 * 1_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    return ev.withColumn("is_new", is_new).withColumn(
        "session_idx",
        F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )

@query(
    "q40_sessionize",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts, event_id,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        FROM flagged
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           count(*) AS n_events, min(ts) AS session_start, max(ts) AS session_end
    FROM sessions GROUP BY user_id, session_idx
    """,
)
def q40_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sess = with_session_idx(ev)
    return sess.groupBy("user_id", F.col("session_idx").cast("bigint").alias("session_idx")).agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


# ---------------------------------------------------------------------------
# q41 — tumbling-window aggregation (batch form of the streaming
# windowed count): events per hour per type.
# ---------------------------------------------------------------------------
@query(
    "q41_tumbling_window",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q41_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# q45 — range join (Spark lacks a native one): orders placed within
# 90 days AFTER another order by the same customer, via bucket
# expansion (operators/rangejoin.py) instead of a nested-loop
# inequality join. Oracle states the plain inequality join.
# ---------------------------------------------------------------------------
@query(
    "q45_range_join",
    oracle="""
    SELECT a.o_custkey AS custkey,
           a.o_orderkey AS base_order,
           b.o_orderkey AS followup_order,
           CAST(date_diff('day', a.o_orderdate, b.o_orderdate) AS INT) AS gap_days
    FROM orders a JOIN orders b
      ON a.o_custkey = b.o_custkey
     AND b.o_orderdate >= a.o_orderdate
     AND b.o_orderdate < a.o_orderdate + INTERVAL 90 DAY
     AND a.o_orderkey <> b.o_orderkey
    """,
)
def q45_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.rangejoin import range_join_buckets

    orders = load_table(spark, sf_dir, "orders")
    points = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("followup_order"),
        F.col("o_orderdate").alias("p_date"),
    )
    intervals = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("base_order"),
        F.col("o_orderdate").alias("i_date"),
    )
    joined = range_join_buckets(
        points, intervals, key="custkey", point_ts="p_date",
        interval_start="i_date", interval_days=90, bucket_days=30,
    )
    return joined.filter(F.col("base_order") != F.col("followup_order")).select(
        "custkey",
        "base_order",
        "followup_order",
        F.datediff(F.col("p_date").cast("date"), F.col("i_date").cast("date"))
        .cast("int")
        .alias("gap_days"),
    )


# ---------------------------------------------------------------------------
# q42 — as-of join (Spark lacks a native one — SURVEY §2.3 notes none
# in the reference either; this is the canonical scale-path rewrite):
# each event matched to the latest order of the same user at or before
# the event time, via union + last_value-ignoring-nulls over a
# time-ordered window. One shuffle on the key, no range explosion.
# ---------------------------------------------------------------------------
@query(
    "q42_asof_join",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts, m.o_orderkey AS matched_orderkey
    FROM events e LEFT JOIN (
        SELECT event_id, o_orderkey, row_number() OVER (
                 PARTITION BY event_id ORDER BY o_orderdate DESC, o_orderkey DESC) AS rk
        FROM events ev JOIN orders o
          ON ev.user_id = o.o_custkey AND o.o_orderdate <= ev.ts
    ) m ON e.event_id = m.event_id AND m.rk = 1
    """,
)
def q42_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.asof import asof_attach

    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    # Backward INCLUSIVE: an order dated exactly at the event time
    # matches; equal-date ties resolve to the larger o_orderkey
    # (operators/asof.py holds the side-flag/tie construction — the
    # oracle's DESC, DESC row_number spec).
    out = asof_attach(
        ev.select("event_id", "user_id", "ts"),
        orders.select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp").alias("o_ts"),
            "o_orderkey",
        ),
        key="user_id",
        left_ts="ts",
        right_ts="o_ts",
        payloads=["o_orderkey"],
    )
    return out.select(
        "event_id", "user_id", "ts", F.col("asof_o_orderkey").alias("matched_orderkey")
    )


# ---------------------------------------------------------------------------
# q79 — dense hourly rollup with gap fill (operators/timeseries):
# every (event_type, hour) bucket present, zero counts in gaps, and
# an ignore-nulls forward fill of the hourly total. The spine is
# |keys| x |hours| regardless of event volume.
# ---------------------------------------------------------------------------
@query(
    "q79_gap_fill",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS tv
        FROM events GROUP BY 1, 2
    ),
    b AS (SELECT min(hour) AS mn, max(hour) AS mx FROM hourly),
    keys AS (SELECT DISTINCT event_type FROM events),
    spine AS (
        SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour
        FROM keys, b
    )
    SELECT s.event_type, s.hour,
           CAST(coalesce(h.n, 0) AS BIGINT) AS n_events,
           h.tv AS total_value,
           last_value(h.tv IGNORE NULLS) OVER (
               PARTITION BY s.event_type ORDER BY s.hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS ffill_total
    FROM spine s LEFT JOIN hourly h
      ON s.event_type = h.event_type AND s.hour = h.hour
    """,
)
def q79_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.timeseries import hourly_gap_fill

    return hourly_gap_fill(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# q103 — NATIVE session windows (F.session_window): the built-in
# dynamic-gap operator behind streaming sessionization, exercised in
# batch where it is oracle-able. Semantics differ from q40's manual
# lag+cumsum on the boundary: a gap of EXACTLY 30 min closes the
# native session (window end is exclusive), so the oracle flags
# `>= 1800s`, and session_end is last-event + gap by definition.
# ---------------------------------------------------------------------------
@query(
    "q103_native_session_window",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR date_diff('microsecond', lag(ts) OVER w, ts) >= 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
)
def q103_native_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# q104 — growth accounting: per-day new users and the cumulative
# total. The standard scalable shape: min(ts) per user (one shuffle,
# map-side partial min), then a day-level rollup whose cumulative sum
# runs over the tiny per-day table — the unpartitioned window touches
# #days rows, never event rows.
# ---------------------------------------------------------------------------
@query(
    "q104_growth_accounting",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id
    ),
    daily AS (
        SELECT strftime(d0, '%Y-%m-%d') AS day, count(*) AS new_users
        FROM first_seen GROUP BY d0
    )
    SELECT day, new_users,
           CAST(sum(new_users) OVER (ORDER BY day
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumulative_users
    FROM daily
    """,
)
def q104_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d0"))
    daily = first_seen.groupBy(
        F.date_format("d0", "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.withColumn("cumulative_users", F.sum("new_users").over(w))


# ---------------------------------------------------------------------------
# q105 — cohort retention: users grouped by first-active week, matrix
# of how many are active k weeks later. Two shuffles total (first-seen
# per user, then cohort x offset rollup of the user-week activity
# joined to its cohort); the per-user join broadcasts nothing and
# stays key-partitioned on user_id.
# ---------------------------------------------------------------------------
@query(
    "q105_retention_cohorts",
    oracle="""
    WITH user_weeks AS (
        SELECT DISTINCT user_id, date_trunc('week', CAST(ts AS DATE)) AS wk FROM events
    ),
    cohorts AS (
        SELECT user_id, min(wk) AS cohort_wk FROM user_weeks GROUP BY user_id
    )
    SELECT strftime(c.cohort_wk, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('week', c.cohort_wk, u.wk) AS BIGINT) AS weeks_later,
           count(*) AS active_users
    FROM user_weeks u JOIN cohorts c USING (user_id)
    GROUP BY 1, 2
    """,
)
def q105_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    user_weeks = ev.select(
        "user_id", F.date_trunc("week", F.to_date("ts")).cast("date").alias("wk")
    ).distinct()
    cohorts = user_weeks.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        user_weeks.join(cohorts, "user_id")
        .groupBy(
            F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("wk"), F.col("cohort_wk")) / 7)
            .cast("bigint")
            .alias("weeks_later"),
        )
        .agg(F.count("*").alias("active_users"))
    )


# ---------------------------------------------------------------------------
# q112 — time-weighted average (hypertable-style continuous-signal
# rollup): each observation holds until the next one, so its weight is
# the gap to the successor (last observation per user carries no
# weight). One window pass (lead over the user's time-ordered stream)
# + one grouped aggregation — a single shuffle on user_id serves both,
# since the groupBy key equals the window partition key and Catalyst
# reuses the exchange. Weighted sums stay decimal-exact (value at 2dp
# x integer microseconds) until the final double division.
# ---------------------------------------------------------------------------
@query(
    "q112_time_weighted_avg",
    oracle="""
    WITH stepped AS (
        SELECT user_id, value, epoch_us(ts) AS t_us,
               lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_us
        FROM events
    )
    SELECT user_id,
           count(*) AS n_intervals,
           CAST(sum(next_us - t_us) AS BIGINT) AS span_us,
           round(CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(next_us - t_us AS DECIMAL(18,0))) AS DOUBLE)
                 / CAST(sum(next_us - t_us) AS DOUBLE), 6) AS twa_value
    FROM stepped WHERE next_us IS NOT NULL
    GROUP BY user_id
    """,
)
def q112_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = ev.select(
        "user_id",
        "value",
        F.unix_micros("ts").alias("t_us"),
        F.lead(F.unix_micros("ts")).over(w).alias("next_us"),
    ).filter(F.col("next_us").isNotNull())
    dt = F.col("next_us") - F.col("t_us")
    return stepped.groupBy("user_id").agg(
        F.count("*").alias("n_intervals"),
        F.sum(dt).alias("span_us"),
        F.round(
            F.sum(_dec("value") * dt.cast("decimal(18,0)")).cast("double")
            / F.sum(dt).cast("double"),
            6,
        ).alias("twa_value"),
    )


# ---------------------------------------------------------------------------
# q118 — maximum concurrency via an interval boundary sweep: each event
# occupies [ts, ts + floor(value*1e6) us); +1/-1 boundary deltas are
# pre-aggregated per (event_type, t) so the window cumsum runs over the
# collapsed boundary set, then max per type. One shuffle on event_type;
# the groupBy after the window reuses the window's exchange. At 100 TB
# the sweep parallelizes across types; a single global key would route
# through the distributed prefix-sum operator (q116 shape) instead.
# ---------------------------------------------------------------------------
@query(
    "q118_max_concurrency",
    oracle="""
    WITH iv AS (
        SELECT event_type, epoch_us(ts) AS s,
               epoch_us(ts) + CAST(floor(value * 1000000.0) AS BIGINT) AS e
        FROM events
    ),
    b AS (
        SELECT event_type, s AS t, 1 AS delta FROM iv
        UNION ALL
        SELECT event_type, e AS t, -1 AS delta FROM iv
    ),
    g AS (SELECT event_type, t, sum(delta) AS net FROM b GROUP BY 1, 2),
    c AS (
        SELECT event_type, t,
               sum(net) OVER (PARTITION BY event_type ORDER BY t
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        FROM g
    )
    SELECT event_type, CAST(max(conc) AS BIGINT) AS max_concurrent,
           count(*) AS n_boundaries
    FROM c GROUP BY event_type
    """,
)
def q118_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = F.unix_micros("ts")
    e = s + F.floor(F.col("value") * F.lit(1000000.0)).cast("long")
    iv = ev.select("event_type", s.alias("s"), e.alias("e"))
    bounds = iv.select("event_type", F.col("s").alias("t"), F.lit(1).alias("delta")).unionByName(
        iv.select("event_type", F.col("e").alias("t"), F.lit(-1).alias("delta"))
    )
    net = bounds.groupBy("event_type", "t").agg(F.sum("delta").alias("net"))
    w = W.partitionBy("event_type").orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
    swept = net.withColumn("conc", F.sum("net").over(w))
    return swept.groupBy("event_type").agg(
        F.max("conc").cast("bigint").alias("max_concurrent"),
        F.count("*").alias("n_boundaries"),
    )


# ---------------------------------------------------------------------------
# q121 — Markov transition matrix over per-user event sequences:
# lag() builds bigrams, one grouped count, and the per-prev row
# normalization is a window over the (small) transition matrix itself
# — no second shuffle of the event stream. n/n as double is
# IEEE-identical in both engines.
# ---------------------------------------------------------------------------
@query(
    "q121_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT event_type AS next_type,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    t AS (
        SELECT prev_type, next_type, count(*) AS n_trans
        FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n_trans,
           CAST(n_trans AS DOUBLE)
               / CAST(sum(n_trans) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
    FROM t
    """,
)
def q121_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", "next_type").agg(F.count("*").alias("n_trans"))
    return trans.withColumn(
        "p",
        F.col("n_trans").cast("double")
        / F.sum("n_trans").over(W.partitionBy("prev_type")).cast("double"),
    )


# ---------------------------------------------------------------------------
# q122 — interval-union coverage per user (total busy time): classic
# island detection — running max of interval ends, a gap starts a new
# island, islands aggregate to (max(e) - min(s)). All integer-micros
# arithmetic, exact in both engines. One shuffle on user_id; both
# windows and the island groupBy share that partitioning.
# ---------------------------------------------------------------------------
@query(
    "q122_interval_coverage",
    oracle="""
    WITH iv AS (
        SELECT user_id, event_id, epoch_us(ts) AS s,
               epoch_us(ts) + CAST(floor(value * 1000000.0) AS BIGINT) AS e
        FROM events
    ),
    m AS (
        SELECT user_id, event_id, s, e,
               max(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        FROM iv
    ),
    f AS (
        SELECT user_id, event_id, s, e,
               CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END AS new_island
        FROM m
    ),
    i AS (
        SELECT user_id, s, e,
               sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM f
    ),
    isl AS (
        SELECT user_id, island, max(e) - min(s) AS covered
        FROM i GROUP BY user_id, island
    )
    SELECT user_id, CAST(sum(covered) AS BIGINT) AS covered_us, count(*) AS n_islands
    FROM isl GROUP BY user_id
    """,
)
def q122_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = F.unix_micros("ts")
    iv = ev.select(
        "user_id",
        "event_id",
        s.alias("s"),
        (s + F.floor(F.col("value") * F.lit(1000000.0)).cast("long")).alias("e"),
    )
    w = W.partitionBy("user_id").orderBy("s", "e", "event_id")
    flagged = iv.withColumn(
        "prev_max", F.max("e").over(w.rowsBetween(W.unboundedPreceding, -1))
    ).withColumn(
        "new_island",
        F.when(F.col("prev_max").isNull() | (F.col("s") > F.col("prev_max")), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "island", F.sum("new_island").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    )
    per_island = islands.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).alias("covered")
    )
    return per_island.groupBy("user_id").agg(
        F.sum("covered").alias("covered_us"), F.count("*").alias("n_islands")
    )


# ---------------------------------------------------------------------------
# q133 — sliding-window z-score anomaly detection: each event scored
# against the mean/stddev of its user's trailing 20 events. The
# variance is assembled from decimal-exact sum and sum-of-squares
# ((ss - s²/n)/(n-1)), so Spark and DuckDB run byte-identical IEEE
# arithmetic — no reliance on either engine's stddev_samp kernel.
#
# Scale shape: one hash exchange on user_id serves the single window
# (sort within partition); the frame is ROWS-bounded so state per key
# is O(20). No second pass, no self-join.
# ---------------------------------------------------------------------------
@query(
    "q133_sliding_zscore",
    oracle="""
    WITH w AS (
        SELECT event_id, user_id, value,
               CAST(sum(CAST(value AS DECIMAL(18,6))) OVER win AS DOUBLE) AS s,
               CAST(sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) OVER win AS DOUBLE) AS ss,
               count(*) OVER win AS n
        FROM events
        WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ),
    z AS (
        SELECT event_id, user_id, value,
               (value - s / n) / sqrt((ss - s * s / n) / (n - 1)) AS zs
        FROM w
        WHERE n = 20 AND (ss - s * s / n) > 0
    )
    SELECT event_id, user_id, value, round(zs, 6) AS zscore
    FROM z
    WHERE abs(zs) > 2.5
    """,
)
def q133_sliding_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    win = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, W.currentRow)
    )
    dec = F.col("value").cast("decimal(18,6)")
    w = ev.select(
        "event_id",
        "user_id",
        "value",
        F.sum(dec).over(win).cast("double").alias("s"),
        F.sum(dec * dec).over(win).cast("double").alias("ss"),
        F.count("*").over(win).alias("n"),
    )
    zs = (F.col("value") - F.col("s") / F.col("n")) / F.sqrt(
        (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)
    )
    return (
        w.filter((F.col("n") == 20) & (F.col("ss") - F.col("s") * F.col("s") / F.col("n") > 0))
        .select("event_id", "user_id", "value", zs.alias("zs"))
        .filter(F.abs(F.col("zs")) > 2.5)
        .select("event_id", "user_id", "value", F.round("zs", 6).alias("zscore"))
    )


# ---------------------------------------------------------------------------
# q141 — OHLC resampling: per (user, hour) open/high/low/close bars
# over the event stream — the downsampling pass of a time-series
# store. open/close are min_by/max_by on the composite (ts, event_id)
# key (tie-free at every scale factor, per the argmax rule in the
# verify notes); ONE exchange on the grouping key does everything
# (map-side partial min/max/min_by/max_by).
# ---------------------------------------------------------------------------
@query(
    "q141_ohlc_bars",
    oracle="""
    SELECT user_id,
           CAST(strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:00:00') AS VARCHAR) AS bar_hour,
           min_by(value, CAST(floor(epoch(ts)) AS BIGINT) * 10000000 + event_id) AS open,
           max(value) AS high,
           min(value) AS low,
           max_by(value, CAST(floor(epoch(ts)) AS BIGINT) * 10000000 + event_id) AS close,
           count(*) AS n_events
    FROM events
    GROUP BY user_id, time_bucket(INTERVAL 1 HOUR, ts)
    """,
)
def q141_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bar = F.date_trunc("hour", F.col("ts"))
    # Spark orders structs lexicographically — no id-range assumption
    # at scale; the oracle's scalar floor(epoch)*1e7+event_id encoding
    # is the same order for the testdata's id range (event_id < 1e7).
    # floor() in the oracle mirrors unix_timestamp's truncation of the
    # fractional seconds every event carries (argmax-key rule).
    key = F.struct(F.unix_timestamp("ts").cast("bigint").alias("t"), F.col("event_id").alias("e"))
    return (
        ev.groupBy("user_id", bar.alias("bar"))
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count("*").alias("n_events"),
        )
        .select(
            "user_id",
            F.date_format("bar", "yyyy-MM-dd HH:00:00").alias("bar_hour"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# q151 — FORWARD as-of join: each event matched to the EARLIEST order
# of the same user STRICTLY AFTER the event time (the "next action"
# attribution direction; q42 is the backward variant). Same union +
# window rewrite, mirrored: orders at the exact event timestamp sort
# BEFORE the event row, so the forward-looking first() only sees
# strictly-later orders. One shuffle on the key, no range explosion.
# ---------------------------------------------------------------------------
@query(
    "q151_asof_forward",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts, m.o_orderkey AS next_orderkey
    FROM events e LEFT JOIN (
        SELECT event_id, o_orderkey, row_number() OVER (
                 PARTITION BY event_id ORDER BY o_orderdate ASC, o_orderkey ASC) AS rk
        FROM events ev JOIN orders o
          ON ev.user_id = o.o_custkey AND o.o_orderdate > ev.ts
    ) m ON e.event_id = m.event_id AND m.rk = 1
    """,
)
def q151_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.asof import asof_attach

    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    # Forward STRICT: a same-timestamp order is excluded ('>'), and
    # equal-date ties resolve to the smallest o_orderkey (the oracle's
    # ASC, ASC spec — operators/asof.py encodes both rules).
    out = asof_attach(
        ev.select("event_id", "user_id", "ts"),
        orders.select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp").alias("o_ts"),
            "o_orderkey",
        ),
        key="user_id",
        left_ts="ts",
        right_ts="o_ts",
        payloads=["o_orderkey"],
        direction="forward",
        strict=True,
    )
    return out.select(
        "event_id", "user_id", "ts", F.col("asof_o_orderkey").alias("next_orderkey")
    )


# ---------------------------------------------------------------------------
# q152 — grouped mode: each user's most frequent event type (ties →
# lexicographically smallest type, so the argmax is total-ordered and
# engine-stable). The mode runs on the (user, type) counts table —
# 5 rows per user — never the event stream; the counts shuffle does
# the heavy lifting with map-side partial aggregation.
# ---------------------------------------------------------------------------
@query(
    "q152_user_mode",
    oracle="""
    SELECT user_id, event_type AS modal_type, c AS n_events
    FROM (
        SELECT user_id, event_type, c,
               row_number() OVER (PARTITION BY user_id ORDER BY c DESC, event_type ASC) AS rk
        FROM (
            SELECT user_id, event_type, count(*) AS c
            FROM events GROUP BY user_id, event_type
        )
    )
    WHERE rk = 1
    """,
)
def q152_user_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    w = W.partitionBy("user_id").orderBy(F.desc("c"), F.asc("event_type"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", F.col("event_type").alias("modal_type"), F.col("c").alias("n_events"))
    )


# ---------------------------------------------------------------------------
# q181 — per-user EWMA (α = 0.2) of the event value stream, computed
# as a sequential left fold over each user's time-ordered values —
# the deterministic-summation discipline from the cosine operators
# applied to a recursive statistic (EWMA has no closed associative
# form, so a fold IS the correct formulation; per-user event counts
# are bounded, and the collect_list stays inside the user's
# partition). Identical IEEE sequence on both engines; round 6 on
# output.
# ---------------------------------------------------------------------------
@query(
    "q181_ewma_user_value",
    oracle="""
    WITH ordered AS (
        SELECT user_id, list(value ORDER BY ts, event_id) AS vs,
               count(*) AS n
        FROM events GROUP BY user_id
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           round(list_reduce(vs, (acc, x) -> acc * 0.8 + 0.2 * x), 6) AS ewma
    FROM ordered
    """,
)
def q181_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ordered = ev.groupBy("user_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("ts", "event_id", "value"))),
            lambda s: s["value"],
        ).alias("vs"),
        F.count("*").alias("n_events"),
    )
    # list_reduce seeds with the first element; mirror with slice+fold
    fold = F.aggregate(
        F.slice(F.col("vs"), 2, F.greatest(F.size("vs") - 1, F.lit(0))),
        F.element_at(F.col("vs"), 1),
        lambda acc, x: acc * F.lit(0.8) + F.lit(0.2) * x,
    )
    return ordered.select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round(fold, 6).alias("ewma"),
    )


# ---------------------------------------------------------------------------
# q201 — last-touch marketing attribution: each purchase credits the
# user's most recent click/view within the preceding 7 days; report
# attributed purchases + revenue per touch type (plus the 'none'
# bucket). The as-of-join application (q42 is the generic operator):
# purchases × touches is a user-keyed range join, the per-purchase
# winner is a struct-argmax (max_by on the (ts, event_id) total
# order — no hot window partitions), and revenue sums are
# decimal-exact cents.
# ---------------------------------------------------------------------------
@query(
    "q201_last_touch_attribution",
    oracle="""
    WITH purchases AS (
        SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
        SELECT user_id, ts, event_id, event_type FROM events
        WHERE event_type IN ('click', 'view')
    ),
    attributed AS (
        SELECT event_id, value, touch_type FROM (
            SELECT p.event_id, p.value, t.event_type AS touch_type,
                   row_number() OVER (PARTITION BY p.event_id
                                      ORDER BY t.ts DESC, t.event_id DESC) AS rk
            FROM purchases p
            LEFT JOIN touches t
              ON t.user_id = p.user_id
             AND t.ts < p.ts
             AND t.ts >= p.ts - INTERVAL 7 DAY
        ) WHERE rk = 1
    )
    SELECT coalesce(touch_type, 'none') AS touch_type,
           count(*) AS n_purchases,
           CAST(sum(CAST(floor(value * 100) AS DECIMAL(38,0))) AS DOUBLE) / 100.0
             AS attributed_revenue
    FROM attributed GROUP BY coalesce(touch_type, 'none')
    """,
)
def q201_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # As-of formulation (operators/asof.py), NOT a range join: a
    # purchases×touches join fans out by touches-per-user-in-window —
    # measured 83 s at 10M events on a fixed user domain vs ~2 s here.
    # Backward STRICT (a touch at exactly the purchase instant does
    # not match, t_ts < ts as the oracle spells), equal-timestamp
    # touches resolve to the larger event_id (DESC, DESC row_number);
    # the (t_ts, t_type) payload rides ONE struct so both columns come
    # from the same touch row. The 7-day lookback validates on the
    # purchase row after the attach.
    from pipeline_usnvc_spark.operators.asof import asof_attach

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    touches = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("ts").alias("r_ts"),
        "event_id",
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("t_type"),
    )
    merged = asof_attach(
        purchases,
        touches,
        key="user_id",
        left_ts="ts",
        right_ts="r_ts",
        payloads=["t_ts", "t_type"],
        direction="backward",
        strict=True,
        tie_col="event_id",
    )
    attributed = merged.select(
        "value",
        F.when(
            F.col("asof_t_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAY"),
            F.col("asof_t_type"),
        ).alias("touch_type"),
    )
    return attributed.groupBy(
        F.coalesce("touch_type", F.lit("none")).alias("touch_type")
    ).agg(
        F.count("*").alias("n_purchases"),
        (
            F.sum(F.floor(F.col("value") * 100).cast("decimal(38,0)")).cast("double")
            / F.lit(100.0)
        ).alias("attributed_revenue"),
    )


# ---------------------------------------------------------------------------
# q202 — per-user burstiness: coefficient of variation of
# inter-arrival gaps (CV ≈ 1 for a Poisson user, ≫ 1 for bursty
# bots/batch jobs — the traffic-shape triage stat). Gaps are exact
# microsecond integers (lag over the per-user order), moments are
# decimal-exact sums, and the final mean/CV is one identical float
# expression per row. Users need ≥ 10 gaps to report.
# ---------------------------------------------------------------------------
@query(
    "q202_interarrival_burstiness",
    oracle="""
    WITH ordered AS (
        SELECT user_id,
               CAST(epoch_us(ts) AS BIGINT)
                 - lag(CAST(epoch_us(ts) AS BIGINT))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        FROM events
    ),
    gaps AS (SELECT user_id, gap_us FROM ordered WHERE gap_us IS NOT NULL),
    agg AS (
        SELECT user_id, count(*) AS n,
               CAST(sum(CAST(gap_us AS DECIMAL(38,0))) AS DOUBLE) AS s,
               CAST(sum(CAST(gap_us AS DECIMAL(19,0)) * CAST(gap_us AS DECIMAL(19,0))) AS DOUBLE) AS ss
        FROM gaps GROUP BY user_id
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
           s / CAST(n AS DOUBLE) AS mean_gap_us,
           CASE WHEN s > 0 THEN
             sqrt(greatest(0.0, ss / CAST(n AS DOUBLE) - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE))))
               / (s / CAST(n AS DOUBLE))
           ELSE NULL END AS cv
    FROM agg WHERE n >= 10
    """,
)
def q202_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select("user_id", (us - F.lag(us).over(w)).alias("gap_us"))
        .filter(F.col("gap_us").isNotNull())
    )
    g19 = F.col("gap_us").cast("decimal(19,0)")
    agg = gaps.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(F.col("gap_us").cast("decimal(38,0)")).cast("double").alias("s"),
        F.sum(g19 * g19).cast("double").alias("ss"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s") / nd
    # greatest(0, ·) clamp: a perfectly regular user (true variance 0)
    # with large gaps can round ss/n − mean² to −1 ulp, where DuckDB's
    # sqrt hard-errors (aborting the whole oracle run) and Spark
    # returns NaN — the clamp pins cv = 0.0 on both engines.
    # s > 0 guard (the q238 rule): a user whose ≥10 events all share
    # one timestamp has every gap 0 → mean 0 → 0/0, where Spark's
    # non-ANSI division yields NULL but DuckDB yields NaN; the exact
    # integer-sum predicate pins both engines to NULL.
    return agg.filter(F.col("n") >= 10).select(
        "user_id",
        F.col("n").cast("bigint").alias("n_gaps"),
        mean.alias("mean_gap_us"),
        F.when(
            F.col("s") > 0,
            F.sqrt(F.greatest(F.lit(0.0), F.col("ss") / nd - mean * mean)) / mean,
        ).alias("cv"),
    )


# ---------------------------------------------------------------------------
# q204 — quantile transform (per-type rank normalization): map each
# event's value to its exact empirical CDF position within its
# event_type — the standard feature-preprocessing step (sklearn's
# QuantileTransformer) as one set-based pass. Ranks come from a
# per-(type, value) aggregate + cumulative window (never a raw-event
# window), so the sort input is distinct-value-sized; the output
# joins back by (type, value) broadcast.
# ---------------------------------------------------------------------------
@query(
    "q204_quantile_transform",
    oracle="""
    WITH per_value AS (
        SELECT event_type, value, count(*) AS c
        FROM events GROUP BY event_type, value
    ),
    ranked AS (
        SELECT event_type, value,
               sum(c) OVER (PARTITION BY event_type ORDER BY value
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(c) OVER (PARTITION BY event_type) AS n
        FROM per_value
    )
    SELECT e.event_id, e.event_type, e.value,
           CAST(r.cum AS DOUBLE) / CAST(r.n AS DOUBLE) AS q_pos
    FROM events e JOIN ranked r
      ON r.event_type = e.event_type AND r.value = e.value
    """,
)
def q204_quantile_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    per_value = ev.groupBy("event_type", "value").agg(F.count("*").alias("c"))
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = per_value.select(
        "event_type",
        "value",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(Window.partitionBy("event_type")).alias("n"),
    )
    # No broadcast hint: with continuous values the distinct-value
    # table is event-sized, so the join must stay shuffle-based (AQE
    # broadcasts it anyway when values are low-cardinality).
    return ev.join(ranked, ["event_type", "value"]).select(
        "event_id",
        "event_type",
        "value",
        (F.col("cum").cast("double") / F.col("n").cast("double")).alias("q_pos"),
    )


# ---------------------------------------------------------------------------
# q205 — rolling active users (the DAU/WAU "stickiness" metric):
# distinct users in the trailing 7-day window per day. Events first
# collapse to the (user, day) grain — the only exchange that scales
# with data — then the 7× day-spine fan-out and distinct count run on
# the tiny user-day table. DAU rides along for the stickiness ratio.
# ---------------------------------------------------------------------------
@query(
    "q205_rolling_active_users",
    oracle="""
    WITH user_days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    spine AS (SELECT DISTINCT day FROM user_days),
    rolling AS (
        SELECT s.day, count(DISTINCT u.user_id) AS wau
        FROM spine s JOIN user_days u
          ON u.day <= s.day AND u.day >= s.day - INTERVAL 6 DAY
        GROUP BY s.day
    ),
    daily AS (SELECT day, count(*) AS dau FROM user_days GROUP BY day)
    SELECT strftime(r.day, '%Y-%m-%d') AS day,
           CAST(d.dau AS BIGINT) AS dau,
           CAST(r.wau AS BIGINT) AS wau,
           CAST(d.dau AS DOUBLE) / CAST(r.wau AS DOUBLE) AS stickiness
    FROM rolling r JOIN daily d ON d.day = r.day
    """,
)
def q205_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    user_days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    # TRUE 7x fan-out: each user-day explodes into the 7 window days
    # it contributes to, then one hash aggregate — a pure-inequality
    # spine join here would plan as a BroadcastNestedLoopJoin scanning
    # every user-day against every spine day (|user_days| x |days|
    # predicate pairs; review finding). Exploded days with no activity
    # of their own drop out in the inner join with daily below, which
    # is exactly the oracle's spine semantics.
    rolling = (
        user_days.select(
            "user_id",
            F.explode(
                F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
            ).alias("s_day"),
        )
        .groupBy("s_day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    daily = user_days.groupBy("day").agg(F.count("*").alias("dau"))
    return rolling.join(daily, F.col("day") == F.col("s_day")).select(
        F.date_format("s_day", "yyyy-MM-dd").alias("day"),
        F.col("dau").cast("bigint").alias("dau"),
        F.col("wau").cast("bigint").alias("wau"),
        (F.col("dau").cast("double") / F.col("wau").cast("double")).alias("stickiness"),
    )


# ---------------------------------------------------------------------------
# q208 — strict sequential conversion funnel: first view → first
# click AFTER that view → first purchase AFTER that click, each step
# within 7 days of the previous (the cross-session product funnel;
# q91 is the within-session variant). Three user-grain argmins —
# every join is user-keyed on pre-aggregated one-row-per-user frames,
# so the fact table is scanned once per step and nothing bigger than
# (user, ts) ever shuffles.
# ---------------------------------------------------------------------------
@query(
    "q208_conversion_funnel",
    oracle="""
    WITH v AS (
        SELECT user_id, min(ts) AS v_ts FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS c_ts
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > v.v_ts
          AND e.ts <= v.v_ts + INTERVAL 7 DAY
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS p_ts
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
          AND e.ts <= c.c_ts + INTERVAL 7 DAY
        GROUP BY e.user_id
    ),
    counts AS (
        SELECT (SELECT count(*) FROM v) AS n_view,
               (SELECT count(*) FROM c) AS n_click,
               (SELECT count(*) FROM p) AS n_purchase
    )
    SELECT step, n_users, conv_from_prev, conv_from_first FROM (
        SELECT 1 AS ord, 'view' AS step, CAST(n_view AS BIGINT) AS n_users,
               1.0 AS conv_from_prev, 1.0 AS conv_from_first FROM counts
        UNION ALL
        SELECT 2, 'click', CAST(n_click AS BIGINT),
               CASE WHEN n_view > 0 THEN CAST(n_click AS DOUBLE) / CAST(n_view AS DOUBLE) END,
               CASE WHEN n_view > 0 THEN CAST(n_click AS DOUBLE) / CAST(n_view AS DOUBLE) END FROM counts
        UNION ALL
        SELECT 3, 'purchase', CAST(n_purchase AS BIGINT),
               CASE WHEN n_click > 0 THEN CAST(n_purchase AS DOUBLE) / CAST(n_click AS DOUBLE) END,
               CASE WHEN n_view > 0 THEN CAST(n_purchase AS DOUBLE) / CAST(n_view AS DOUBLE) END FROM counts
    ) ORDER BY ord
    """,
)
def q208_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def first_after(step_type: str, prev: DataFrame, prev_ts: str, out_ts: str) -> DataFrame:
        e = ev.filter(F.col("event_type") == step_type)
        return (
            e.join(prev, "user_id")
            .filter(
                (F.col("ts") > F.col(prev_ts))
                & (F.col("ts") <= F.col(prev_ts) + F.expr("INTERVAL 7 DAY"))
            )
            .groupBy("user_id")
            .agg(F.min("ts").alias(out_ts))
        )

    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = first_after("click", v, "v_ts", "c_ts")
    p = first_after("purchase", c, "c_ts", "p_ts")

    counts = (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(c.agg(F.count("*").alias("n_click")))
        .crossJoin(p.agg(F.count("*").alias("n_purchase")))
    )  # three 1-row aggregates — the only thing crossing the driver boundary is the final 3-row result
    nv = F.col("n_view").cast("double")
    nc = F.col("n_click").cast("double")
    np_ = F.col("n_purchase").cast("double")
    steps = counts.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("ord"), F.lit("view").alias("step"),
                    F.col("n_view").cast("bigint").alias("n_users"),
                    F.lit(1.0).alias("conv_from_prev"), F.lit(1.0).alias("conv_from_first"),
                ),
                # guarded divisions pin NULL on empty steps (Spark 0/0
                # is NaN, DuckDB 0/0 is NULL — the SQL contract wins)
                F.struct(
                    F.lit(2).alias("ord"), F.lit("click").alias("step"),
                    F.col("n_click").cast("bigint").alias("n_users"),
                    F.when(nv > 0, nc / nv).alias("conv_from_prev"),
                    F.when(nv > 0, nc / nv).alias("conv_from_first"),
                ),
                F.struct(
                    F.lit(3).alias("ord"), F.lit("purchase").alias("step"),
                    F.col("n_purchase").cast("bigint").alias("n_users"),
                    F.when(nc > 0, np_ / nc).alias("conv_from_prev"),
                    F.when(nv > 0, np_ / nv).alias("conv_from_first"),
                ),
            )
        ).alias("s")
    )
    return steps.select("s.*").orderBy("ord").drop("ord")


# ---------------------------------------------------------------------------
# q233 — time-to-convert: per user, whole seconds from FIRST view to
# the first purchase AT OR AFTER that view (users who never purchase
# after a view drop out — a purchase BEFORE the first view does not
# count and does not disqualify; the r4 review caught the first
# draft taking the global first purchase, which silently dropped
# users who purchased both before and after their first view), plus
# each user's conversion decile. Exact: min-timestamps as
# whole-second integers (the floor(epoch) discipline), deciles via
# tie-free ntile (lag, user_id). Two user-keyed aggregations share
# one exchange; the decile window runs on user-grain rows.
# ---------------------------------------------------------------------------
@query(
    "q233_time_to_convert",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS first_view_s
        FROM events GROUP BY user_id
    ),
    converted AS (
        SELECT e.user_id,
               min(CAST(floor(epoch(e.ts)) AS BIGINT)) - f.first_view_s AS lag_s
        FROM events e
        JOIN firsts f ON f.user_id = e.user_id
        WHERE f.first_view_s IS NOT NULL
          AND e.event_type = 'purchase'
          AND CAST(floor(epoch(e.ts)) AS BIGINT) >= f.first_view_s
        GROUP BY e.user_id, f.first_view_s
    )
    SELECT user_id, lag_s,
           CAST(ntile(10) OVER (ORDER BY lag_s, user_id) AS INT) AS decile
    FROM converted
    """,
)
def q233_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ep = F.floor(F.col("ts").cast("double")).cast("bigint")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", ep)).alias("first_view_s")
    ).filter(F.col("first_view_s").isNotNull())
    conv = (
        ev.withColumn("ep_s", ep)
        .filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .filter(F.col("ep_s") >= F.col("first_view_s"))
        .groupBy("user_id", "first_view_s")
        .agg(F.min("ep_s").alias("first_purchase_after_s"))
        .select(
            "user_id",
            (F.col("first_purchase_after_s") - F.col("first_view_s")).alias("lag_s"),
        )
    )
    # User-grain deciles without an unpartitioned ntile window
    # (single-partition sort): two-phase global rank + map-side NTILE.
    from pipeline_usnvc_spark.operators.checkpoint import materialize
    from pipeline_usnvc_spark.operators.rank import ntile_from_rank, with_global_rank

    conv = materialize(conv)
    n = conv.agg(F.count("*").cast("bigint").alias("_n"))
    return (
        with_global_rank(conv, "lag_s", "user_id", rank_col="_r")
        .crossJoin(F.broadcast(n))
        .withColumn("decile", ntile_from_rank(F.col("_r"), F.col("_n"), 10))
        .drop("_r", "_n")
    )


# ---------------------------------------------------------------------------
# q245 — bounce rate per traffic grain: share of single-event
# sessions, by the user's modal event source hour-of-day bucket? No —
# kept simple and honest: per event_type-of-first-event, the share of
# sessions that end after exactly one event. Reuses q40's exact
# sessionization (identical lag/cumsum SQL); the report is
# session-grain → tiny. Shares are cross-multiplied exact ints cast
# to double with the identical expression on both engines.
# ---------------------------------------------------------------------------
@query(
    "q245_bounce_rate",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts, event_id, event_type,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        FROM flagged
    ),
    tagged AS (
        SELECT user_id, session_idx,
               CAST(count(*) OVER (PARTITION BY user_id, session_idx) AS BIGINT) AS n_events,
               first_value(event_type) OVER (PARTITION BY user_id, session_idx
                    ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS entry_type,
               row_number() OVER (PARTITION BY user_id, session_idx
                    ORDER BY ts, event_id) AS rn
        FROM sessions
    ),
    per_session AS (
        SELECT user_id, session_idx, n_events, entry_type
        FROM tagged WHERE rn = 1
    )
    SELECT entry_type,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS bounce_rate
    FROM per_session GROUP BY entry_type
    """,
)
def q245_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sess = with_session_idx(ev)
    sw = W.partitionBy("user_id", "session_idx").orderBy("ts", "event_id")
    per_session = (
        sess.withColumn(
            "n_events",
            F.count("*")
            .over(W.partitionBy("user_id", "session_idx"))
            .cast("bigint"),
        )
        .withColumn(
            "entry_type",
            F.first("event_type").over(
                sw.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .withColumn("rn", F.row_number().over(sw))
        .filter(F.col("rn") == 1)
        .select("user_id", "session_idx", "n_events", "entry_type")
    )
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).cast("bigint")
    return per_session.groupBy("entry_type").agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        bounce.alias("n_bounces"),
        (bounce.cast("double") / F.count("*").cast("double")).alias("bounce_rate"),
    )


# ---------------------------------------------------------------------------
# q264 — CUPED variance-reduction adjustment (the experimentation-
# platform primitive): per user, pre-period covariate X (first 15
# days' value) and post-period metric Y; theta = cov(X,Y)/var(X)
# computed from the FIVE sufficient statistics as exact quantized
# integer sums (the q142 recipe — n, ΣX, ΣY, ΣXY, ΣX² in
# DECIMAL(38,0)); adjusted metric y_adj = y − θ·(x − x̄) as the
# identical double expression per user. Output stays user-grain —
# no float is ever summed across rows. One exchange on user_id, a
# 1-row broadcast of the statistics.
# ---------------------------------------------------------------------------
@query(
    "q264_cuped_adjustment",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN CAST(floor(value * 1000) AS BIGINT) ELSE 0 END) AS BIGINT) AS x_milli,
               CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN CAST(floor(value * 1000) AS BIGINT) ELSE 0 END) AS BIGINT) AS y_milli
        FROM events GROUP BY user_id
    ),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(x_milli AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
               CAST(sum(CAST(y_milli AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
               CAST(sum(CAST(x_milli AS DECIMAL(38,0)) * CAST(y_milli AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
               CAST(sum(CAST(x_milli AS DECIMAL(38,0)) * CAST(x_milli AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx
        FROM per_user
    )
    SELECT u.user_id, u.x_milli, u.y_milli,
           CASE WHEN CAST(s.n AS DOUBLE) * CAST(s.sxx AS DOUBLE)
                     - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE) > 0
                THEN (CAST(u.y_milli AS DOUBLE)
                  - ((CAST(s.n AS DOUBLE) * CAST(s.sxy AS DOUBLE) - CAST(s.sx AS DOUBLE) * CAST(s.sy AS DOUBLE))
                     / (CAST(s.n AS DOUBLE) * CAST(s.sxx AS DOUBLE) - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE)))
                    * (CAST(u.x_milli AS DOUBLE) - CAST(s.sx AS DOUBLE) / CAST(s.n AS DOUBLE))) / 1000.0
                ELSE NULL END AS y_adjusted
    FROM per_user u CROSS JOIN stats s
    """,
)
def q264_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    milli = F.floor(F.col("value") * 1000).cast("bigint")
    cut = F.lit("2024-01-16").cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, milli).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("x_milli"),
        F.sum(F.when(F.col("ts") >= cut, milli).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("y_milli"),
    )
    stats = per_user.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(_d38(F.col("x_milli"))).cast("decimal(38,0)").alias("sx"),
        F.sum(_d38(F.col("y_milli"))).cast("decimal(38,0)").alias("sy"),
        F.sum(_d38(F.col("x_milli")) * _d38(F.col("y_milli"))).cast("decimal(38,0)").alias("sxy"),
        F.sum(_d38(F.col("x_milli")) * _d38(F.col("x_milli"))).cast("decimal(38,0)").alias("sxx"),
    )
    nd = F.col("n").cast("double")
    den = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    theta = (nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")) / den
    # Zero-variance guard (the q238 rule): constant x_milli makes den
    # 0 — Spark non-ANSI 0-division yields NULL, DuckDB IEEE yields
    # NaN/inf; the identical double predicate pins both engines to NULL.
    y_adj = F.when(
        den > 0,
        (
            F.col("y_milli").cast("double")
            - theta * (F.col("x_milli").cast("double") - F.col("sx").cast("double") / nd)
        )
        / F.lit(1000.0),
    )
    return (
        per_user.crossJoin(F.broadcast(stats))
        .select("user_id", "x_milli", "y_milli", y_adj.alias("y_adjusted"))
    )


# ---------------------------------------------------------------------------
# q250 — data freshness audit: per event type, last-seen timestamp,
# age relative to the corpus watermark in whole seconds (exact int),
# and a staleness bucket — the first page of any ingestion-ops
# dashboard. Grouped max + a 1-row broadcast watermark; no shuffle
# beyond the type-keyed aggregate.
# ---------------------------------------------------------------------------
@query(
    "q250_freshness_report",
    oracle="""
    WITH per_type AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(max(floor(epoch(ts))) AS BIGINT) AS last_seen_s
        FROM events GROUP BY event_type
    ),
    wm AS (SELECT CAST(max(last_seen_s) AS BIGINT) AS watermark_s FROM per_type)
    SELECT p.event_type, p.n_events, p.last_seen_s,
           w.watermark_s - p.last_seen_s AS age_s,
           CASE WHEN w.watermark_s - p.last_seen_s <= 3600 THEN 'fresh'
                WHEN w.watermark_s - p.last_seen_s <= 86400 THEN 'lagging'
                ELSE 'stale' END AS staleness
    FROM per_type p CROSS JOIN wm w
    """,
)
def q250_freshness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.max(F.floor(F.col("ts").cast("double")).cast("bigint"))
        .cast("bigint")
        .alias("last_seen_s"),
    )
    wm = per_type.agg(F.max("last_seen_s").cast("bigint").alias("watermark_s"))
    age = F.col("watermark_s") - F.col("last_seen_s")
    return (
        per_type.crossJoin(F.broadcast(wm))
        .select(
            "event_type",
            "n_events",
            "last_seen_s",
            age.alias("age_s"),
            F.when(age <= 3600, "fresh")
            .when(age <= 86400, "lagging")
            .otherwise("stale")
            .alias("staleness"),
        )
    )


# ---------------------------------------------------------------------------
# q267 — histogram-intersection overlap between event-type hourly
# profiles (how similar are two event types' time-of-day
# distributions): overlap(P, Q) = Σ_h min(p_h, q_h), computed WITHOUT
# any float accumulation — min(n_h·M, m_h·N) summed as BIGINT over a
# common N·M denominator, divided once at the end. The pairwise
# profile comparison that complements the drift family's
# one-vs-reference tests. Hour profiles are 24-row grains; the pair
# join is a broadcast self-join of 5 types.
# ---------------------------------------------------------------------------
@query(
    "q267_histogram_overlap",
    oracle="""
    WITH hist AS (
        SELECT event_type, CAST(extract(hour FROM ts) AS INT) AS h,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS total FROM hist GROUP BY event_type),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               ta.total AS n_a, tb.total AS n_b,
               CAST(sum(least(CAST(a.n AS HUGEINT) * tb.total,
                              CAST(b.n AS HUGEINT) * ta.total)) AS BIGINT) AS overlap_num
        FROM hist a
        JOIN hist b ON b.h = a.h AND a.event_type < b.event_type
        JOIN tot ta ON ta.event_type = a.event_type
        JOIN tot tb ON tb.event_type = b.event_type
        GROUP BY 1, 2, 3, 4
    )
    SELECT type_a, type_b, n_a, n_b, overlap_num,
           CAST(overlap_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS overlap
    FROM pairs
    """,
)
def q267_histogram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hist = ev.groupBy(
        "event_type", F.hour("ts").cast("int").alias("h")
    ).agg(F.count("*").cast("bigint").alias("n"))
    tot = hist.groupBy("event_type").agg(F.sum("n").cast("bigint").alias("total"))
    a = hist.alias("a").join(
        F.broadcast(tot.alias("ta")), F.col("a.event_type") == F.col("ta.event_type")
    )
    b = hist.alias("b").join(
        F.broadcast(tot.alias("tb")), F.col("b.event_type") == F.col("tb.event_type")
    )
    pairs = (
        a.join(
            b,
            (F.col("b.h") == F.col("a.h"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            F.col("ta.total").alias("n_a"),
            F.col("tb.total").alias("n_b"),
        )
        .agg(
            # count-cross-products through the suite-wide DECIMAL(38,0)
            # discipline: BIGINT*BIGINT wraps silently in non-ANSI Spark
            # while DuckDB raises — an engine divergence at scale.
            F.sum(
                F.least(
                    _d38(F.col("a.n")) * _d38(F.col("tb.total")),
                    _d38(F.col("b.n")) * _d38(F.col("ta.total")),
                )
            )
            .cast("bigint")
            .alias("overlap_num")
        )
    )
    return pairs.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        "overlap_num",
        (
            F.col("overlap_num").cast("double")
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
        ).alias("overlap"),
    )


# ---------------------------------------------------------------------------
# q275 — error-rate SLO by activity decile: bucket users into
# activity deciles (tie-free ntile) and report each decile's error
# share — the "are my heaviest users hitting more errors" reliability
# cut. Exact integer counts; one user-keyed exchange, then
# decile-grain aggregation of user-grain rows.
# ---------------------------------------------------------------------------
@query(
    "q275_error_slo_deciles",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
        FROM events GROUP BY user_id
    ),
    bucketed AS (
        SELECT *, CAST(ntile(10) OVER (ORDER BY n_events DESC, user_id) AS INT) AS activity_decile
        FROM per_user
    )
    SELECT activity_decile,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n_events) AS BIGINT) AS total_events,
           CAST(sum(n_errors) AS BIGINT) AS total_errors,
           CAST(sum(n_errors) AS DOUBLE) / CAST(sum(n_events) AS DOUBLE) AS error_rate
    FROM bucketed GROUP BY activity_decile
    """,
)
def q275_error_slo_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("n_errors"),
    )
    # User-grain deciles via two-phase global rank + map-side NTILE
    # (the repo's standard replacement for unpartitioned ntile).
    from pipeline_usnvc_spark.operators.checkpoint import materialize
    from pipeline_usnvc_spark.operators.rank import ntile_from_rank, with_global_rank

    per_user = materialize(per_user)
    n = per_user.agg(F.count("*").cast("bigint").alias("_n"))
    bucketed = (
        with_global_rank(
            per_user, F.col("n_events").desc(), F.col("user_id"), rank_col="_r"
        )
        .crossJoin(F.broadcast(n))
        .withColumn("activity_decile", ntile_from_rank(F.col("_r"), F.col("_n"), 10))
        .drop("_r", "_n")
    )
    return bucketed.groupBy("activity_decile").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("n_events").cast("bigint").alias("total_events"),
        F.sum("n_errors").cast("bigint").alias("total_errors"),
        (F.sum("n_errors").cast("double") / F.sum("n_events").cast("double")).alias(
            "error_rate"
        ),
    )


# ---------------------------------------------------------------------------
# q278 — gaps and islands over the global event_id sequence: find
# every maximal run of consecutive ids and the gaps between runs —
# the CDC completeness audit ("did we lose a range of records?").
# Scale shape: NO event-grain global window. The classic trick —
# within a maximal consecutive run, (event_id - global_rank) is
# constant, and it strictly increases across runs — turns island
# detection into a map-side subtraction after the two-phase
# range-exchange rank (operators/rank.with_global_rank). Islands
# then aggregate by that key, and the 1-based island_id is a second
# with_global_rank over the ISLAND-grain frame (already reduced).
# ---------------------------------------------------------------------------
@query(
    "q278_gaps_and_islands",
    oracle="""
    WITH ordered AS (
        SELECT event_id,
               CASE WHEN lag(event_id) OVER (ORDER BY event_id) IS NULL
                         OR event_id > lag(event_id) OVER (ORDER BY event_id) + 1
                    THEN 1 ELSE 0 END AS is_new
        FROM (SELECT DISTINCT event_id FROM events WHERE event_id % 7 <> 0)
    ),
    islands AS (
        SELECT event_id,
               sum(is_new) OVER (ORDER BY event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
        FROM ordered
    )
    SELECT CAST(island_id AS BIGINT) AS island_id,
           CAST(min(event_id) AS BIGINT) AS start_id,
           CAST(max(event_id) AS BIGINT) AS end_id,
           CAST(count(*) AS BIGINT) AS island_len
    FROM islands GROUP BY island_id
    """,
)
def q278_gaps_and_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 7 != 0)
        .select("event_id")
        .distinct()
    )
    from pipeline_usnvc_spark.operators.rank import with_global_rank

    keyed = with_global_rank(ev, "event_id", rank_col="_r").withColumn(
        "_island_key", F.col("event_id") - F.col("_r")
    )
    islands = keyed.groupBy("_island_key").agg(
        F.min("event_id").cast("bigint").alias("start_id"),
        F.max("event_id").cast("bigint").alias("end_id"),
        F.count("*").cast("bigint").alias("island_len"),
    )
    return (
        with_global_rank(islands, "start_id", rank_col="island_id")
        .select(
            F.col("island_id").cast("bigint").alias("island_id"),
            "start_id",
            "end_id",
            "island_len",
        )
    )


# ---------------------------------------------------------------------------
# q284 — week-over-week percent change: weekly value totals (exact
# integer milli-units) with lag-based WoW deltas. The percent change
# is the identical double expression over two exact integers; weeks
# without a predecessor emit NULL delta on both engines. Classic BI
# trend shape; week grain → tiny frame after one exchange.
# ---------------------------------------------------------------------------
@query(
    "q284_wow_change",
    oracle="""
    WITH weekly AS (
        SELECT CAST(date_trunc('week', ts) AS DATE) AS week_start,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS total_milli
        FROM events GROUP BY 1
    )
    SELECT strftime(week_start, '%Y-%m-%d') AS week_start,
           n_events, total_milli,
           CASE WHEN lag(total_milli) OVER (ORDER BY week_start) IS NULL
                     OR lag(total_milli) OVER (ORDER BY week_start) = 0 THEN NULL
                ELSE 100.0 * (CAST(total_milli AS DOUBLE)
                              - CAST(lag(total_milli) OVER (ORDER BY week_start) AS DOUBLE))
                     / CAST(lag(total_milli) OVER (ORDER BY week_start) AS DOUBLE)
           END AS wow_pct_change
    FROM weekly
    """,
)
def q284_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    weekly = ev.groupBy(
        F.date_trunc("week", "ts").cast("date").alias("week_start")
    ).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.floor(F.col("value") * 1000).cast("bigint"))
        .cast("bigint")
        .alias("total_milli"),
    )
    w = W.orderBy("week_start")
    prev = F.lag("total_milli").over(w)
    return weekly.select(
        F.date_format("week_start", "yyyy-MM-dd").alias("week_start"),
        "n_events",
        "total_milli",
        F.when(
            prev.isNull() | (prev == 0), F.lit(None).cast("double")
        ).otherwise(
            F.lit(100.0)
            * (F.col("total_milli").cast("double") - prev.cast("double"))
            / prev.cast("double")
        ).alias("wow_pct_change"),
    )


# ---------------------------------------------------------------------------
# q290 — daily source-diversity (entropy) trend: per day, the Shannon
# entropy of the event-type mix — collapsing diversity is an early
# incident/drift signal. Exactness: per-(day, type) ln terms quantize
# to integer MICRO-nats (round 6dp — the ln/libm discipline) BEFORE
# the per-day sum, so no float is summed across rows; the final
# entropy is micro/1e6.
# ---------------------------------------------------------------------------
@query(
    "q290_daily_entropy_trend",
    oracle="""
    WITH cells AS (
        SELECT CAST(ts AS DATE) AS day, event_type, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    days AS (SELECT day, CAST(sum(n) AS BIGINT) AS total FROM cells GROUP BY day),
    terms AS (
        SELECT c.day,
               CAST(round(-(CAST(c.n AS DOUBLE) / CAST(d.total AS DOUBLE))
                          * ln(CAST(c.n AS DOUBLE) / CAST(d.total AS DOUBLE))
                          * 1000000.0) AS BIGINT) AS term_micro
        FROM cells c JOIN days d ON d.day = c.day
    )
    SELECT strftime(t.day, '%Y-%m-%d') AS day,
           d.total AS n_events,
           CAST(sum(t.term_micro) AS BIGINT) AS entropy_micro,
           CAST(sum(t.term_micro) AS DOUBLE) / 1000000.0 AS entropy_nats
    FROM terms t JOIN days d ON d.day = t.day
    GROUP BY t.day, d.total
    """,
)
def q290_daily_entropy_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.count("*").cast("bigint").alias("n"))
    days = cells.groupBy("day").agg(F.sum("n").cast("bigint").alias("total"))
    p = F.col("n").cast("double") / F.col("total").cast("double")
    terms = cells.join(days, "day").select(
        "day",
        "total",
        F.round(-p * F.log(p) * 1000000.0).cast("bigint").alias("term_micro"),
    )
    return (
        terms.groupBy("day", "total")
        .agg(F.sum("term_micro").cast("bigint").alias("entropy_micro"))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("total").alias("n_events"),
            "entropy_micro",
            (F.col("entropy_micro").cast("double") / F.lit(1000000.0)).alias(
                "entropy_nats"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q238 — lagged cross-correlation between the view and purchase
# daily series (does purchase volume follow view volume, and at what
# lag?): Pearson r at lags 0–3 days over gap-filled daily counts.
# Scale shape: one event-grain rollup to (day, type) counts, then
# everything lives on the day spine (calendar-bounded); the lag
# lattice is a 4-row literal. Sufficient statistics are exact
# DECIMAL(38,0) sums; the final r is one double expression over
# exact ints, rounded 6dp on both engines.
# ---------------------------------------------------------------------------
@query(
    "q238_lagged_crosscorr",
    oracle="""
    WITH bounds AS (
        SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events
    ),
    spine AS (
        SELECT CAST(date_diff('day', d0, g.d) AS BIGINT) AS d
        FROM bounds, LATERAL (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS d) g
    ),
    counts AS (
        SELECT CAST(date_diff('day', b.d0, CAST(e.ts AS DATE)) AS BIGINT) AS d,
               CAST(count(*) FILTER (WHERE e.event_type = 'view') AS BIGINT) AS x,
               CAST(count(*) FILTER (WHERE e.event_type = 'purchase') AS BIGINT) AS y
        FROM events e, bounds b GROUP BY 1
    ),
    filled AS (
        SELECT s.d, COALESCE(c.x, 0) AS x, COALESCE(c.y, 0) AS y
        FROM spine s LEFT JOIN counts c ON c.d = s.d
    ),
    lagged AS (
        SELECT l.lag, a.x, b.y
        FROM (SELECT unnest([0, 1, 2, 3]) AS lag) l
        JOIN filled a ON TRUE
        JOIN filled b ON b.d = a.d + l.lag
    ),
    stats AS (
        SELECT lag, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
               CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        FROM lagged GROUP BY lag
    )
    SELECT lag, n AS n_days,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                           / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                              * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
                ELSE NULL END AS corr
    FROM stats ORDER BY lag
    """,
)
def q238_lagged_crosscorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    spine = bounds.select(
        F.explode(F.sequence(F.lit(0).cast("bigint"), F.datediff("d1", "d0").cast("bigint")))
        .alias("d")
    )
    counts = ev.crossJoin(F.broadcast(bounds)).groupBy(
        F.datediff(F.to_date("ts"), F.col("d0")).cast("bigint").alias("d")
    ).agg(
        F.count(F.when(F.col("event_type") == "view", 1)).cast("bigint").alias("x"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).cast("bigint").alias("y"),
    )
    filled = spine.join(counts, "d", "left").select(
        "d",
        F.coalesce("x", F.lit(0)).cast("bigint").alias("x"),
        F.coalesce("y", F.lit(0)).cast("bigint").alias("y"),
    )
    lags = spark.createDataFrame([(0,), (1,), (2,), (3,)], "lag int").coalesce(1)
    a = filled.select(F.col("d").alias("da"), "x")
    b = filled.select(F.col("d").alias("db"), "y")
    lagged = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("db") == F.col("da") + F.col("lag"))
    )
    stats = lagged.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(_d38(F.col("x"))).cast("decimal(38,0)").alias("sx"),
        F.sum(_d38(F.col("y"))).cast("decimal(38,0)").alias("sy"),
        F.sum(_d38(F.col("x")) * _d38(F.col("y"))).cast("decimal(38,0)").alias("sxy"),
        F.sum(_d38(F.col("x")) * _d38(F.col("x"))).cast("decimal(38,0)").alias("sxx"),
        F.sum(_d38(F.col("y")) * _d38(F.col("y"))).cast("decimal(38,0)").alias("syy"),
    )
    n = _d38(F.col("n"))
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    var_x = n * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = n * F.col("syy") - F.col("sy") * F.col("sy")
    den = F.sqrt(var_x.cast("double")) * F.sqrt(var_y.cast("double"))
    # Zero-variance guard (ADVICE r05): a constant lag series makes
    # den 0 — Spark's non-ANSI double division yields NULL while
    # DuckDB's IEEE ops can emit inf/nan; the exact-integer variance
    # test makes both engines emit NULL deterministically.
    corr = F.when((var_x > 0) & (var_y > 0), F.round(num / den, 6))
    return (
        stats.select(
            "lag",
            F.col("n").alias("n_days"),
            corr.alias("corr"),
        )
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# q241 — time-in-state occupancy: each event opens a state (its
# event_type) that holds until the user's next event; report per-state
# total occupancy, interval count, and share of all tracked time —
# the state-residency rollup a session-analytics stack builds on.
# One user-keyed window pass (lead over the user's ordered stream,
# same exchange as the q112 time-weighted average), then a
# type-grain aggregation; the share divides exact integer
# microseconds through a ≤#types-row window.
# ---------------------------------------------------------------------------
@query(
    "q241_time_in_state",
    oracle="""
    WITH stepped AS (
        SELECT event_type, epoch_us(ts) AS t_us,
               lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_us
        FROM events
    ),
    spans AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_intervals,
               CAST(sum(next_us - t_us) AS BIGINT) AS total_us
        FROM stepped WHERE next_us IS NOT NULL
        GROUP BY event_type
    )
    SELECT event_type, n_intervals, total_us,
           CAST(total_us AS DOUBLE) / CAST(sum(total_us) OVER () AS DOUBLE) AS time_share,
           round(CAST(total_us AS DOUBLE) / CAST(n_intervals AS DOUBLE) / 1000000.0, 6) AS mean_hold_s
    FROM spans
    """,
)
def q241_time_in_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = ev.select(
        "event_type",
        F.unix_micros("ts").alias("t_us"),
        F.lead(F.unix_micros("ts")).over(w).alias("next_us"),
    )
    spans = (
        stepped.filter(F.col("next_us").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_intervals"),
            F.sum(F.col("next_us") - F.col("t_us")).cast("bigint").alias("total_us"),
        )
    )
    # window over the ≤#types aggregated rows, not events
    w_all = Window.partitionBy(F.lit(1))
    return spans.select(
        "event_type",
        "n_intervals",
        "total_us",
        (
            F.col("total_us").cast("double") / F.sum("total_us").over(w_all).cast("double")
        ).alias("time_share"),
        F.round(
            F.col("total_us").cast("double")
            / F.col("n_intervals").cast("double")
            / F.lit(1000000.0),
            6,
        ).alias("mean_hold_s"),
    )


# ---------------------------------------------------------------------------
# q257 — Fano factor (variance-to-mean ratio) of daily counts per
# event type: the overdispersion index that separates Poisson-like
# arrivals (F≈1) from bursty ones (F>1) — the per-stream companion to
# q202's per-user burstiness. Day×type grain after one rollup;
# variance from exact integer sufficient statistics (n, Σc, Σc²),
# one rounded double division at the end.
# ---------------------------------------------------------------------------
@query(
    "q257_fano_factor",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(c) AS HUGEINT) AS sc,
               CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS scc
        FROM daily GROUP BY event_type
    )
    SELECT event_type, n_days,
           CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_daily,
           round(CAST(n_days * scc - sc * sc AS DOUBLE)
                 / CAST(CAST(n_days AS HUGEINT) * sc AS DOUBLE), 6) AS fano
    FROM stats
    """,
)
def q257_fano_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    stats = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum(_d38(F.col("c"))).cast("decimal(38,0)").alias("sc"),
        F.sum(_d38(F.col("c")) * _d38(F.col("c"))).cast("decimal(38,0)").alias("scc"),
    )
    n = _d38(F.col("n_days"))
    return stats.select(
        "event_type",
        "n_days",
        (F.col("sc").cast("double") / F.col("n_days").cast("double")).alias("mean_daily"),
        F.round(
            (n * F.col("scc") - F.col("sc") * F.col("sc")).cast("double")
            / (n * F.col("sc")).cast("double"),
            6,
        ).alias("fano"),
    )


# ---------------------------------------------------------------------------
# q270 — Kaplan–Meier repeat-purchase survival (Kaplan & Meier 1958 —
# public estimator): for each user's FIRST purchase, the time until
# their next purchase, right-censored at the end of the observation
# window; S(d) over discrete day lags. The churn-analysis staple.
# Scale shape: one user-keyed reduction to (gap, censored) per user,
# then a day-grain life table (≤ window length rows) where at-risk
# counts come from suffix sums and S(d) is exp of a cumulative
# 6dp-rounded ln — all windows run over the tiny day grain.
# ---------------------------------------------------------------------------
@query(
    "q270_repeat_purchase_survival",
    oracle="""
    WITH p AS (
        SELECT user_id, CAST(ts AS DATE) AS d
        FROM events WHERE event_type = 'purchase'
    ),
    bounds AS (SELECT max(d) AS dmax FROM p),
    per_user AS (
        SELECT user_id, min(d) AS first_d,
               min(CASE WHEN d > (SELECT min(d) FROM p p2 WHERE p2.user_id = p.user_id)
                        THEN d END) AS next_d
        FROM p GROUP BY user_id
    ),
    spells AS (
        SELECT CASE WHEN next_d IS NOT NULL
                    THEN CAST(date_diff('day', first_d, next_d) AS BIGINT)
                    ELSE CAST(date_diff('day', first_d, b.dmax) AS BIGINT) END AS t,
               (next_d IS NOT NULL) AS event
        FROM per_user, bounds b
    ),
    life AS (
        SELECT t,
               CAST(count(*) FILTER (WHERE event) AS BIGINT) AS d_events,
               CAST(count(*) AS BIGINT) AS leaving
        FROM spells WHERE t > 0 GROUP BY t
    ),
    risk AS (
        SELECT t, d_events,
               CAST(sum(leaving) OVER (ORDER BY t DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
        FROM life
    ),
    terms AS (
        SELECT t, n_risk, d_events,
               CASE WHEN d_events < n_risk
                    THEN round(ln(1.0 - CAST(d_events AS DOUBLE) / CAST(n_risk AS DOUBLE)), 6)
                    ELSE 0.0 END AS ln_term,
               CASE WHEN d_events >= n_risk THEN 1 ELSE 0 END AS zero_here
        FROM risk
    )
    SELECT t AS day_lag, n_risk, d_events,
           CASE WHEN max(zero_here) OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
                THEN 0.0
                ELSE round(exp(sum(ln_term)
                     OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
           END AS survival
    FROM terms WHERE d_events > 0
    """,
)
def q270_repeat_purchase_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.to_date("ts").alias("d")
    )
    bounds = p.agg(F.max("d").alias("dmax"))
    per_user = p.groupBy("user_id").agg(F.min("d").alias("first_d"))
    nexts = (
        p.join(per_user, "user_id")
        .filter(F.col("d") > F.col("first_d"))
        .groupBy("user_id")
        .agg(F.min("d").alias("next_d"))
    )
    spells = (
        per_user.join(nexts, "user_id", "left")
        .crossJoin(F.broadcast(bounds))
        .select(
            F.when(
                F.col("next_d").isNotNull(), F.datediff("next_d", "first_d")
            )
            .otherwise(F.datediff("dmax", "first_d"))
            .cast("bigint")
            .alias("t"),
            F.col("next_d").isNotNull().alias("event"),
        )
        .filter(F.col("t") > 0)
    )
    life = spells.groupBy("t").agg(
        F.count(F.when(F.col("event"), 1)).cast("bigint").alias("d_events"),
        F.count("*").cast("bigint").alias("leaving"),
    )
    # all windows below run over the ≤ #distinct-day-lag life table
    w_desc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_asc = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = life.withColumn("n_risk", F.sum("leaving").over(w_desc).cast("bigint"))
    # d_events == n_risk means the whole remaining cohort converts:
    # S drops to exactly 0 there and stays 0 (ln would be -inf).
    haz_ln = F.when(
        F.col("d_events") < F.col("n_risk"),
        F.round(
            F.log(
                F.lit(1.0)
                - F.col("d_events").cast("double") / F.col("n_risk").cast("double")
            ),
            6,
        ),
    ).otherwise(F.lit(0.0))
    zero_here = F.when(F.col("d_events") >= F.col("n_risk"), 1).otherwise(0)
    terms = risk.withColumn("ln_term", haz_ln).withColumn("zero_here", zero_here)
    survival = F.when(
        F.max("zero_here").over(w_asc) == 1, F.lit(0.0)
    ).otherwise(F.round(F.exp(F.sum("ln_term").over(w_asc)), 6))
    return (
        terms.withColumn("survival", survival)
        .filter(F.col("d_events") > 0)
        .select(F.col("t").alias("day_lag"), "n_risk", "d_events", "survival")
    )

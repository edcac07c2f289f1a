"""Physical-plan regression tests: the scale posture (pushdown,
broadcast dimension decodes, no accidental cartesian/nested-loop
joins) is asserted, not just documented — a plan regression fails CI
even while results stay correct.
"""

from __future__ import annotations

import pytest

from pipeline_usnvc_spark.plans import QUERIES


def _plan(spark, name, sf_dir) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


@pytest.mark.parametrize(
    "name",
    ["q03_top_revenue_orders", "q04_dim_decode_chain", "q10_star_join"],
)
def test_dim_joins_broadcast(spark, sf_dir, name):
    plan = _plan(spark, name, sf_dir)
    assert "BroadcastHashJoin" in plan, f"{name}: dimension join not broadcast"
    assert "SortMergeJoin" not in plan, f"{name}: unexpected sort-merge join"
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize(
    "name,expected_filters",
    [
        ("q01_pricing_summary", ["LessThanOrEqual(l_shipdate"]),
        ("q02_filter_project", ["In(o_orderpriority, [1-URGENT,2-HIGH])", "IsNotNull(o_orderstatus)"]),
    ],
)
def test_filters_pushed_to_scan(spark, sf_dir, name, expected_filters):
    plan = _plan(spark, name, sf_dir)
    for frag in expected_filters:
        assert frag in plan, f"{name}: {frag} not pushed down"


def test_column_pruning_reaches_scan(spark, sf_dir):
    # q05 needs only 2 of orders' 6 columns; the scan must not read more.
    plan = _plan(spark, "q05_nest_orders_per_customer", sf_dir)
    assert "ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint>" in plan


def test_range_join_is_not_nested_loop(spark, sf_dir):
    plan = _plan(spark, "q45_range_join", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_asof_join_single_shuffle(spark, sf_dir):
    # union + window as-of: exactly one exchange on the key (plus the
    # AQE final plan repeat; assert the count stays small).
    plan = _plan(spark, "q42_asof_join", sf_dir)
    assert plan.count("Exchange") <= 3, "as-of join grew extra shuffles"
    assert "CartesianProduct" not in plan


def test_arrow_topk_partial_reduction(spark, sf_dir):
    # q66: the matmul scorer consumes the scan DIRECTLY (only the
    # to-double cast Project below it, no exchange — the corpus never
    # shuffles for scoring), the exact-fold query side re-attaches
    # through a BROADCAST hash join (query-grain), and Spark adds a
    # Partial WindowGroupLimit before the single merge exchange, so
    # only local candidate rows cross the wire.
    import re

    plan = _plan(spark, "q66_cosine_topk_arrow", sf_dir)
    assert re.search(
        r"MapInArrow \(\d+\)\s*\n[:\s]*\+- Project \(\d+\)\s*\n[:\s]*\+- Scan parquet", plan
    ), "corpus shuffled before scoring"
    assert "BroadcastHashJoin" in plan, "qe re-attach fell out of broadcast"
    assert "row_number(), 5, Partial" in plan, "partial top-k pushdown missing"
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_simhash_single_shuffle(spark, sf_dir):
    # One aggregation shuffle on doc_id (votes are aggregate
    # expressions, not an exploded bit dimension) plus the deliberate
    # spread repartition for tiny local files — nothing else.
    import re

    plan = _plan(spark, "q53_simhash", sf_dir)
    kinds = [
        m.group(1)
        for m in re.finditer(r"Arguments: (hashpartitioning|RoundRobinPartitioning)", plan)
    ]
    assert kinds.count("hashpartitioning") == 1, "simhash regressed to multi-shuffle"
    assert "partial_sum" in plan, "map-side combine missing"


def test_table_diff_single_join_no_cartesian(spark, sf_dir):
    plan = _plan(spark, "q92_table_diff", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FullOuter" in plan


def test_flagship_documents_plan(spark, sf_dir):
    # The document assembly must stay broadcast-only: every dimension
    # and nest side is small relative to the fact table, so the plan
    # has no sort-merge join, no cartesian, and a single exchange
    # (the nest aggregation).
    import re

    from pipeline_usnvc_spark.plans.flagship import customer_documents

    df = customer_documents(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "CartesianProduct" not in plan
    assert not re.findall(r"\(\d+\) SortMergeJoin", plan), "dim join fell out of broadcast"
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_global_rank_has_no_single_partition_sort(spark, sf_dir, monkeypatch):
    # q96's rank must come from rangepartitioning + per-partition
    # window, never a SinglePartition global window (the scale cliff).
    # materialize() is stubbed to identity so the full logical plan
    # stays visible (the production path checkpoints mid-plan, which
    # hides everything upstream from explain).
    import pipeline_usnvc_spark.operators.rank as rank_mod

    monkeypatch.setattr(rank_mod, "materialize", lambda df, eager=True: df)
    plan = _plan(spark, "q96_equidepth_histogram", sf_dir)
    assert "rangepartitioning" in plan.lower(), "rank lost its range exchange"
    # local ranks decode monotonically_increasing_id — there must be
    # NO row_number window over the fact rows (that formulation forces
    # Catalyst to re-shuffle them hash-partitioned by _pid right after
    # the range exchange). The only window left is the cumulative sum
    # over the #partitions-row offsets table.
    assert "row_number" not in plan, "rank fell back to a windowed row_number"
    assert "monotonically_increasing_id" in plan


def test_skyline_is_sweep_not_theta_join(spark, sf_dir, monkeypatch):
    # q98 must run the range-partitioned sweep — no O(n^2) nested-loop
    # domination join (that formulation is the oracle's job).
    import pipeline_usnvc_spark.operators.skyline as sky_mod

    monkeypatch.setattr(sky_mod, "materialize", lambda df, eager=True: df)
    plan = _plan(spark, "q98_skyline", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" in plan.lower()


def test_global_share_reuses_aggregation_exchange(spark, sf_dir):
    """q111 references the per-part aggregation twice (threshold side +
    global-total side); AQE must dedupe via ReusedExchange so the fact
    table is only scanned/shuffled once at runtime."""
    df = QUERIES["q111_global_share"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row broadcast, not a shuffle join


def test_time_weighted_avg_single_exchange(spark, sf_dir):
    """q112's window partition key equals its groupBy key: exactly one
    hash exchange (plus no extra sort-based exchange) in the plan."""
    plan = _plan(spark, "q112_time_weighted_avg", sf_dir)
    tree = plan.split("\n\n")[0]  # tree section only; details repeat node names
    assert tree.count("Exchange") == 1
    assert tree.count("Scan parquet") == 1


def test_repetition_stats_zero_shuffle(spark, sf_dir):
    """q115 is pure per-row array math: no Exchange at all."""
    tree = _plan(spark, "q115_repetition_stats", sf_dir).split("\n\n")[0]
    assert "Exchange" not in tree
    assert "Scan parquet" in tree


def test_sequence_packing_no_single_partition_window(spark, sf_dir, monkeypatch):
    """q116's prefix-sum must be the range-exchange + mapInPandas +
    broadcast-offsets shape; the only unpartitioned window allowed is
    the one over the #partitions-row offsets table (which sits behind
    a broadcast, not over fact rows)."""
    import pipeline_usnvc_spark.operators.rank as rank_mod

    monkeypatch.setattr(rank_mod, "materialize", lambda df, eager=True: df)
    plan = _plan(spark, "q116_sequence_packing", sf_dir)
    assert "rangepartitioning" in plan.lower(), "prefix-sum lost its range exchange"
    assert "MapInPandas" in plan
    assert "BroadcastExchange" in plan  # offsets join side


def test_small_qty_revenue_single_fact_pass(spark, sf_dir):
    # q124 (TPC-H Q17 shape): lineitem must be scanned ONCE (the
    # window supplies the correlated per-part average — no self-join
    # against a re-aggregated copy) and the part dim must broadcast.
    plan = _plan(spark, "q124_small_qty_revenue", sf_dir)
    # formatted explain prints each scan twice (tree + detail node)
    assert plan.count("Scan parquet") == 4, "expected exactly lineitem + part scans"
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sole_late_supplier_single_fact_shuffle(spark, sf_dir):
    # q127 (TPC-H Q21 shape): the EXISTS/NOT-EXISTS pair collapses
    # into one conditional aggregation — lineitem appears once, with
    # no self-joins.
    plan = _plan(spark, "q127_sole_late_supplier", sf_dir)
    assert plan.count("Scan parquet") == 6, "expected lineitem + orders + supplier scans only"
    assert "CartesianProduct" not in plan


def test_nation_market_share_only_customer_shuffles(spark, sf_dir):
    # q129 (TPC-H Q8 shape): nation (twice), supplier broadcast; no
    # cartesian from the dual-role nation dim.
    plan = _plan(spark, "q129_nation_market_share", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_vocab_coverage_topk_not_full_sort(spark, sf_dir):
    # q131: the top-100 must be a distributed TakeOrderedAndProject;
    # only the 100 survivors may hit the single-partition window.
    plan = _plan(spark, "q131_vocab_coverage", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_returned_top_customers_is_topk_single_exchange(spark, sf_dir):
    # q137 (TPC-H Q10 shape): distributed top-20, not a global sort,
    # and the whole join graph rides one exchange (dims broadcast).
    plan = _plan(spark, "q137_returned_top_customers", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_count_min_probe_join_broadcasts(spark, sf_dir):
    # q140: the d*w-row sketch must broadcast into the probe join;
    # the token stream itself is never sort-merge-joined.
    plan = _plan(spark, "q140_count_min", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_local_commerce_all_dims_broadcast(spark, sf_dir):
    # q136 (TPC-H Q5 shape): nation/region/supplier broadcast; the
    # dual-sided nation constraint must not degrade to cartesian.
    plan = _plan(spark, "q136_local_commerce_revenue", sf_dir)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_chunking_is_narrow_zero_exchange(spark, sf_dir):
    # q148: sliding-window chunking must be a pure narrow
    # transformation — no Exchange anywhere in the plan.
    import re

    plan = _plan(spark, "q148_chunk_documents", sf_dir)
    assert not re.search(r"\(\d+\) Exchange", plan), "chunking must not shuffle"


def test_tpch_date_filters_reach_scan(spark, sf_dir):
    # q136: the order-year range must push into the parquet scan as
    # timestamp bounds (partition-pruning surrogate at 100 TB).
    plan = _plan(spark, "q136_local_commerce_revenue", sf_dir)
    assert "GreaterThanOrEqual(o_orderdate,1996-01-01" in plan
    assert "LessThan(o_orderdate,1997-01-01" in plan
    assert "EqualTo(r_name,AMERICA)" in plan


def test_forecast_revenue_all_predicates_pushed(spark, sf_dir):
    # q154 (TPC-H Q6): date range, discount band and quantity cap must
    # ALL reach the parquet scan — the query is nothing but pushdown.
    plan = _plan(spark, "q154_forecast_revenue", sf_dir)
    for frag in [
        "GreaterThanOrEqual(l_shipdate,1997-01-01",
        "LessThan(l_shipdate,1998-01-01",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    ]:
        assert frag in plan, f"{frag} not pushed to scan"


def test_ohlc_argmax_key_invariant(spark):
    # q141's DuckDB oracle encodes the argmax key as
    # floor(epoch(ts))*1e7 + event_id, which matches Spark's
    # (unix_timestamp, event_id) struct order ONLY while event_id
    # stays below 1e7 and timestamps stay post-1970. Assert the
    # invariant on every generated scale factor so a testdata refresh
    # cannot silently break oracle parity (ADVICE r1).
    from pathlib import Path

    from pyspark.sql import functions as F

    from pipeline_usnvc_spark.sources.tables import load_table

    for sf in sorted(Path("/root/testdata").glob("sf*")):
        if not (sf / "events.parquet").exists():
            continue
        ev = load_table(spark, str(sf), "events")
        row = ev.agg(
            F.max("event_id").alias("max_id"),
            F.min(F.unix_timestamp("ts")).alias("min_epoch"),
        ).first()
        assert row["max_id"] < 10_000_000, f"{sf}: event_id reached 1e7"
        assert row["min_epoch"] >= 0, f"{sf}: pre-1970 timestamp"


def test_aqe_skew_join_split(spark):
    # The engine's stated answer to hot keys at 100 TB is AQE skew
    # splitting (operators/dedup.py LSH note). Prove it fires: build a
    # join where one key holds half the left side, lower the skew
    # thresholds, execute the JOIN'S OWN QueryExecution (round-1
    # attempt inspected a derived count() plan — always
    # isFinalPlan=false), and assert the adaptive plan rewrote the
    # skewed partition (VERDICT r1 item 4 / ROADMAP item 2).
    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 2 == 0, 0).otherwise(F.col("id") % 1000).alias("k"),
            F.lpad(F.col("id").cast("string"), 64, "x").alias("pad"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.col("id").alias("v")
        )
        j = left.join(right, "k").select(F.length("pad").alias("lp"))
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan, plan
        assert "AQEShuffleRead coalesced and skewed" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_winsorize_fact_never_shuffles(spark, sf_dir):
    # q159: the percentile bands (tiny) must broadcast back onto the
    # event stream — exactly ONE exchange (the band aggregation); the
    # fact side joins map-side.
    import re

    plan = _plan(spark, "q159_winsorize_values", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_quality_keeper_single_exchange(spark, sf_dir):
    # q157: one partial-aggregating groupBy on fp — a single exchange,
    # with the keeper argmax computed in the map-side combiner (no
    # Window operator anywhere in the plan).
    import re

    plan = _plan(spark, "q157_quality_keeper", sf_dir)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "Window" not in plan
    assert "partial_max" in plan or "partial" in plan.lower()


def test_temperature_mix_single_scan(spark, sf_dir):
    # q161: the normalizing sum is a window over the aggregated
    # |sources|-row frame — the corpus is scanned exactly once (a
    # crossJoin(broadcast(agg)) formulation re-executes the count
    # subtree: second scan).
    import re

    plan = _plan(spark, "q161_temperature_mix", sf_dir)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_quota_fill_two_scans_quota_broadcast(spark, sf_dir):
    # q166: one scan feeds the quota computation, one feeds the
    # ranked stream; quotas reach the stream via broadcast join.
    import re

    plan = _plan(spark, "q166_temperature_quota_fill", sf_dir)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2, plan
    assert "BroadcastHashJoin" in plan


def test_dim_stats_single_exchange(spark, sf_dir):
    # q173: the 64x posexplode fan-out aggregates map-side; exactly
    # one exchange (64 dim keys) crosses the wire.
    import re

    plan = _plan(spark, "q173_embedding_dim_stats", sf_dir)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "partial" in plan.lower() or "HashAggregate" in plan


def test_zipf_windows_rank_vocabulary_not_corpus(spark, sf_dir):
    # q168: the per-source window ranks the term-count table
    # (post-aggregation), never the exploded corpus token stream. In
    # the top-down executedPlan tree the Window must sit ABOVE an
    # Aggregate which sits above the Generate (explode); a regression
    # that windows the raw token stream has no aggregate in between.
    from pipeline_usnvc_spark.plans import QUERIES

    plan = QUERIES["q168_zipf_fit"](spark, sf_dir)._jdf.queryExecution()         .executedPlan().toString()
    win, gen = plan.index("Window"), plan.index("Generate")
    assert win < gen, "window must be above the explode in the tree"
    between = plan[win:gen]
    assert "Aggregate" in between, (
        "no aggregate between Window and Generate — window would rank "
        "the exploded corpus stream\n" + plan[:2000]
    )


def test_curation_pipeline_plan_shape(spark, sf_dir):
    # q174: no cartesian/nested-loop anywhere; the quota stage's
    # WindowGroupLimit partial prune is present; the corpus scan count
    # stays bounded (stage recompute is deliberate map-side work, but
    # a regression that doubles consumers shows up here).
    import re

    plan = _plan(spark, "q174_curation_pipeline", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("WindowGroupLimit") >= 1
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert n_scans <= 6, f"documents scanned {n_scans}x - consumer regression"


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """Hive-partitioned fact + filtered dim join must trigger DPP: the
    fact scan carries a dynamicpruning subquery on the partition
    column, so at 100 TB only the partitions matching the dim filter
    are read — the partition-layout counterpart to static pushdown."""
    from pyspark.sql import functions as F

    from pipeline_usnvc_spark.sources.tables import load_table

    fact_dir = str(tmp_path / "events_by_type")
    ev = load_table(spark, sf_dir, "events")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(fact_dir)

    dim = (
        ev.select("event_type")
        .distinct()
        .withColumn("is_hot", F.col("event_type").isin("click", "view"))
    )
    fact = spark.read.parquet(fact_dir)
    joined = fact.join(dim.filter("is_hot"), "event_type").groupBy("event_type").count()

    plan = joined._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "dynamicpruning" in plan.lower(), f"no DPP in plan:\n{plan[:2000]}"
    # correctness: pruned result equals the unpruned filter
    expect = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .groupBy("event_type")
        .count()
        .collect()
    )
    assert sorted((r["event_type"], r["count"]) for r in joined.collect()) == sorted(
        (r["event_type"], r["count"]) for r in expect
    )


def test_drift_monitors_aggregate_before_window(spark, sf_dir):
    # q191/q193: the cumulative windows run over the per-(type, value)
    # / per-(type, day) AGGREGATE, never the raw event stream — in the
    # executed tree every Window sits above an Aggregate.
    from pipeline_usnvc_spark.plans import QUERIES

    for name in ("q191_ks_drift", "q193_cusum_changepoint"):
        plan = (
            QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Window" in plan, name
        win = plan.index("Window")
        assert "Aggregate" in plan[win:], (
            f"{name}: no aggregate below the window — it would rank raw events"
        )


def test_psi_bounds_broadcast_not_recomputed(spark, sf_dir):
    # q190: the global min/max bounds and the per-type totals are tiny
    # aggregates that must reach the binned stream via broadcast.
    plan = _plan(spark, "q190_psi_drift", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan[:2000]


def test_dim_correlation_pairs_combine_map_side(spark, sf_dir, monkeypatch):
    # q196: the kernel's cell aggregation must partially aggregate
    # map-side — the exchange carries d(d+1)/2 groups, not per-vector
    # rows. partial_sum in the plan below the exchange proves it.
    # materialize stubbed to identity (repo convention): the r13 cells
    # checkpoint would otherwise hide the kernel subtree from explain.
    from pipeline_usnvc_spark.operators import checkpoint as ckpt_mod

    monkeypatch.setattr(ckpt_mod, "materialize", lambda df, eager=True: df)
    plan = _plan(spark, "q196_dim_correlation", sf_dir)
    assert "partial_sum" in plan, plan[:3000]


def test_attribution_no_pair_join(spark, sf_dir):
    # q201 is the as-of union formulation: both event kinds ride ONE
    # user-keyed window (last-touch carry), so the plan must contain
    # NO join at all — a purchases×touches join would fan out by
    # touches-per-user-in-window (measured 83 s vs 5.7 s at 10M
    # events).
    plan = _plan(spark, "q201_last_touch_attribution", sf_dir)
    assert "Window" in plan, plan[:3000]
    for join_op in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join_op not in plan, f"unexpected {join_op} — pair fan-out is back\n{plan[:3000]}"
    assert "Union" in plan, plan[:3000]


def test_kmv_shuffles_hashes_not_documents(spark, sf_dir):
    # q198: the exchange after tokenization carries (source, tok/h)
    # distinct rows — the documents' text column must be pruned out
    # before any exchange (ReadSchema shows only text+source read,
    # and the post-exchange schema is hash-sized).
    plan = _plan(spark, "q198_kmv_distinct", sf_dir)
    assert "ReadSchema" in plan
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(m.group(1).split(",")) <= {
        "source:string",
        "text:string",
    }, m.group(1) if m else plan[:1500]


def test_derived_partsupp_tie_free_and_plan(spark):
    """The derived partsupp (tpch_queries.py) must (a) give every
    part 4 DISTINCT suppliers with DISTINCT supply costs at every sf
    (q213's per-part argmin relies on it), and (b) build without any
    shuffle exchange — it is part × a broadcast 1-row count."""
    from pyspark.sql import functions as F

    from pipeline_usnvc_spark.plans.tpch_queries import derived_partsupp

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        ps = derived_partsupp(spark, f"/root/testdata/{sf}")
        bad = (
            ps.groupBy("ps_partkey")
            .agg(
                F.count("*").alias("n"),
                F.count_distinct("ps_suppkey").alias("n_supp"),
                F.count_distinct("ps_supplycost_cents").alias("n_cost"),
            )
            .filter((F.col("n") != 4) | (F.col("n_supp") != 4) | (F.col("n_cost") != 4))
            .count()
        )
        assert bad == 0, f"partsupp ties/dups at {sf}"
    plan = derived_partsupp(spark, "/root/testdata/sf0.01")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan[:1500]


def test_dsir_llr_model_is_join_free_literal(spark, sf_dir, monkeypatch):
    """q217's importance model (256 bucket LLRs, bounded by _DSIR_B)
    must reach the doc scorer WITHOUT any join of the exploded bigram
    stream: r14 inlines the constant-folded LLR table as a literal
    array lookup (element_at), which is stronger than the broadcast
    join it replaces — and shuffling the stream against the model
    would be the scale-killer either way. materialize stubbed so the
    scoring stage is visible to explain (repo convention)."""
    import pipeline_usnvc_spark.operators.checkpoint as ckpt_mod
    import pipeline_usnvc_spark.operators.rank as rank_mod

    from pipeline_usnvc_spark.plans import QUERIES

    monkeypatch.setattr(rank_mod, "materialize", lambda df, eager=True: df)
    monkeypatch.setattr(ckpt_mod, "materialize", lambda df, eager=True: df)
    plan = (
        QUERIES["q217_dsir_importance"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "element_at" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_gopher_gate_is_map_side_only(spark, sf_dir):
    """q218 is a pure per-document gate: the executed plan must
    contain NO exchange of any kind — one scan, zero shuffles."""
    from pipeline_usnvc_spark.plans import QUERIES

    plan = (
        QUERIES["q218_gopher_quality_gate"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan[:2000]


def test_semantic_dedup_pair_join_is_label_partitioned(spark, sf_dir):
    """q221's pair generation must be an equi-join on the cluster
    key (label), never a cross/nested-loop over the corpus."""
    from pipeline_usnvc_spark.plans import QUERIES

    plan = (
        QUERIES["q221_semantic_dedup"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_semantic_dedup_no_corpus_grain_broadcast_hints(spark, sf_dir):
    """VERDICT r04 item 2: q221's partners/dropped join-backs are
    corpus-grain (one row per vector with a near-dup partner) — the
    analyzed plan must carry NO broadcast hints at all (AQE may still
    pick broadcast at runtime when the frames turn out tiny; forcing
    it OOMs executors on a dup-heavy corpus)."""
    plan = (
        QUERIES["q221_semantic_dedup"](spark, sf_dir)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "ResolvedHint" not in plan, plan[:2000]


def test_dsir_selection_uses_range_exchange_rank(spark, sf_dir, monkeypatch):
    """VERDICT r04 item 3: q217's quartile selection must come from
    the two-phase range-exchange rank (with_global_rank), never a
    single-partition row_number window over doc-grain rows."""
    import pipeline_usnvc_spark.operators.rank as rank_mod
    import pipeline_usnvc_spark.plans.curation_queries as cur_mod

    monkeypatch.setattr(rank_mod, "materialize", lambda df, eager=True: df)
    monkeypatch.setattr(cur_mod, "materialize", lambda df, eager=True: df, raising=False)
    plan = _plan(spark, "q217_dsir_importance", sf_dir)
    assert "rangepartitioning" in plan.lower(), "selection lost its range exchange"
    assert "row_number" not in plan, "selection fell back to a windowed row_number"
    assert "monotonically_increasing_id" in plan


def test_ntile_queries_have_no_single_partition_ntile(spark, sf_dir, monkeypatch):
    """q227/q233/q275/q301 derive their quantile buckets from
    with_global_rank + the exact map-side NTILE formula; the executed
    plans must contain no ntile window at all (an unpartitioned
    ntile is a single-partition sort of the whole grain)."""
    import pipeline_usnvc_spark.operators.rank as rank_mod

    monkeypatch.setattr(rank_mod, "materialize", lambda df, eager=True: df)
    for name in (
        "q227_rfm_segmentation",
        "q233_time_to_convert",
        "q275_error_slo_deciles",
        "q301_lift_table",
    ):
        plan = _plan(spark, name, sf_dir)
        assert "ntile" not in plan.lower(), (name, plan[:1500])
        assert "rangepartitioning" in plan.lower(), name


def test_flesch_is_map_side_only(spark, sf_dir):
    """q319 is a pure per-document expression: the executed plan must
    contain NO exchange — one scan, zero shuffles, all regex counting
    inside whole-stage codegen."""
    from pipeline_usnvc_spark.plans import QUERIES

    plan = (
        QUERIES["q319_flesch_readability"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan[:2000]


def test_spearman_windows_run_on_value_grain(spark, sf_dir):
    """q312's rank windows must consume the (rf, value) aggregate —
    never the raw lineitem rows. The plan therefore has the row-grain
    groupBy FIRST and every Window sits above an aggregate whose
    grouping includes the value column; equivalently, no Window's
    child exchange partitions more than the tiny value-grain rows.
    Cheap structural proxy: the physical plan contains exactly the
    joins/aggregates expected and the window operators appear AFTER
    (above) HashAggregate nodes in the tree string."""
    from pipeline_usnvc_spark.plans import QUERIES

    plan = (
        QUERIES["q312_spearman_corr"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # a data-grain rank would show a Window directly over the scan —
    # i.e. a Window whose subtree has no HashAggregate. Assert every
    # Window has an aggregate below it.
    lines = plan.splitlines()
    win_idx = [i for i, l in enumerate(lines) if "Window" in l]
    agg_idx = [i for i, l in enumerate(lines) if "HashAggregate" in l]
    assert win_idx, "expected rank windows in the plan"
    for wi in win_idx:
        assert any(ai > wi for ai in agg_idx), (
            "window has no aggregate beneath it (data-grain rank)"
        )


def test_dedup_scaling_curve_windows_spine_not_corpus(spark, sf_dir, monkeypatch):
    # q346: the cumulative-novelty window runs over the 10-row bucket
    # spine, never the exploded shingle stream — in the top-down tree
    # every Window must sit above an Aggregate that sits above the
    # Generate (explode). Bucket assignment is a pure doc_id
    # expression: no ntile / data-grain global sort anywhere.
    # materialize AND fan_out stubbed to identity (repo convention,
    # ADVICE r13): the r13 grain checkpoint would otherwise hide the
    # Generate behind ExistingRDD, and fan_out's local round-robin
    # Exchange (a no-op at scale) would pollute the scale-shaped plan
    # the assertions are written against.
    import pipeline_usnvc_spark.operators.checkpoint as ckpt_mod

    monkeypatch.setattr(ckpt_mod, "materialize", lambda df, eager=True: df)
    monkeypatch.setattr(ckpt_mod, "fan_out", lambda df, min_fraction=0.5: df)
    plan = (
        QUERIES["q346_dedup_scaling_curve"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ntile" not in plan.lower()
    win, gen = plan.index("Window"), plan.index("Generate")
    assert win < gen, "window must be above the explode in the tree"
    assert "Aggregate" in plan[win:gen], (
        "no aggregate between Window and Generate — window would scan "
        "the exploded shingle stream\n" + plan[:2000]
    )


def test_inference_family_aggregates_before_windows(spark, sf_dir):
    # q341/q343: the nation/source-spine windows (p-value ranks, BH
    # k_max, jackknife variance) must sit above the row-grain
    # aggregates; the corpus totals come back via BroadcastExchange,
    # never a corpus-grain cross join.
    for name in ("q341_bh_fdr", "q343_jackknife_source"):
        plan = (
            QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        win = plan.index("Window")
        assert "Aggregate" in plan[win:], (
            f"{name}: no aggregate below the first Window node — the "
            "window would run at row grain\n" + plan[:2000]
        )
        assert "BroadcastExchange" in plan, name
        assert "CartesianProduct" not in plan, name


def test_bucketed_join_has_no_pre_join_exchange(spark, sf_dir):
    # q370: the whole point of bucketing — the SortMergeJoin consumes
    # the two bucketed scans DIRECTLY; every Exchange in the plan sits
    # above the join (aggregate / final sort), never between a scan
    # and the join.
    plan = (
        QUERIES["q370_bucketed_join"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" in plan
    smj = plan.index("SortMergeJoin")
    below = plan[smj:]
    assert "Exchange" not in below, (
        "exchange below the bucketed join:\n" + below[:1500]
    )
    assert below.count("Bucketed: true") == 2, below[:1500]


# Per-file allowlists of reviewed F.broadcast targets. Every entry is
# a frame bounded BY CONSTRUCTION at 100 TB: a scalar aggregate, a
# fixed spine (days/levels/lags/percentiles), a dimension with a fixed
# domain (nation/region, event types, labels, brands, sources,
# embedding dims), a top-k slice, or a sketch lattice. SF-scaling
# tables (customer/part/supplier and their filtered slices) carry NO
# hint — the size-threshold/AQE planner broadcasts them at small SF
# and correctly refuses at 100 TB (round-9 de-hinting; see
# tpch_queries.py module docstring). The deliberate exception is the
# similarity module's QUERY side: a non-equi top-k join needs a
# BroadcastNestedLoopJoin, and the eval query set is bounded by
# design (its scale paths are the bucketed q62-q66 variants).
_BROADCAST_ALLOWLIST = {
    "analytics_queries.py": {
        "bounds",  # scalar min/max aggregate
        "ca", "cb", "cand",  # per-brand counts / brand-pair lattice (~25 brands)
        "fit", "m", "n", "tot", "total",  # scalar aggregates
        "rows_i",  # spark.range(CM depth) — fixed sketch rows
        "sketch",  # count-min lattice (d x w, fixed)
        "spine",  # day spine / 3-row percentile spine
        "ties",  # per-count tie groups on the day-grain frame
    },
    "cluster_queries.py": {
        "n",  # scalar corpus-count aggregate (q35 tf-idf)
    },
    "curation_queries.py": {
        "bands",  # per-event-type / per-band percentile frames
        "best0",  # top-1 pair slice
        "clamp",  # scalar seed-violation aggregate
        "factors", "quotas",  # per-source frames
        "n", "n_total", "tot", "totals",  # scalar aggregates
        "scored",  # scored.agg(count) — scalar aggregate
    },
    "drift_queries.py": {
        "b",  # scalar min/max aggregate / day-index alias
        "base",  # scalar moment aggregate
        "col_tot", "row_tot", "grand",  # hour/type margins + scalar
        "n", "totals",  # per-event-type totals
        "bounds",  # scalar min/max aggregate
    },
    "events_queries.py": {
        "bounds",  # scalar date/horizon aggregates
        "lags",  # 4-row lag spine
        "n", "stats", "tot", "wm",  # scalar / per-type aggregates
    },
    "inference_queries.py": {
        "tot",        # scalar aggregate (one row)
        "nxt",        # frequency-of-frequencies spine
        "vals",       # distinct value domain (bounded: n_chars lengths)
        "n",          # nation dim
        "nn",         # nation dim
        "new_per_bucket",  # per-bucket counts (fixed bucket count)
        "per_bin",    # fixed calibration-bin spine
        "chance",     # scalar aggregate
        "norm",       # scalar aggregate
        "wm",         # scalar watermark aggregate
        "margins",    # per-dim margins (64 rows)
        "nrow",       # scalar aggregate
        "mass",       # scalar aggregate
        "seas",       # 7-row seasonal spine
        "horizon",    # scalar aggregate
        "top_terms",  # top-100 slice
        "with_top",   # (source x top-100 term) counts
        "src_tot",    # per-source totals
        "corpus_tot", # scalar aggregate
        "spark",      # spark.createDataFrame of a driver-bounded list
    },
    "misc_queries.py": {
        "viol",  # scalar FD-violation aggregate
        "wm",  # scalar watermark aggregate
    },
    "profiling_queries.py": {
        "gcum",  # 5-level cumulative frame
        "keys",  # DIM_TABLES keys only (guarded by `if dim in DIM_TABLES`)
        "lvl_spine",  # 5-row spine
        "med", "stats",  # per-source aggregates
    },
    "relational.py": {"total"},  # scalar aggregate
    "round8_queries.py": {
        "bounds", "horizon", "n", "n_days", "n_tot", "den", "tot",
        "occ_count", "thresh", "lim", "conf",  # scalar aggregates
        "m_frame",  # q400 1-row in-plan filter sizing (replaced the
                    # driver-side count in round 13)
        "cells", "margins_b", "maj", "inter", "crossing",  # class/type lattices
        "ref",  # reference-source ECDF slice (one source)
        "resid",  # resid.sparkSession.range(1, 8) — 7-row lag spine
        "spark",  # spark.range / createDataFrame of bounded spines
        "spine", "vals",  # day spine / value domain
    },
    "round10_queries.py": {
        "months",  # calendar-bounded month spine (~84 rows)
        "nm",  # scalar month-count aggregate
        "adj",  # scalar adjacent-equal-count aggregate
        "cslices",  # fixed 16-row custkey-residue spine (q415)
        "n_months",  # scalar month-count aggregate (q415)
        "stale",  # scalar stale-scan-count aggregate (q416)
        "ks",  # fixed 31-row boundary-index spine (q418)
        "gstats",  # one-row observed Mann-Whitney stats (q421)
        "gain",  # scalar recluster-gain aggregate on the 2-row frame (q422)
        "dead",  # scalar dead-mass aggregate (q423)
        "nn",  # scalar row-count aggregate (q418)
        "bnds",  # <=31-row boundary frame (q418)
        "bounds",  # scalar min/max aggregate (q418)
    },
    "round9_queries.py": {
        "bounds",  # scalar min/max aggregate
        "b",  # 16x16 band-cell lattice (<=256 rows)
        "cross_pairs", "x_ties", "y_ties",  # scalar pair/tie aggregates
        "channels",  # distinct event types
        "samples",  # spark.range(24) permutation spine
        "m",  # scalar pair-count aggregate (q407 median ranks)
        "ref",  # scalar reference-source aggregate (q408)
        "vals",  # distinct value domain (n_chars lengths, q408)
    },
    "similarity_queries.py": {
        "b",  # per-label centroid frame (label domain)
        "i", "j",  # per-dim stats (embedding dims)
        "k_used", "stats",  # scalar / per-dim aggregates
        "q",  # eval QUERY side of brute-force ANN (see note above)
        "hits", "per_q_ann",  # recall-audit frames at eval-query grain
        "totals",  # scalar recall-total aggregates (q164 + the q62-65 contract)
        "nrow",  # q196 1-row count sentinel from the gram kernel (r13)
    },
    "stats_queries.py": {
        "channels",  # distinct event types
        "cols_", "rows_",  # dow / event-type margins
        "corpus_tot", "src_tot", "seg_tot", "tot", "totals",  # scalars/per-source
        "dr", "qr",  # discount/qty value-domain rank maps
        "ks",  # spark.range(2, 15) spine
        "masks", "v0", "v1",  # channel-mask lattice (2^|channels|, |channels|<=8)
        "n",  # nation dim
        "stats",  # per-term stats on the top-k slice
        "top_terms",  # top-k slice
    },
    "text_queries.py": {
        "all_tot", "n", "total", "stats", "src_tot",  # scalar/per-source
        "boiler",  # per-source tokens with doc_freq > 0.8*n_docs — bounded
                   # by avg doc length / 0.8 per source
        "exact",  # exact counts of the MG top-20 slice
        "hh",  # Misra-Gries top-20
        "pairs",  # top-50 term pairs / source pairs (bounded lattices)
        "sa", "sb", "src_docs", "targets",  # per-source frames
        "top50",  # top-50 slice
    },
    "tpch_queries.py": {
        "mean_qty", "mx", "pos_avg", "tot",  # scalar aggregates
        "n", "nation", "nc", "ns", "region",  # fixed dims (25 / 5 rows)
        "spine",  # fixed spine
        "stats",  # scalar histogram stats
        "supp_n",  # scalar supplier count
    },
    "dedup_queries.py": {
        "docs",  # q252's max-doc-id scalar (1-row agg of documents)
    },
    "round11_queries.py": {
        "base",  # _ledger_oplog's max-doc-id scalar (1-row agg of base)
        "n", "yy",  # q425 scalar kernel sentinels (row count / label moment)
        "solved",  # q426's 32-row per-block beta frame
        "summary",  # q427 1-row log/snapshot totals
        "table",  # q424 1-row table-level dead fraction
    },
    "round12_queries.py": {
        "multi",  # q432 1-row max-emissions scalar (re-emission proof)
        "table",  # q432 1-row table-level dead fraction (q424's shape)
    },
    "round13_queries.py": {
        "solved",  # q433 32-row per-block whitening scalars (q426's shape)
        "multi",  # q434 1-row max-emissions scalar (q432's shape)
        "summary",  # q434 1-row log/snapshot totals (q427's shape)
        "mism",  # q435 1-row register-merge-mismatch count
        "stats",  # q437 k x d (512-row) Lloyd stats checkpoint (agg to 1 row)
        "tot",  # q435/q437 1-row totals
    },
}


# Non-plans packages (operators/streaming/usnvc/...): every
# F.broadcast target outside plans/ — reviewed bounded by construction
# or by documented contract. star_join deliberately has NO entry: its
# callers pass SF-scaling tables and the hint was removed (round-10
# review); decode_dimension's `dim` is contract-bound to tiny code
# tables (its docstring states it), and the USNVC d_* decodes and the
# flagship's nation/region decode go through it.
_PKG_BROADCAST_ALLOWLIST: dict[str, set[str]] = {
    "timeseries.py": {"bounds"},  # scalar min/max aggregate
    "skyline.py": {"carry"},  # #partitions-row carry frame
    "rank.py": {"offsets"},  # #partitions-row offsets table
    "joins.py": {"dim"},  # decode_dimension contract: bounded code dims only
    "similarity.py": {"q", "q_tables"},  # query-grain eval frames (documented)
}


def test_broadcast_targets_are_bounded_frames():
    """VERDICT r07 items 2/4 + r08 item 2: q369 once broadcast the
    full vocab-grain (source x term) count frame — a driver OOM at
    100 TB. Enforce mechanically ACROSS EVERY plans file: each
    F.broadcast(...) target must be a reviewed bounded-grain frame
    name in the per-file allowlist above. Adding a new broadcast
    means consciously extending the allowlist with a bounded frame,
    and removing one means pruning its entry: an entry that names no
    live target would silently pre-approve a future hint."""
    import re
    from pathlib import Path

    plans_dir = (
        Path(__file__).resolve().parent.parent / "pipeline_usnvc_spark" / "plans"
    )
    # The q10 lesson (round-10 review): a hint smuggled through an
    # operators/ helper evades a plans-only sweep — walk the whole
    # package, not just plans/.
    found: dict[bool, dict[str, set[str]]] = {True: {}, False: {}}
    for p in sorted(plans_dir.parent.rglob("*.py")):
        targets = {
            m.group(1)
            for m in re.finditer(
                r"F\.broadcast\(\s*([A-Za-z_][A-Za-z0-9_]*|spark)", p.read_text()
            )
        }
        found[p.parent == plans_dir].setdefault(p.name, set()).update(targets)
    problems = []
    for in_plans, allowlist in ((True, _BROADCAST_ALLOWLIST), (False, _PKG_BROADCAST_ALLOWLIST)):
        for name, targets in found[in_plans].items():
            extra = targets - allowlist.get(name, set())
            if extra:
                problems.append(f"{name}: {sorted(extra)}")
        for name, allowed in allowlist.items():
            stale = allowed - found[in_plans].get(name, set())
            if stale:
                problems.append(f"{name}: stale allowlist entries {sorted(stale)}")
    assert not problems, (
        "unreviewed F.broadcast targets (verify each frame is bounded at "
        "100 TB — not data-grain or vocab-grain — then extend "
        "_BROADCAST_ALLOWLIST / _PKG_BROADCAST_ALLOWLIST), or allowlist "
        f"entries with no live F.broadcast target (prune them): {problems}"
    )
    # The specific regressions: never broadcast the vocab-grain tc, and
    # never re-hint the SF-scaling TPC-H tables.
    inference = (plans_dir / "inference_queries.py").read_text()
    assert not re.search(r"F\.broadcast\(\s*tc\b", inference)
    for fn in ("tpch_queries.py", "relational.py", "stats_queries.py"):
        src = (plans_dir / fn).read_text()
        assert not re.search(
            r"F\.broadcast\(\s*(part|supp|cust|cc|asia|blacklist)\b", src
        ), f"{fn}: explicit broadcast of an SF-scaling table slice"


def test_tokenizer_sql_single_canonical_regex():
    """The DuckDB tokenizer mirror is defined ONCE (functions/text.py
    TOKENIZE_SQL, derived from TOKEN_SPLIT_RE); plan modules import it
    as _TOKS_SQL. Seven per-file copies were a review finding — this
    pins the consolidation two ways: (a) no plan file re-defines its
    own _TOKS_SQL literal, and (b) every remaining INLINE oracle
    tokenization of lower(text) uses exactly TOKEN_SPLIT_RE, so a
    regex change fails loudly on every stale copy instead of silently
    desynchronizing Spark and oracle tokenization."""
    import re
    from pathlib import Path

    from pipeline_usnvc_spark.functions.text import TOKEN_SPLIT_RE

    pkg_dir = Path(__file__).resolve().parents[1] / "pipeline_usnvc_spark"
    redefs, stale = [], []
    for p in sorted((pkg_dir / "plans").glob("*.py")):
        src = p.read_text()
        if re.search(r"^_TOKS_SQL\s*=\s*[\"']", src, re.M):
            redefs.append(p.name)
        flat = re.sub(r"\s+", " ", src)
        for m in re.finditer(r"string_split_regex\(lower\(text\), '([^']+)'\)", flat):
            if m.group(1) != TOKEN_SPLIT_RE:
                stale.append((p.name, m.group(1)))
    assert not redefs, f"plan files re-defining _TOKS_SQL (import TOKENIZE_SQL): {redefs}"
    assert not stale, f"inline tokenizations diverging from TOKEN_SPLIT_RE: {stale}"


def test_no_raw_double_cross_row_sums_in_plans():
    """VERDICT r07 item 7 + r08 item 3: cross-row sums of raw doubles
    are fold-order nondeterministic — outputs must ride quantized
    integer or DECIMAL(38,0) accumulations (round(1e6*x) then exact
    sum). Sweep EVERY plans file for F.sum(...) whose argument casts
    to double; a hit passes only if the summed expression is
    re-quantized (an F.round followed by a .cast to bigint/decimal
    inside the argument) or sits in the per-file allowlist of
    justified tolerance-contract sites."""
    import re
    from pathlib import Path

    plans_dir = (
        Path(__file__).resolve().parent.parent / "pipeline_usnvc_spark" / "plans"
    )
    # Justified raw-double sums: tolerance contracts, never
    # driver-facing values.
    allowed_args = {
        # q374's fixed-point flow audit
        "inference_queries.py": {'F.col("n").cast("double") * F.col("p_b")'},
    }
    bad = []
    for p in sorted(plans_dir.glob("*.py")):
        src = p.read_text()
        for m in re.finditer(r"F\.sum\(", src):
            # scan to the matching close paren
            depth, i = 0, m.end() - 1
            while i < len(src):
                if src[i] == "(":
                    depth += 1
                elif src[i] == ")":
                    depth -= 1
                    if depth == 0:
                        break
                i += 1
            arg = src[m.end() : i]
            # two ways a summed expression goes double: an explicit
            # cast, or an implicit one via plain `/` division (ADVICE
            # r09 — q405's tx*(tx-1)/2 carried no cast and slipped the
            # original sweep; integer paths must use `div` / floor-div)
            explicit = 'cast("double")' in arg
            implicit = bool(re.search(r"(?<!/)/(?!/)", arg))
            if not explicit and not implicit:
                continue
            quantized = "F.round(" in arg and (
                '.cast("bigint")' in arg or '.cast("decimal' in arg
            )
            if quantized:
                continue
            if arg.strip() in allowed_args.get(p.name, set()):
                continue
            line = src[: m.start()].count("\n") + 1
            bad.append((p.name, line, " ".join(arg.split())[:80]))
    assert not bad, (
        "raw-double cross-row sums (quantize to integer micro-units "
        f"before the sum, or justify in allowed_args): {bad}"
    )


def test_driver_side_collects_are_documented_bounded():
    """Mechanizes the per-round anti-pattern sweep (VERDICT r08
    'Anti-pattern sweep' section): every driver-side materialization
    (.collect() / .toPandas()) in plans/ and the operator modules must
    state WHY its grain is bounded — the word 'bounded', 'scalar',
    'seed', 'vocab-grain', 'spine', or 'lattice' on the hit line or
    within the 6 lines above (multi-line expressions put the note at
    the statement head). A new data-grain collect therefore can't
    land without either a written justification or tripping this."""
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent / "pipeline_usnvc_spark"
    markers = re.compile(
        r"bounded|scalar|seed|vocab-grain|spine|lattice|driver-sized|k rows",
        re.IGNORECASE,
    )
    undocumented = []
    for sub in ("plans", "operators", "streaming", "pipelines"):
        for p in sorted((root / sub).glob("*.py")):
            lines = p.read_text().split("\n")
            for i, line in enumerate(lines):
                if not re.search(r"\.collect\(\)|\.toPandas\(\)", line):
                    continue
                window = "\n".join(lines[max(0, i - 6) : i + 1])
                if not markers.search(window):
                    undocumented.append(f"{sub}/{p.name}:{i + 1}")
    assert not undocumented, (
        "driver-side collects without a boundedness note (add a "
        f"comment saying why the grain is bounded): {undocumented}"
    )


def test_round9_plan_shapes(spark, sf_dir, monkeypatch):
    """q405: the cell-pair theta join must run on the <=256-row band
    lattice (the only join inputs below it are Aggregates, never the
    raw day/event stream); q406: the permutation windows partition on
    the sample index (never a single-partition data-grain window) and
    nothing plans a distributed CartesianProduct; q407: the slope join
    carries the 30-day band predicate (range join, not all-pairs)."""
    import re

    plan405 = (
        QUERIES["q405_banded_kendall_tau"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan405
    # the pair join consumes the aggregated cell lattice: an Aggregate
    # must appear above (before) the first BroadcastNestedLoopJoin's
    # inputs in the top-down tree
    bnlj = plan405.find("BroadcastNestedLoopJoin")
    assert bnlj != -1, "banded pair join missing"
    assert "Aggregate" in plan405[bnlj:], (
        "pair join input is not the aggregated cell lattice"
    )

    plan406 = (
        QUERIES["q406_permutation_shapley"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan406
    # every Window except the channel-domain bit-rank (bounded by the
    # distinct event_type domain, q340's shape) partitions on the
    # sample index k — never a single-partition window over data
    win_frags = [
        plan406[m.start() : m.start() + 400]
        for m in re.finditer(r"Window \[", plan406)
    ]
    assert win_frags, "q406 lost its permutation windows"
    for frag in win_frags:
        is_channel_rank = "ch#" in frag and "k#" not in frag and "md5" not in frag
        if not is_channel_rank:
            assert "k#" in frag, (
                "q406 window not partitioned on sample k:\n" + frag
            )

    # materialize() checkpoints mid-plan and hides the slope join from
    # explain — stub it to identity (the verify-recipe workaround)
    import pipeline_usnvc_spark.operators.checkpoint as ckpt_mod
    import pipeline_usnvc_spark.operators.rank as rank_mod

    monkeypatch.setattr(ckpt_mod, "materialize", lambda df, eager=True: df)
    monkeypatch.setattr(rank_mod, "materialize", lambda df, eager=True: df)
    plan407 = (
        QUERIES["q407_windowed_theil_sen"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan407
    assert re.search(r"<= 30", plan407), "30-day band predicate lost"

    # q408/q409: the banded ECDF twins must window on the (sa, sb)
    # pair key (never a single-partition window over the value spine)
    # and plan no cartesian anywhere
    for name in ("q408_banded_cvm_reference", "q409_banded_energy_reference"):
        plan = (
            QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan, name
        for m in re.finditer(r"Window \[", plan):
            frag = plan[m.start() : m.start() + 500]
            assert "sa#" in frag and "sb#" in frag, (
                f"{name}: window not partitioned on the pair key:\n" + frag
            )


def test_round10_plan_shapes(spark, sf_dir, monkeypatch):
    """q410: NO join anywhere — the capped episode miner is lead
    windows + explode (the whole point vs q321's band self-join), and
    every window partitions on user_id; q411/q413: the global ranks
    ride a RANGE exchange (with_global_rank), never a single-partition
    row_number window — the only Window in those plans is the
    partition-count offsets cumulative (_pid grain); q412: the packing
    cumsum window partitions on source."""
    import re

    import pipeline_usnvc_spark.operators.checkpoint as ckpt_mod
    import pipeline_usnvc_spark.operators.rank as rank_mod

    plan410 = (
        QUERIES["q410_capped_episode_mining"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for op in (
        "SortMergeJoin",
        "BroadcastHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
        "ShuffledHashJoin",
    ):
        assert op not in plan410, f"q410 must not join — found {op}"
    win_frags = [
        plan410[m.start() : m.start() + 400]
        for m in re.finditer(r"Window \[", plan410)
    ]
    assert win_frags, "q410 lost its lead windows"
    for frag in win_frags:
        assert "user_id#" in frag, (
            "q410 window not partitioned on user_id:\n" + frag
        )

    # materialize() inside with_global_rank checkpoints mid-plan and
    # hides the range exchange from explain — stub it to identity
    monkeypatch.setattr(ckpt_mod, "materialize", lambda df, eager=True: df)
    monkeypatch.setattr(rank_mod, "materialize", lambda df, eager=True: df)
    for name in (
        "q411_zonemap_skipping",
        "q413_rle_run_audit",
        "q415_zorder_skipping",
    ):
        plan = (
            QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan, name
        assert "rangepartitioning" in plan, (
            f"{name}: global rank lost its range exchange"
        )
        for m in re.finditer(r"Window \[", plan):
            frag = plan[m.start() : m.start() + 400]
            assert "_pid#" in frag, (
                f"{name}: data-grain window found (the only allowed "
                "window is the partition-count offsets cumulative):\n" + frag
            )

    plan412 = (
        QUERIES["q412_compaction_plan"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    win_frags = [
        plan412[m.start() : m.start() + 400]
        for m in re.finditer(r"Window \[", plan412)
    ]
    assert win_frags, "q412 lost its packing window"
    for frag in win_frags:
        assert "source#" in frag, (
            "q412 window not partitioned on source:\n" + frag
        )


def test_round10b_plan_shapes(spark, sf_dir, monkeypatch):
    """q416/q417 inherit q411's physical contract: the exact global
    rank rides a RANGE exchange and the only Window in the plan is
    the partition-count offsets cumulative (_pid grain); no
    CartesianProduct anywhere (the month spine joins are broadcast).
    q418's single Window is the VALUE-grain cumulative over the
    aggregated cent spine (its input is the groupBy(vc) aggregate —
    bounded by the metric's domain, never row count), and its
    crossJoins are broadcast scalars/spines only."""
    import re

    import pipeline_usnvc_spark.operators.checkpoint as ckpt_mod
    import pipeline_usnvc_spark.operators.rank as rank_mod

    monkeypatch.setattr(ckpt_mod, "materialize", lambda df, eager=True: df)
    monkeypatch.setattr(rank_mod, "materialize", lambda df, eager=True: df)
    for name in (
        "q416_deletion_staleness_audit",
        "q417_manifest_cascade_pruning",
    ):
        plan = (
            QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan, name
        assert "rangepartitioning" in plan, (
            f"{name}: global rank lost its range exchange"
        )
        for m in re.finditer(r"Window \[", plan):
            frag = plan[m.start() : m.start() + 400]
            assert "_pid#" in frag, (
                f"{name}: data-grain window found (the only allowed "
                "window is the partition-count offsets cumulative):\n" + frag
            )

    plan418 = (
        QUERIES["q418_range_boundary_plan"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan418
    win_frags = [
        plan418[m.start() : m.start() + 400]
        for m in re.finditer(r"Window \[", plan418)
    ]
    assert win_frags, "q418 lost its cumulative-count window"
    for frag in win_frags:
        assert "vc#" in frag, (
            "q418 window must ride the value spine:\n" + frag
        )
    # the cumulative window's input is the aggregated spine, never raw
    # rows: a HashAggregate must appear below the Window in the plan
    first_win = plan418.index("Window [")
    assert "HashAggregate" in plan418[first_win:], (
        "q418 window input is not the aggregated value spine"
    )


def test_layout_advisor_plan_shape(spark, sf_dir, monkeypatch):
    """q419 runs four exact global ranks (range exchanges) and joins
    only broadcast spines; the single non-offsets window is the
    final candidate ranking over the 4-row costed frame (bounded by
    the layout-candidate list, never data)."""
    import re

    import pipeline_usnvc_spark.operators.checkpoint as ckpt_mod
    import pipeline_usnvc_spark.operators.rank as rank_mod

    monkeypatch.setattr(ckpt_mod, "materialize", lambda df, eager=True: df)
    monkeypatch.setattr(rank_mod, "materialize", lambda df, eager=True: df)
    plan = (
        QUERIES["q419_layout_advisor"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" in plan, "global ranks lost the range exchange"
    for m in re.finditer(r"Window \[", plan):
        frag = plan[m.start() : m.start() + 400]
        assert "_pid#" in frag or "weighted_cost_micro#" in frag, (
            "q419: unexpected data-grain window:\n" + frag
        )


def test_block_decorrelate_jvm_only(spark, sf_dir):
    """q426's docstring claims the whole fit-transform-reverify path
    is pure JVM (in-row block explode, no Python). Assert it: no
    Arrow/Python eval operator anywhere in the executed plan, no
    cartesian product (the 32-row beta frame joins broadcast)."""
    df = QUERIES["q426_block_decorrelate"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # betas broadcast back


def test_ledger_queries_no_cartesian_no_python(spark, sf_dir):
    """q427/q428 are pure relational folds over the planted-copy
    ledger: digests group map-side, the batch spine is 4 rows, and
    the only nested-loop joins are 1-row broadcast summaries."""
    for name in ("q427_merge_ledger_compaction", "q428_snapshot_diff"):
        df = QUERIES[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "EvalPython" not in plan, name


def test_round12_plan_shapes(spark, sf_dir, monkeypatch):
    """q429: the documents-grain bin aggregation is the ONLY
    data-grain work — it combines map-side, the scan prunes to the
    two binning columns, the 10-row spine is materialized once for
    its four consumers, and both argmin/argmax row_numbers rewrite
    to WindowGroupLimit (top-1 group pruning); no Python anywhere.
    q430: ONE pruned events scan, the user-keyed window as the only
    row-grain exchange, the transition lattice combined map-side,
    and the Cramer solve fully in-plan (no collect, no Python)."""
    import re

    # materialize hides the doc-grain stage from explain — stub it to
    # identity to audit the full lineage (the standing idiom; q429
    # imports it from operators.checkpoint at call time)
    import pipeline_usnvc_spark.operators.checkpoint as ckpt

    monkeypatch.setattr(ckpt, "materialize", lambda df, eager=True: df)
    df = QUERIES["q429_exact_isotonic_calibration"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    assert "EvalPython" not in final and "MapInPandas" not in final
    assert "partial_count" in final  # bin agg combines map-side
    assert "WindowGroupLimit" in final  # top-1 argmin/argmax pruning
    # column pruning: the doc-grain scan reads only the two columns
    # the binning needs, never text
    for scan in re.findall(r"ReadSchema: struct<([^>]*)>", final):
        assert "text" not in scan, scan
    monkeypatch.undo()

    df = QUERIES["q430_coarse_chain_absorption"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan") == 1, final[:1500]
    assert "CartesianProduct" not in final
    assert "EvalPython" not in final and "MapInPandas" not in final
    # exactly one row-grain exchange: the user-keyed window spine;
    # every other exchange feeds the <=8-row lattice / scalar frame
    row_grain = final.count("Exchange hashpartitioning(user_id")
    assert row_grain == 1, final[:1500]
    assert "partial_count" in final  # lattice combines map-side


def test_bucketed_ledger_compaction_no_fp_exchange(spark, sf_dir):
    """q431: the whole point of the bucketed ledger — after the
    write-time exchange (paid once, inside saveAsTable), the
    compaction fold has ZERO fingerprint-grain exchanges: every
    per-key consumer folds bucket-locally from the stored layout,
    and the surviving exchanges are the 4-row batch spine, scalar
    summaries, and broadcasts."""
    df = QUERIES["q431_bucketed_ledger_compaction"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning(fp") == 0, final[:2000]
    assert "Bucketed: true" in final
    assert "CartesianProduct" not in final
    assert "EvalPython" not in final and "MapInPandas" not in final


def test_update_mode_ledger_no_fp_exchange(spark, sf_dir):
    """q434: both the streamed update log and the batch op log are
    read back fingerprint-bucketed, so EVERYTHING fp-grain below the
    two bucketed scans — the last-write-wins merge fold, the batch
    per-key fold, and the full-outer audit join — runs bucket-local:
    zero fp-grain exchanges in the final plan (q431's assertion,
    extended to the streaming maintenance path). Surviving exchanges
    are the 4-row batch spine, scalar summaries, and broadcasts."""
    df = QUERIES["q434_update_mode_ledger"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning(fp") == 0, final[:2000]
    assert final.count("Exchange hashpartitioning(b_fp") == 0, final[:2000]
    # >= 2: the update-log and op-log tables both scan bucketed; the
    # summary/contract consumers re-scan the same tables bucket-locally
    assert final.count("Bucketed: true") >= 2, final[:2000]
    assert "CartesianProduct" not in final
    assert "EvalPython" not in final and "MapInPandas" not in final


@pytest.mark.parametrize("source", ["one_file", "many_files"])
@pytest.mark.parametrize("shape", ["scan", "scan_semi_broadcast"])
def test_fan_out_decides_without_a_job(spark, sf_dir, tmp_path, source, shape):
    """fan_out reads the source partition count off the physical plan:
    over a scan ⋉ broadcast(small) it starts no job (``df.rdd`` ran the
    broadcast only to count), and it returns the same frame or the same
    repartition as the count that ``df.rdd`` gives."""
    from pyspark.sql import functions as F

    from pipeline_usnvc_spark.operators.checkpoint import fan_out
    from pipeline_usnvc_spark.sources.tables import load_table

    sc = spark.sparkContext
    target = sc.defaultParallelism
    docs = load_table(spark, sf_dir, "documents")
    if source == "many_files":
        docs.repartition(2 * target).write.parquet(str(tmp_path / "docs"))
        docs = spark.read.parquet(str(tmp_path / "docs"))
    if shape == "scan_semi_broadcast":
        small = spark.range(0, 400, 3).withColumnRenamed("id", "doc_id")
        docs = docs.join(F.broadcast(small), "doc_id", "left_semi")

    group = f"fan_out_{source}_{shape}"
    sc.setJobGroup(group, group)
    try:
        out = fan_out(docs)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc._jsc.clearJobGroup()

    if docs.rdd.getNumPartitions() < max(1, int(target * 0.5)):
        expected = docs.repartition(target)._jdf.queryExecution().analyzed()
        assert out._jdf.queryExecution().analyzed().sameResult(expected)
    else:
        assert out is docs
    if source == "many_files":
        assert out is docs

"""Layout sinks: disjoint per-file ranges (the min-max pruning
contract) and small-file compaction."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pipeline_usnvc_spark.operators.layout import (
    compact_small_files,
    directory_bytes,
    write_range_sorted,
)
from pipeline_usnvc_spark.sources.tables import load_table


def _file_ranges(path: str, col: str) -> list[tuple]:
    """Per-file (min, max) of ``col`` from parquet row-group stats."""
    ranges = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(col)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            assert st is not None and st.has_min_max, "stats missing"
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    return ranges


def test_range_sorted_files_are_disjoint_and_sorted(spark, sf_dir, tmp_path):
    out = str(tmp_path / "orders_by_date")
    orders = load_table(spark, sf_dir, "orders")
    write_range_sorted(
        orders, out, ["o_orderdate"], sort_cols=["o_orderkey"], num_ranges=6
    )

    ranges = [r for r in _file_ranges(out, "o_orderdate")]
    assert len(ranges) >= 2
    # Pairwise disjoint file ranges: every file's max <= next file's
    # min means a date predicate prunes to the files whose range
    # covers it — the whole point of the layout.
    ordered = sorted(ranges)
    for (lo_a, hi_a), (lo_b, hi_b) in zip(ordered, ordered[1:]):
        assert hi_a <= lo_b

    # Within a file, rows are sorted by (o_orderdate, o_orderkey).
    one = sorted(glob.glob(os.path.join(out, "*.parquet")))[0]
    t = pq.read_table(one, columns=["o_orderdate", "o_orderkey"]).to_pandas()
    keyed = list(zip(t["o_orderdate"], t["o_orderkey"]))
    assert keyed == sorted(keyed)

    # Round trip is lossless.
    assert spark.read.parquet(out).count() == orders.count()


def test_pruning_reads_only_matching_ranges(spark, sf_dir, tmp_path):
    out = str(tmp_path / "orders_pruned")
    orders = load_table(spark, sf_dir, "orders")
    write_range_sorted(orders, out, ["o_orderdate"], num_ranges=6)
    ranges = _file_ranges(out, "o_orderdate")
    cutoff = sorted(ranges)[0][1]  # first file's max date
    matching = [r for r in ranges if r[0] <= cutoff]
    # The predicate's candidate set (by file stats) is a strict subset
    # of files — a stats-aware reader skips the rest.
    assert 0 < len(matching) < len(ranges)
    expect = orders.filter(f"o_orderdate <= '{cutoff}'").count()
    assert spark.read.parquet(out).filter(f"o_orderdate <= '{cutoff}'").count() == expect


def test_compact_small_files(spark, sf_dir, tmp_path):
    small = str(tmp_path / "small")
    compacted = str(tmp_path / "compacted")
    orders = load_table(spark, sf_dir, "orders")
    orders.repartition(32).write.mode("overwrite").parquet(small)
    n_small = len(glob.glob(os.path.join(small, "*.parquet")))
    assert n_small >= 32

    total = directory_bytes(spark, small)
    n_out = compact_small_files(spark, small, compacted, target_file_bytes=total // 2)
    n_files = len(glob.glob(os.path.join(compacted, "*.parquet")))
    assert n_files == n_out <= 3
    assert spark.read.parquet(compacted).count() == orders.count()


def test_zorder_key_interleaves_bits(spark):
    from pyspark.sql import functions as F

    from pipeline_usnvc_spark.operators.layout import zorder_key

    df = spark.createDataFrame([(0b101, 0b011)], "x int, y int")
    [row] = df.select(zorder_key("x", "y", bits=3).alias("z")).collect()
    # x bits at even positions, y at odd:
    # x=101 -> positions 0,2,4 = 1,0,1; y=011 -> positions 1,3,5 = 1,1,0
    # z = 0b011011
    assert row["z"] == 0b011011


def test_zordered_layout_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """A Z-ordered file layout must let BOTH single-dimension range
    predicates skip most files (a single-column sort only prunes its
    own column)."""
    import glob

    from pyspark.sql import functions as F

    from pipeline_usnvc_spark.operators.layout import write_zordered
    from pipeline_usnvc_spark.sources.tables import load_table

    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_size", "p_retailprice")
    # bucket price to int codes < 2^16 (p_size already small ints)
    coded = part.withColumn("_price_code", (F.col("p_retailprice") / 64).cast("int"))
    out = str(tmp_path / "zorder")
    write_zordered(coded, out, "p_size", "_price_code", bits=16, num_files=8)

    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert len(files) >= 4

    def files_with_match(pred) -> int:
        n = 0
        for f in files:
            stats = spark.read.parquet(f).agg(
                F.min("p_size"), F.max("p_size"),
                F.min("_price_code"), F.max("_price_code"),
            ).collect()[0]
            lo_s, hi_s, lo_p, hi_p = stats
            if pred(lo_s, hi_s, lo_p, hi_p):
                n += 1
        return n

    # a narrow p_size slice and a narrow price slice must each be
    # satisfiable from a strict subset of files (min/max skipping)
    sz = files_with_match(lambda ls, hs, lp, hp: ls <= 3 <= hs)
    pr = files_with_match(lambda ls, hs, lp, hp: lp <= 2 <= hp)
    assert sz < len(files), "p_size slice hits every file — no skipping"
    assert pr < len(files), "price slice hits every file — no skipping"
    # and the data round-trips completely
    assert spark.read.parquet(out).count() == part.count()


def test_hive_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """partitionBy writes hive-style dirs; a reader filter on the
    partition column must become a PartitionFilter (no data files of
    other partitions touched), not a post-scan filter."""
    import glob

    from pyspark.sql import functions as F

    from pipeline_usnvc_spark.sources.tables import load_table

    out = str(tmp_path / "by_type")
    ev = load_table(spark, sf_dir, "events")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(out)
    types = [d.rsplit("=", 1)[-1] for d in glob.glob(f"{out}/event_type=*")]
    assert len(types) >= 3

    picked = sorted(types)[0]
    df = spark.read.parquet(out).filter(F.col("event_type") == picked)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert f"PartitionFilters: [isnotnull(event_type" in plan
    # count matches the unpartitioned source
    want = ev.filter(F.col("event_type") == picked).count()
    assert df.count() == want


def test_quantile_codes_balance_skewed_dimension(spark):
    """A power-law column raw-coded would pile most rows into a few
    Z-cells; quantile codes give near-equal bucket populations."""
    from pyspark.sql import functions as F

    from pipeline_usnvc_spark.operators.layout import quantile_codes

    # heavy skew: value = 2^(i mod 20), thousands of collisions
    df = spark.range(20000).select(
        F.col("id"), F.pow(F.lit(2.0), (F.col("id") % 20).cast("double")).alias("v")
    )
    coded = quantile_codes(df, "v", bits=3)  # 8 buckets
    sizes = [
        r["n"]
        for r in coded.groupBy("v_code").agg(F.count("*").alias("n")).collect()
    ]
    assert len(sizes) == 8
    assert max(sizes) - min(sizes) <= 20000 // 20 + 1  # within one tie-group
    assert sum(sizes) == 20000


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    # The co-located-join contract: two tables bucketed 8-ways on the
    # join key must sort-merge-join with ZERO Exchange operators —
    # bucket metadata replaces the shuffle. This is the layout that
    # makes repeated fact-to-fact joins affordable at 100 TB.
    import uuid

    from pipeline_usnvc_spark.operators.skew import write_bucketed
    from pipeline_usnvc_spark.sources.tables import load_table

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        suffix = uuid.uuid4().hex[:8]
        orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
        write_bucketed(orders, f"b_orders_{suffix}", "o_orderkey", num_buckets=8)
        write_bucketed(li, f"b_lineitem_{suffix}", "l_orderkey", num_buckets=8)
        bo = spark.table(f"b_orders_{suffix}")
        bl = spark.table(f"b_lineitem_{suffix}")
        joined = bo.join(bl, bo.o_orderkey == bl.l_orderkey)
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        assert "SortMergeJoin" in plan
        # and it actually computes the right thing
        expected = (
            load_table(spark, sf_dir, "orders")
            .join(
                load_table(spark, sf_dir, "lineitem"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .count()
        )
        assert joined.count() == expected
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS b_orders_{suffix}")
        spark.sql(f"DROP TABLE IF EXISTS b_lineitem_{suffix}")


def test_doc_registry_counts_match_code():
    """VERDICT r06 item 2: registry-count claims in the docs drifted
    from len(ORACLES) twice. Enforce mechanically: every count claim
    in README/ROADMAP/COVERAGE must equal the live registry."""
    import re
    from pathlib import Path

    from pipeline_usnvc_spark.plans import ORACLES, QUERIES

    nq, no = len(QUERIES), len(ORACLES)
    repo = Path(__file__).resolve().parent.parent
    readme = (repo / "README.md").read_text()
    assert f"the query registry: {nq} queries" in readme, (
        f"README query count != {nq}"
    )
    assert f"({no} of {nq};" in readme, f"README oracle count != {no} of {nq}"
    assert f"**{no}/{no} oracle queries hash-exact**" in readme
    # VERDICT r07 item 5: the rows-only claim drifted (23 vs 31).
    # Enforce it equals len(QUERIES) - len(ORACLES).
    assert f"plus {nq - no} rows-only" in readme, (
        f"README rows-only count != {nq - no}"
    )
    roadmap = (repo / "ROADMAP.md").read_text()
    assert f"**{nq} queries / {no} oracle-paired**" in roadmap, (
        f"ROADMAP final registry line != {nq}/{no}"
    )
    coverage = (repo / "COVERAGE.md").read_text()
    m = re.search(r"full queries\(\) index \((\d+) entries, (\d+) oracle-exact\)", coverage)
    assert m and (int(m.group(1)), int(m.group(2))) == (nq, no), (
        f"COVERAGE appendix header != ({nq}, {no})"
    )
    # every registered query name appears somewhere in the COVERAGE index
    missing = [n for n in QUERIES if n not in coverage]
    assert not missing, f"queries absent from COVERAGE.md appendix: {missing[:5]}"


def test_scripts_hold_no_round_named_harness():
    """Superseded per-round harness scripts must not pile up in
    scripts/: a standing tool gets a descriptive name, and a one-off
    probe is deleted once its result is recorded."""
    import re
    from pathlib import Path

    scripts = Path(__file__).resolve().parent.parent / "scripts"
    pattern = re.compile(r"^scale_round|_r\d+\.py$|^ab_r\d+_")
    named = sorted(p.name for p in scripts.iterdir() if pattern.search(p.name))
    assert not named, f"round-named scripts in scripts/: {named}"


def test_api_md_matches_generator():
    """API.md is generated (scripts/gen_api_md.py): a public signature
    or docstring summary that changes without regenerating it fails
    here."""
    import importlib.util
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location(
        "gen_api_md", repo / "scripts" / "gen_api_md.py"
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    assert (repo / "API.md").read_text() == gen.render(), (
        "API.md is stale: run python scripts/gen_api_md.py"
    )

"""Malformed-input behaviour of the Python vector kernels.

Every case must equal the pure-SQL formulation of the same operator or
raise a named error, never return a silently different answer:

- the certified cosine kernel (operators/similarity.py) in top-k mode
  against the all-pairs expression plan, and in threshold mode against
  q61's within-label pair join;
- q221 (threshold mode, label blocks) against an audit rebuilt from
  q61's pairs, and q164's LSH verify (threshold mode, bucket blocks)
  against the SQL sweep over the same LSH candidate pairs;
- q437's Lloyd kernel, which must raise MalformedInputError on a null
  or null-component embedding instead of casting NaN to int64;
- the LSH bucketers (``_table_bucket_ids``, ``_exact_probe_buckets``):
  a null or wrong-length row gets no bucket, and a component with no
  int64 fixed-point value raises MalformedInputError where the SQL twin
  ``lsh_buckets_sql`` raises a conversion error;
- the quantized Gram kernel (``gram_matrix_quantized``, q362's path):
  a null row drops as in q362's SQL, and a ragged batch or a component
  without an int64 value whose products fit int64 raises
  MalformedInputError.
"""

from __future__ import annotations

import math

import pytest
from pyspark.errors import PySparkException
from pyspark.sql import Window
from pyspark.sql import functions as F

from pipeline_usnvc_spark.functions.vectors import cosine_similarity, to_double_array
from pipeline_usnvc_spark.operators.similarity import (
    _certified_cosine,
    _exact_probe_buckets,
    _table_bucket_ids,
    brute_force_topk,
    embedding_near_dup_lsh,
    lsh_buckets_sql,
)
from pipeline_usnvc_spark.plans import ORACLES, QUERIES

NAN, INF = float("nan"), float("inf")
K = 3

# (vec_id, label, embedding): two labels, several pairs above q61's 0.4
BASE = [
    (1, 0, [1.0, 0.0, 0.0, 0.0]),
    (2, 0, [0.9, 0.1, 0.0, 0.0]),
    (3, 0, [0.0, 1.0, 0.0, 0.0]),
    (4, 0, [0.0, 0.8, 0.2, 0.0]),
    (5, 1, [0.0, 0.0, 1.0, 0.0]),
    (6, 1, [0.0, 0.0, 0.9, 0.3]),
    (7, 1, [0.5, 0.5, 0.5, 0.5]),
    (8, 1, [0.2, 0.1, 0.0, 1.0]),
]
QUERY_ROWS = [(1, [1.0, 0.0, 0.0, 0.0]), (5, [0.0, 0.0, 1.0, 0.0]), (99, [0.3, 0.3, 0.3, 0.1])]


def _with(rows, vec_id, vec):
    return [(i, lab, vec if i == vec_id else v) for i, lab, v in rows]


CASES = {
    "null_row": dict(corpus=BASE + [(9, 0, None)]),
    "nan_component": dict(corpus=_with(BASE, 2, [0.9, NAN, 0.0, 0.0])),
    "pos_inf": dict(corpus=_with(BASE, 3, [0.0, INF, 0.0, 0.0])),
    "neg_inf": dict(corpus=_with(BASE, 4, [-INF, 0.8, 0.2, 0.0])),
    # two equally ragged rows: SQL scores them against each other
    "ragged_row": dict(corpus=BASE + [(9, 0, [1.0, 0.0, 0.0]), (10, 0, [1.0, 0.1, 0.0])]),
    "zero_norm": dict(corpus=BASE + [(9, 1, [0.0, 0.0, 0.0, 0.0])]),
    "empty_partition": dict(corpus=BASE, partitions=16),
    "empty_queries": dict(corpus=BASE, queries=[]),
    "null_query": dict(corpus=BASE, queries=QUERY_ROWS + [(98, None)]),
    "string_ids": dict(corpus=BASE, id_type="string"),
    "query_id_type_differs": dict(corpus=BASE, query_id_type="int"),
}
QUERY_ONLY = {"empty_queries", "null_query", "query_id_type_differs"}


def _write_case(spark, tmp_path, name):
    """The case's corpus as an embeddings.parquet (the q61/q221 input),
    plus its corpus and query frames in the case's id types."""
    case = CASES[name]
    id_type = case.get("id_type", "bigint")
    cast = str if id_type == "string" else int
    emb = spark.createDataFrame(
        [(cast(i), lab, v) for i, lab, v in case["corpus"]],
        f"vec_id {id_type}, label int, embedding array<float>",
    )
    out = str(tmp_path / name)
    emb.coalesce(1).write.parquet(f"{out}/embeddings.parquet")
    corpus = spark.read.parquet(f"{out}/embeddings.parquet")
    if "partitions" in case:
        corpus = corpus.repartition(case["partitions"])
    queries = spark.createDataFrame(
        [(cast(i), v) for i, v in case.get("queries", QUERY_ROWS)],
        f"vec_id {case.get('query_id_type', id_type)}, embedding array<float>",
    )
    return out, corpus, queries


def _canon(x):
    return "nan" if isinstance(x, float) and math.isnan(x) else x


def _outcome(build):
    """(schema, sorted rows) of the frame ``build()`` returns, or the
    named error building or collecting it raises (a query may
    materialize at build time). An error without a Spark error
    condition fails the test."""
    try:
        df = build()
        rows = df.collect()
    except PySparkException as ex:
        cond = ex.getCondition()
        assert cond and cond != "PYTHON_EXCEPTION", f"unnamed error: {ex}"
        return ("error", cond)
    canon = sorted((tuple(_canon(x) for x in r) for r in rows), key=repr)
    return (df.schema.simpleString(), canon)


def _topk_sql(corpus, queries, k):
    """The all-pairs expression plan: every (query, vector) pair scored
    by the sequential fold, ranked by a window."""
    q = queries.select(F.col("vec_id").alias("query_id"), to_double_array("embedding").alias("q_vec"))
    v = corpus.select(F.col("vec_id").alias("neighbor_id"), to_double_array("embedding").alias("v_vec"))
    scored = v.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).select(
        "query_id", "neighbor_id", cosine_similarity(F.col("q_vec"), F.col("v_vec")).alias("sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


@pytest.mark.parametrize(
    "name, mode",
    [(n, "topk") for n in CASES] + [(n, "threshold") for n in CASES if n not in QUERY_ONLY],
)
def test_certified_kernel_matches_sql_on_malformed_input(spark, tmp_path, name, mode):
    case_dir, corpus, queries = _write_case(spark, tmp_path, name)
    if mode == "topk":
        expected = _outcome(lambda: _topk_sql(corpus, queries, K))
        got = _outcome(lambda: brute_force_topk(corpus, queries, k=K))
    else:
        expected = _outcome(lambda: QUERIES["q61_embedding_near_dup"](spark, case_dir))
        blocks = corpus.select(
            F.col("vec_id").alias("id"), to_double_array("embedding").alias("vec"), "label"
        )
        got = _outcome(lambda: _certified_cosine(blocks, key="label", t=0.4))
    assert got == expected
    if name == "zero_norm":
        assert expected == ("error", "DIVIDE_BY_ZERO")
    elif name == "nan_component":
        # the NaN pairs are in the SQL answer, so the case is not vacuous
        assert any("nan" in row for row in expected[1])


def _audit_from_pairs(spark, case_dir, pairs):
    """q221's audit rebuilt in Python from a pair list."""
    partners, dropped = {}, set()
    for a, b, _ in pairs:
        partners[a] = partners.get(a, 0) + 1
        partners[b] = partners.get(b, 0) + 1
        dropped.add(b)
    emb = spark.read.parquet(f"{case_dir}/embeddings.parquet").collect()
    return sorted(
        (r["vec_id"], r["label"], partners.get(r["vec_id"], 0), r["vec_id"] not in dropped)
        for r in emb
    )


def _lsh_sql(emb):
    """q164's verify as SQL: the LSH candidate pairs (the bucket
    self-join) scored by the sequential fold, filtered at 0.4."""
    b = _table_bucket_ids(emb, 24, 4, 4, "vec_id", "embedding")
    cand = (
        b.alias("a")
        .join(b.alias("b"), (F.col("a.tb") == F.col("b.tb")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .distinct()
    )
    v = emb.select("vec_id", to_double_array("embedding").alias("ve"))
    va = v.select(F.col("vec_id").alias("id_a"), F.col("ve").alias("va"))
    vb = v.select(F.col("vec_id").alias("id_b"), F.col("ve").alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cosine_similarity(F.col("va"), F.col("vb")).alias("sim"))
        .filter(F.col("sim") >= 0.4)
    )


@pytest.mark.parametrize("name", ["nan_component", "zero_norm", "null_row"])
def test_q221_matches_q61_pairs_on_malformed_input(spark, tmp_path, name):
    case_dir, _, _ = _write_case(spark, tmp_path, name)
    pairs = _outcome(lambda: QUERIES["q61_embedding_near_dup"](spark, case_dir))
    audit = _outcome(lambda: QUERIES["q221_semantic_dedup"](spark, case_dir))
    if pairs[0] == "error":
        assert audit == pairs
    else:
        assert audit[1] == _audit_from_pairs(spark, case_dir, pairs[1])


@pytest.mark.parametrize("name", ["nan_component", "zero_norm", "null_row"])
def test_q164_verify_matches_sql_on_malformed_input(spark, tmp_path, name):
    case_dir, _, _ = _write_case(spark, tmp_path, name)
    emb = spark.read.parquet(f"{case_dir}/embeddings.parquet")
    if name == "nan_component":
        # a NaN component has no LSH bucket: both the SQL sweep's
        # candidates and the operator stop at the bucketer's named error
        for build in (
            lambda: _lsh_sql(emb),
            lambda: embedding_near_dup_lsh(emb, threshold=0.4, n_tables=24, dim=4),
        ):
            with pytest.raises(Exception, match="MalformedInputError"):
                build().collect()
        return
    expected = _outcome(lambda: _lsh_sql(emb))
    got = _outcome(lambda: embedding_near_dup_lsh(emb, threshold=0.4, n_tables=24, dim=4))
    assert got == expected


LSH_BAD_ROWS = {
    "null_row": None,
    "ragged_row": [1.0, 0.0, 0.0],
    "nan_component": [0.9, NAN, 0.0, 0.0],
    "pos_inf": [0.0, INF, 0.0, 0.0],
    "neg_inf": [-INF, 0.8, 0.2, 0.0],
    "null_component": [0.5, None, 0.1, 0.2],
    "oversized": [1e8, 0.0, 0.0, 0.0],
}


def _lsh_case(spark, tmp_path, name):
    """BASE plus one bad row (vec_id 9), as a parquet path and frame."""
    path = f"{tmp_path}/{name}.parquet"
    rows = [(i, v) for i, _, v in BASE] + [(9, LSH_BAD_ROWS[name])]
    spark.createDataFrame(rows, "vec_id bigint, embedding array<float>").coalesce(1).write.parquet(path)
    return path, spark.read.parquet(path)


def _bucket_ids(kernel, df):
    if kernel == "table":
        return _table_bucket_ids(df, 24, 4, 4, "vec_id", "embedding")
    return _exact_probe_buckets(df, 4, 3, 4, "vec_id", "embedding")


@pytest.mark.parametrize("kernel", ["table", "probe"])
@pytest.mark.parametrize("name", ["null_row", "ragged_row"])
def test_lsh_bucketing_gives_null_and_ragged_rows_no_bucket(spark, tmp_path, kernel, name):
    _, df = _lsh_case(spark, tmp_path, name)
    good = df.filter(F.col("vec_id") != 9)
    got = sorted(map(tuple, _bucket_ids(kernel, df).collect()))
    assert got == sorted(map(tuple, _bucket_ids(kernel, good).collect()))
    assert {r[0] for r in got} == {i for i, _, _ in BASE}


@pytest.mark.parametrize("kernel", ["table", "probe"])
@pytest.mark.parametrize("name", ["nan_component", "pos_inf", "neg_inf", "null_component", "oversized"])
def test_lsh_bucketing_rejects_components_without_an_integer(spark, tmp_path, kernel, name):
    path, df = _lsh_case(spark, tmp_path, name)
    with pytest.raises(Exception, match="MalformedInputError"):
        _bucket_ids(kernel, df).collect()
    if name in ("nan_component", "pos_inf", "neg_inf"):
        # the SQL twin has no integer for the component either
        import duckdb

        with pytest.raises(duckdb.ConversionException):
            duckdb.connect().execute(
                "WITH " + lsh_buckets_sql(24, 4, 4, f"'{path}/*.parquet'") + " SELECT * FROM buckets"
            ).fetchall()


@pytest.mark.parametrize("bad", [None, [0.5, None, 0.1, 0.2]], ids=["null_row", "null_component"])
def test_q437_lloyd_pass_rejects_null_components(spark, tmp_path, bad):
    rows = [(i, 0, [float(i % 5), float(i % 3), 1.0, 0.5]) for i in range(40)]
    rows.append((1000, 0, bad))
    spark.createDataFrame(rows, "vec_id bigint, label int, embedding array<float>").coalesce(
        1
    ).write.parquet(f"{tmp_path}/embeddings.parquet")
    with pytest.raises(Exception, match="MalformedInputError"):
        QUERIES["q437_integer_kmeans_probe"](spark, str(tmp_path)).collect()


GRAM_BAD_ROWS = {
    "nan_component": [0.9, NAN, 0.0, 0.0],
    "pos_inf": [0.0, INF, 0.0, 0.0],
    "neg_inf": [-INF, 0.8, 0.2, 0.0],
    "null_component": [0.5, None, 0.1, 0.2],
    "ragged_row": [1.0, 0.0, 0.0],
    # q = 1e10 fits int64 but q·q does not
    "oversized": [1e3, 0.0, 0.0, 0.0],
    # q = 1e19 has no int64 value at all
    "no_int64": [1e12, 0.0, 0.0, 0.0],
}


def _gram_case(spark, tmp_path, bad):
    """BASE plus one extra row (vec_id 9) as ``embeddings.parquet``:
    the q362 spark result and a DuckDB runner for its oracle."""
    rows = [(i, lab, v) for i, lab, v in BASE] + [(9, 0, bad)]
    spark.createDataFrame(rows, "vec_id bigint, label int, embedding array<double>").coalesce(1).write.parquet(
        f"{tmp_path}/embeddings.parquet"
    )

    def oracle():
        import duckdb

        con = duckdb.connect()
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{tmp_path}/embeddings.parquet/*.parquet')")
        return con.execute(ORACLES["q362_gram_matrix"]).fetchdf()

    return lambda: QUERIES["q362_gram_matrix"](spark, str(tmp_path)), oracle


def test_gram_matrix_drops_null_rows_like_sql(spark, tmp_path):
    from tests.oracle_compare import assert_frames_match

    q362, oracle = _gram_case(spark, tmp_path, None)
    assert_frames_match(q362().toPandas(), oracle(), "q362 with a null row")


@pytest.mark.parametrize("name", list(GRAM_BAD_ROWS))
def test_gram_matrix_rejects_malformed_rows(spark, tmp_path, name):
    q362, oracle = _gram_case(spark, tmp_path, GRAM_BAD_ROWS[name])
    with pytest.raises(Exception, match="MalformedInputError"):
        q362().collect()
    if name in ("nan_component", "pos_inf", "neg_inf", "no_int64"):
        # the SQL twin has no BIGINT for the component either
        import duckdb

        with pytest.raises(duckdb.ConversionException):
            oracle()

"""Ingest robustness: malformed rows, quoted/multiline fields,
encoding — the PERMISSIVE contract of sources/delimited.py on hostile
real-world TSV input.
"""

from __future__ import annotations

from pyspark.sql import types as T

from pipeline_usnvc_spark.sources.delimited import delimited_reader

SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("note", T.StringType()),
    ]
)


def test_malformed_rows_become_nulls_not_failures(spark, tmp_path):
    p = tmp_path / "bad.txt"
    p.write_text(
        "id\tn\tnote\n"
        "a\t1\tok\n"
        "b\tNOT_AN_INT\tstill here\n"  # bad int -> null cell, row kept
        "c\t3\n"                        # missing column -> null
        "d\t4\tfine\n",
        encoding="ISO-8859-1",
    )
    df = delimited_reader(spark).schema(SCHEMA).csv(str(p))
    rows = {r["id"]: r for r in df.collect()}
    assert set(rows) == {"a", "b", "c", "d"}
    assert rows["b"]["n"] is None and rows["b"]["note"] == "still here"
    assert rows["c"]["note"] is None
    assert rows["d"]["n"] == 4


def test_quoted_multiline_and_latin1(spark, tmp_path):
    p = tmp_path / "quoted.txt"
    p.write_text(
        "id\tn\tnote\n"
        'a\t1\t"line one\nline two"\n'
        "b\t2\tM\xfcller caf\xe9\n",
        encoding="ISO-8859-1",
    )
    df = delimited_reader(spark, multiline=True).schema(SCHEMA).csv(str(p))
    rows = {r["id"]: r for r in df.collect()}
    assert rows["a"]["note"] == "line one\nline two"
    assert rows["b"]["note"] == "Müller café"
    # without multiline the same file mis-splits the quoted row —
    # documents why rich-text tables opt in
    df2 = delimited_reader(spark, multiline=False).schema(SCHEMA).csv(str(p))
    rows2 = {r["id"]: r for r in df2.collect() if r["id"] in rows}
    assert rows2["a"]["note"] != "line one\nline two"

"""Delimited-text ingest with explicit schemas (reference S1-S2).

The reference pipeline ingests 18 tab-separated ISO-8859-1 files with
header rows and per-column dtype pins (reference usnvc/usnvc.py:100-118).
Spark equivalent: ``spark.read.csv`` with an explicit ``StructType``
(never ``inferSchema`` — inference is an extra full pass and is
non-deterministic across samples at 100 TB).

Keys stay ``StringType`` to preserve the reference's string-key join
semantics; numeric pins are expressed in the supplied schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrameReader, SparkSession

# The export's one format: tab-separated, ISO-8859-1, a header row.
SEP = "\t"
ENCODING = "ISO-8859-1"
HEADER = True
# PERMISSIVE keeps malformed rows as nulls rather than failing the
# job; a caller that needs a quarantine channel adds a
# ``_corrupt_record`` column to the schema.
MODE = "PERMISSIVE"


def delimited_reader(spark: SparkSession, multiline: bool = False) -> DataFrameReader:
    """A CSV reader for the export's format, for many files.

    Scanning many files with one reader (``reader.schema(s).csv(path)``
    per file, each pinning its own schema) sets the options once
    instead of once per file.

    ``multiline`` parses quoted fields containing embedded newlines
    (pandas' default behavior, needed for rich-text columns) at the
    cost of file splittability — each file becomes one input split,
    so reserve it for tables whose values actually span lines and
    keep large bridge/fact files line-oriented and splittable.
    """
    return spark.read.options(
        sep=SEP,
        encoding=ENCODING,
        header=str(HEADER).lower(),
        mode=MODE,
        multiLine=str(multiline).lower(),
        quote='"',
        escape='"',
    )

"""USNVC export ingest + silver joins (reference M1-M2).

``read_export`` replaces the reference's os.walk + 18 pd.read_csv
calls (usnvc.py:100-118); ``build_silver`` replaces the 9 merges of
``preprocess_usnvc`` (usnvc.py:117-218), computed ONCE per job —
the reference re-ran the whole thing per output row (usnvc.py:71,
its biggest inefficiency; SURVEY §2.9.7).

Scale notes: every ``d_*`` dimension is tiny (3-1,506 rows) and
decoded by ``operators/joins.decode_dimension``, which broadcasts it;
the only shuffling joins are units⟕descriptions and the
per-bridge nests keyed on element_global_id — at 100 TB those are the
natural partition keys. build_documents materializes the units silver
once (operators/checkpoint), with its dangling-parent check riding
that checkpoint job, so the multiline-CSV scan + join subtree is not
replayed by the closure, the nests and the root aggregate that read it.
``read_export`` sets the CSV options once per reader, not per table.

SESSION-SCOPE CONTRACT: ``read_export`` pins
``spark.sql.caseSensitive=true`` for the session and leaves it set —
downstream analysis of the mixed-case duplicate key columns
(``d_curr_presence_absence_id`` vs ``D_CURR_PRESENCE_ABSENCE_ID``)
happens lazily when consumers build THEIR plans, so restoring the
conf on return would break them. Run the USNVC pipeline in its own
SparkSession if other workloads in the session rely on
case-INSENSITIVE resolution (the test suite isolates it the same
way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pipeline_usnvc_spark.operators.joins import decode_dimension
from pipeline_usnvc_spark.sources.delimited import delimited_reader
from pipeline_usnvc_spark.usnvc.schemas import EXPORT_SCHEMAS


def read_export(spark: SparkSession, export_dir: str) -> dict[str, DataFrame]:
    """Read every export table (<export_dir>/<name>.txt, TSV,
    ISO-8859-1, header row) with its explicit schema.

    Case sensitivity is pinned ON — for the SESSION, deliberately not
    restored (see the module docstring's session-scope contract): the
    export distinguishes key spellings only by case
    (``d_curr_presence_absence_id`` bridge FK vs
    ``D_CURR_PRESENCE_ABSENCE_ID`` dim PK), and both must survive
    into nested records like pandas merge keeps them (SURVEY §7.4.4).
    """
    spark.conf.set("spark.sql.caseSensitive", "true")
    # Rich-text tables may carry quoted embedded newlines (pandas
    # parses those by default); they get multiline parsing. The large
    # bridge files stay line-oriented and splittable.
    multiline_tables = {"unit", "unitDescription"}
    readers = {multiline: delimited_reader(spark, multiline=multiline) for multiline in (False, True)}
    return {
        name: readers[name in multiline_tables].schema(schema).csv(f"{export_dir}/{name}.txt")
        for name, schema in EXPORT_SCHEMAS.items()
    }


def build_silver(t: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """The 9 named frames of the reference's preprocess (usnvc.py:87-97),
    as lazy DataFrames. Every ``d_*`` decode is ``decode_dimension``.
    Key spellings: pandas merge keeps BOTH key columns when names
    differ (left_on/right_on), so those decodes pass ``dim_key`` and
    join on an expression — both spellings survive into the nested
    records, matching reference output shape (SURVEY §7.4.4).
    """
    # J1: units ⟕ descriptions (1:1) — J2: ⟕ confidence dim (renamed key)
    nvcs_units = decode_dimension(
        t["unit"].join(t["unitDescription"], "element_global_id", "left"),
        t["d_classif_confidence"],
        "classif_confidence_id",
        rename={"D_CLASSIF_CONFIDENCE_ID": "classif_confidence_id"},
    )

    # J3: references bridge ⋈ citation dim
    unit_references = t["UnitXReference"].join(t["reference"], "reference_id")

    # J4-J9: each bridge ⋈ its code dims, as (dim, fact key, dim key);
    # a dim key keeps both spellings
    def decoded(bridge: str, *dims: tuple[str, str, str | None]) -> DataFrame:
        out = t[bridge]
        for dim, fact_key, dim_key in dims:
            out = decode_dimension(out, t[dim], fact_key, dim_key, how="inner")
        return out

    occurrence = ("d_occurrence_status", "d_occurrence_status_id", "D_OCCURRENCE_STATUS_ID")
    nvcs_distribution = decoded(
        "UnitXSubnation",
        ("d_curr_presence_absence", "d_curr_presence_absence_id", "D_CURR_PRESENCE_ABSENCE_ID"),
        ("d_dist_confidence", "d_dist_confidence_id", "D_DIST_CONFIDENCE_ID"),
        ("d_subnation", "subnation_id", None),
    )
    eco94 = decoded(
        "UnitXEcoregionUsfs1994", ("d_usfs_ecoregion1994", "usfs_ecoregion_id", "USFS_ECOREGION_ID"), occurrence
    )
    eco07 = decoded("UnitXEcoregionUsfs2007", ("d_usfs_ecoregion2007", "usfs_ecoregion_2007_id", None), occurrence)

    return {
        "nvcsUnits": nvcs_units,
        "unitReferences": unit_references,
        "nvcsDistribution": nvcs_distribution,
        "usfsEcoregionDistribution1994": eco94,
        "usfsEcoregionDistribution2007": eco07,
        "unitPredecessors": t["unitPredecessor"],
        "obsoleteUnits": t["unitObsoleteName"],
        "obsoleteParents": t["unitObsoleteParent"],
        "unitXSimilarUnit": t["UnitXSimilarUnit"],
    }

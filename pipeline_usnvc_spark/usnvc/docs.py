"""USNVC document assembly (reference M3-M5): one declarative plan
from silver frames to the per-unit JSON envelope.

Replaces the reference's per-row build (usnvc.py:238-490: 8 O(n)
filtered lookups + an O(depth) ancestor walk PER ROW) with set-based
equivalents built from the engine's operators: one ordered nest per
related table (``operators/nest``, J10/A2) and one closure for the whole
hierarchy (``operators/hierarchy``, G1), whose ancestors and children are
nested the same way. JSON "absent key" semantics come from to_json's
null-field dropping (P5/P6).

Driver cost: every stage's projection — the nest aggregates, the
closure rounds, the ~80-field document struct — is one SQL expression
text, so the py4j calls that build the plan grow with the number of
stages, not of fields (each Column object costs several round trips of
call-site capture). The referential-integrity check is an
``Observation`` on the units checkpoint job, not a job of its own.

Documented fidelity decisions (SURVEY §2.9):
  - Nation codes are trimmed before lookup (fixes the reference's
    dead ``thisNation`` variable and unstripped-lookup bug,
    usnvc.py:359-366) and resolved against a static ISO-3166 map
    (the restcountries.eu v2 API is dead; S5 rewrite).
  - The int-guarded columns (tncecoregions, omernikecoregions,
    federallands, plotcount) emit whenever non-null, as longs
    (§2.9.9 clean semantics).
  - ``Hierarchy.parent_id`` is the string "None" for roots — the
    reference stringifies the JSON-round-tripped null (usnvc.py:430).
  - A unit-level Display Title with a null component is null/absent
    (Spark ``concat`` null propagation); the reference would raise
    TypeError on such rows (usnvc.py:325-332 str+None).
  - Children / sub-record arrays are ordered deterministically
    (numeric id / bridge key); pandas kept incidental file order
    (SURVEY §7.4.7).
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from pipeline_usnvc_spark.functions.text import (
    clean_string,
    display_title,
    ident,
    split_flagged_codes,
    sql_string,
)
from pipeline_usnvc_spark.operators.checkpoint import materialize
from pipeline_usnvc_spark.operators.hierarchy import ancestors as ancestor_closure
from pipeline_usnvc_spark.operators.nest import attach_nested, nest_records

# Static ISO-3166 alpha-2 → name map for the export's nation codes
# (US/CA/MX in the shipped data; extend freely). Replaces the dead
# per-row REST call (usnvc.py:536-553).
NATION_NAMES = {
    "US": "United States of America",
    "CA": "Canada",
    "MX": "Mexico",
}

_HIER_COLS = [
    "element_global_id",
    "parent_id",
    "hierarchylevel",
    "classificationcode",
    "databasecode",
    "translatedname",
    "colloquialname",
    "unitsort",
    "DISPLAY_ORDER",
]

# Display Title of the unit in scope (usnvc.py:325-332)
_TITLE = display_title("hierarchylevel", "classificationcode", "colloquialname", "translatedname", "databasecode")

# The 9-column hierarchy record + Display Title (usnvc.py:500-530): the
# payload of the ancestor and child nests and the unit's own Cached
# Hierarchy entry.
_HIER_RECORD = [ident(c) for c in _HIER_COLS] + [f"{_TITLE} AS `Display Title`"]

# Bridge nests that keep every column of the merged frame — pandas
# to_dict('records') keeps both join-key spellings: (silver frame,
# order key, nested column).
_ALL_COLUMN_BRIDGES = [
    ("unitXSimilarUnit", "simglobal_id", "_similar"),
    ("nvcsDistribution", "subnation_id", "_dist"),
    ("usfsEcoregionDistribution1994", "usfs_ecoregion_id", "_eco94"),
    ("usfsEcoregionDistribution2007", "usfs_ecoregion_2007_id", "_eco07"),
    ("unitPredecessors", "predecessor_id", "_preds"),
    ("obsoleteUnits", "obsoletename", "_obsn"),
    ("obsoleteParents", "obsoleteparentcode", "_obsp"),
]


def _s(name: str, expr: str | None = None) -> str:
    """Struct field ``expr AS `name```; ``expr`` defaults to the column
    of that name."""
    return f"{expr or ident(name)} AS {ident(name)}"


def _struct(name: str, *fields: str) -> str:
    """Struct section ``name`` of the document."""
    return f"struct({', '.join(fields)}) AS {ident(name)}"


def _clean(c: str) -> str:
    return clean_string(ident(c))


def _record_ids(records: str) -> str:
    """The int ids of a nested hierarchy-record array, in its order."""
    return f"transform({records}, r -> cast(r.element_global_id AS int))"


def _nations_info() -> str:
    """Nations parse (E4) with static enrichment (fixed I4), via the
    one flagged-code parser."""
    names = ", ".join(sql_string(x) for kv in NATION_NAMES.items() for x in kv)
    return (
        f"transform({split_flagged_codes('nations')}, c -> struct("
        "c.Abbreviation AS Abbreviation, c.Uncertainty AS Uncertainty, "
        "concat('https://restcountries.eu/rest/v2/alpha/', c.Abbreviation) AS `Info API`, "
        f"coalesce(map({names})[c.Abbreviation], 'Unknown') AS Name))"
    )


def _document(run_timestamp: str) -> str:
    """The unit document as one SQL struct text over the joined unit row."""
    cached_hierarchy = (
        f"concat(coalesce(anc_records, array()), array(struct({', '.join(_HIER_RECORD)})), "
        "coalesce(child_records, array()))"
    )
    return "struct(" + ", ".join([
        _s("Date Processed", sql_string(run_timestamp)),
        _struct(
            "Identifiers",
            _s("element_global_id", "cast(element_global_id AS int)"),
            _s("Database Code", "databasecode"),
            _s("Classification Code", "classificationcode"),
        ),
        _struct(
            "Overview",
            _s("Scientific Name", "scientificname"),
            _s("Formatted Scientific Name", _clean("formattedscientificname")),
            _s("Translated Name", "translatedname"),
            _s("Colloquial Name", "colloquialname"),
            _s("Type Concept Sentence", _clean("typeconceptsentence")),
            _s("Type Concept", _clean("typeconcept")),
            _s("Diagnostic Characteristics", _clean("diagnosticcharacteristics")),
            _s("Rationale for Nonimal Species or Physiognomic Features", _clean("rationale")),
            _s("Classification Comments", _clean("classificationcomments")),
            _s("Other Comments", _clean("othercomments")),
            _s("Similar NVC Type Comments", _clean("similarnvctypescomments")),
            _s("Similar NVC Types", "_similar"),
            _s("Display Title", _TITLE),
        ),
        _struct(
            "Hierarchy",
            _s("parent_id", "coalesce(parent_id, 'None')"),
            _s("hierarchylevel"),
            _s("d_classification_level_id"),
            _s("unitsort"),
            _s("parentkey"),
            _s("parentname"),
            _s("Cached Hierarchy", cached_hierarchy),
        ),
        _struct(
            "Vegetation",
            _s("Physiognomy and Structure", _clean("physiognomy")),
            _s("Floristics", _clean("floristics")),
            _s("Dynamics", _clean("dynamics")),
        ),
        _struct(
            "Environment",
            _s("Environmental Description", _clean("environment")),
            _s("Spatial Pattern", _clean("spatialpattern")),
        ),
        _struct(
            "Distribution",
            _s("Geographic Range", "range"),
            _s(
                "Nations",
                "CASE WHEN nations IS NOT NULL THEN struct("
                f"{_s('Raw List', 'nations')}, {_s('Nation Info', _nations_info())}) END",
            ),
            _s("Subnations", f"CASE WHEN subnations IS NOT NULL THEN struct({_s('Raw List', 'subnations')}) END"),
            _s("States/Provinces Raw Data", "_dist"),
            _s("1994 USFS Ecoregion Raw Data", "_eco94"),
            _s("2007 USFS Ecoregion Raw Data", "_eco07"),
            _s("TNC Ecoregions", "cast(tncecoregions AS bigint)"),
            _s("Omernik Ecoregions", "cast(omernikecoregions AS bigint)"),
            _s("Federal Lands", "cast(federallands AS bigint)"),
        ),
        _struct(
            "Plot Sampling and Analysis",
            _s("Plot Count", "cast(plotcount AS bigint)"),
            _s("Plot Summary", "plotsummary"),
            _s("Plot Type", "plottypal"),
            _s("Plot Archive", "plotarchived"),
            _s("Plot Consistency", "plotconsistency"),
            _s("Plot Size", "plotsize"),
            _s("Plot Methods", "plotmethods"),
        ),
        _struct(
            "Confidence Level",
            _s("Confidence Level", "CLASSIF_CONFIDENCE_DESC"),
            _s("Confidence Level Comments", _clean("confidencecomments")),
        ),
        _struct(
            "Conservation Status",
            _s("Global Rank", "grank"),
            _s("Global Rank Review Date", "grankreviewdate"),
            _s("Global Rank Author", "grankauthor"),
            _s("Global Rank Reasons", "grankreasons"),
        ),
        _struct(
            "Concept History",
            _s("Concept Lineage", "lineage"),
            _s("Predecessors Raw Data", "_preds"),
            _s("Obsolete Units Raw Data", "_obsn"),
            _s("Obsolete Parents Raw Data", "_obsp"),
        ),
        _struct("Synonymy", _s("Synonymy", "synonymy")),
        _struct(
            "Authorship",
            _s("Concept Author", "primaryconceptsource"),
            _s("Description Author", "descriptionauthor"),
            _s("Acknowledgements", "acknowledgements"),
            _s("Version Date", "versiondate"),
        ),
        _s(
            "References",
            "coalesce(_refs, cast(array() AS array<struct<`Short Citation`:string,`Full Citation`:string>>))",
        ),
        _s("title", _TITLE),
        _s("parent", "coalesce(cast(parent_id AS int), 0)"),
        _s("children", f"coalesce({_record_ids('child_records')}, cast(array() AS array<int>))"),
        _s("ancestors", f"coalesce({_record_ids('anc_records')}, array(0))"),
        _s("id", "element_global_id"),
    ]) + ")"


def _checked_units(units: DataFrame) -> DataFrame:
    """Materialize the unit silver, failing on a dangling parent.

    Referential integrity (the I5 fail-loudly rule): a parent_id with
    no unit row would be SILENTLY dropped by the closure's inner join —
    the child would claim ancestors=[0] while its parent field points
    at the missing id, and it would be unreachable from the synthetic
    root. The check rides the checkpoint job: the unit rows are
    left-joined to the unit ids on parent_id, and an ``Observation`` at
    the root of that job counts the misses and keeps five of them.
    """
    ids = units.selectExpr("element_global_id AS _parent_row").distinct()
    obs = Observation()
    checked = materialize(
        units.join(ids, F.expr("parent_id = _parent_row"), "left").observe(
            obs,
            F.expr("count_if(parent_id IS NOT NULL AND _parent_row IS NULL) AS n"),
            F.expr("slice(array_sort(collect_set(CASE WHEN _parent_row IS NULL THEN parent_id END)), 1, 5) AS ids"),
        )
    )
    dangling = obs.get
    if dangling["n"]:
        raise ValueError("unit.txt parent_id(s) with no unit row (truncated export?): " + ", ".join(dangling["ids"]))
    return checked.drop("_parent_row")


def build_documents(silver: dict[str, DataFrame], run_timestamp: str | None = None) -> DataFrame:
    """(row_id, source_data) — one JSON document per unit + the
    synthetic root (usnvc.py:223-234). ``run_timestamp`` is captured
    once per run for determinism (E8; default: now, UTC ISO).

    Each stage is one SQL expression text (nest aggregates, the
    document struct), so the py4j calls that build the plan grow with
    the number of stages, not with the number of fields."""
    if run_timestamp is None:
        run_timestamp = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None).isoformat()

    # Materialized once: the closure edges, the ancestor payload, the
    # child nest, the main unit chain and the root aggregate all read
    # it, and Spark does not dedupe common subplans across one action —
    # each would replay the multiline-CSV scans and silver joins.
    units = _checked_units(silver["nvcsUnits"])

    # --- hierarchy (G1-G3): closure once for all units ---------------
    # max_depth=32 (the operator default): USNVC's real tree is 8
    # levels, but a tighter 16 cap SILENTLY truncated deeper synthetic
    # trees (caught by tests/test_usnvc_deep_fixture.py's 24-level
    # graft in round 9). The bound still terminates parent cycles (in
    # 5 doubling rounds). A generous cap costs nothing on real trees:
    # rounds double the reach (1, 2, 4, 8, ...) and stop as soon as the
    # depth observed in a round's checkpoint falls short of its reach
    # — 3 rounds for the 8-level tree.
    clos = ancestor_closure(
        units.selectExpr("element_global_id AS id", "parent_id"), "id", "parent_id", max_depth=32
    )
    # one ancestor per depth, so ordering by depth alone is total
    anc = nest_records(
        clos.join(units.select(*_HIER_COLS), F.expr("ancestor_id = element_global_id")),
        "id",
        _HIER_RECORD,
        "depth",
        "anc_records",
    )
    children = nest_records(
        units.filter("parent_id IS NOT NULL").selectExpr("parent_id AS id", *map(ident, _HIER_COLS)),
        "id",
        _HIER_RECORD,
        "cast(element_global_id AS int)",
        "child_records",
    )

    # --- per-unit nested sub-records (8 nests; J10/A2) ---------------
    u = attach_nested(
        units,
        silver["unitReferences"],
        "element_global_id",
        [_s("Short Citation", "shortcitation"), _s("Full Citation", "fullcitation")],
        "reference_id",
        "_refs",
    )
    for name, order_by, out_col in _ALL_COLUMN_BRIDGES:
        payload = [ident(c) for c in silver[name].columns]
        u = attach_nested(u, silver[name], "element_global_id", payload, order_by, out_col)
    u = u.join(anc.withColumnRenamed("id", "element_global_id"), "element_global_id", "left").join(
        children.withColumnRenamed("id", "element_global_id"), "element_global_id", "left"
    )

    unit_docs = u.selectExpr("element_global_id AS row_id", f"to_json({_document(run_timestamp)}) AS source_data")

    # --- synthetic root (G4, usnvc.py:223-234) -----------------------
    # the reference sets root['id'] = '0' AFTER building the doc
    # (usnvc.py:51), so the emitted root carries an id field like
    # every unit doc — consumers navigate by embedded id
    root_doc = (
        units.filter("parent_id IS NULL")
        .groupBy()
        .agg(F.expr("sort_array(collect_list(cast(element_global_id AS int))) AS children"))
        .selectExpr(
            "'0' AS row_id",
            "to_json(struct('US National Vegetation Classification' AS title, cast(NULL AS int) AS parent, "
            "cast(NULL AS array<int>) AS ancestors, children, struct('0' AS unitsort) AS Hierarchy, "
            "'0' AS id)) AS source_data",
        )
    )

    return unit_docs.unionByName(root_doc)

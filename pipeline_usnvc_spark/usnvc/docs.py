"""USNVC document assembly (reference M3-M5): one declarative plan
from silver frames to the per-unit JSON envelope.

Replaces the reference's per-row build (usnvc.py:238-490: 8 O(n)
filtered lookups + an O(depth) ancestor walk PER ROW) with set-based
equivalents built from the engine's operators: one ordered nest per
related table (``operators/nest``, J10/A2) and one closure for the whole
hierarchy (``operators/hierarchy``, G1), whose ancestors and children are
nested the same way. JSON "absent key" semantics come from to_json's
null-field dropping (P5/P6).

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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pipeline_usnvc_spark.functions.text import (
    clean_string,
    display_title,
    split_flagged_codes,
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


def _title() -> Column:
    """Display Title of the unit in scope (usnvc.py:325-332)."""
    return display_title(
        F.col("hierarchylevel"),
        F.col("classificationcode"),
        F.col("colloquialname"),
        F.col("translatedname"),
        F.col("databasecode"),
    )


def _hier_record() -> list[Column]:
    """The 9-column hierarchy record + Display Title (usnvc.py:500-530):
    the payload of the ancestor and child nests and the unit's own
    Cached Hierarchy entry."""
    return [F.col(c).alias(c) for c in _HIER_COLS] + [_title().alias("Display Title")]


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


def _s(name: str, col: Column | None = None) -> Column:
    """Alias helper: struct field with a human-readable key."""
    return (col if col is not None else F.col(name)).alias(name)


def _clean_opt(c: str) -> Column:
    return clean_string(F.col(c))


def _record_ids(records: str) -> Column:
    """The int ids of a nested hierarchy-record array, in its order."""
    return F.transform(F.col(records), lambda r: r["element_global_id"].cast("int"))


def build_documents(silver: dict[str, DataFrame], run_timestamp: str | None = None) -> DataFrame:
    """(row_id, source_data) — one JSON document per unit + the
    synthetic root (usnvc.py:223-234). ``run_timestamp`` is captured
    once per run for determinism (E8; default: now, UTC ISO)."""
    if run_timestamp is None:
        run_timestamp = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None).isoformat()

    # Materialized once: ~5 consumers below (closure edges, ancestor
    # payload, children nest, the main unit chain, the root agg) would
    # each replay the multiline-CSV scans + silver joins — Spark does
    # not dedupe common subplans across one action.
    units = materialize(silver["nvcsUnits"])

    # --- hierarchy (G1-G3): closure once for all units ---------------
    # max_depth=32 (the operator default): USNVC's real tree is 8
    # levels, but a tighter 16 cap SILENTLY truncated deeper synthetic
    # trees (caught by tests/test_usnvc_deep_fixture.py's 24-level
    # graft in round 9). The bound still terminates parent cycles (in
    # 5 doubling rounds). A generous cap costs nothing on real trees:
    # rounds double the reach (1, 2, 4, 8, ...) and stop as soon as the
    # depth observed in a round's checkpoint falls short of its reach
    # — 3 rounds for the 8-level tree.
    # Referential-integrity gate (the I5 fail-loudly rule; review
    # finding): a parent_id with no unit row would be SILENTLY dropped
    # by the closure's inner join below — the child would claim
    # ancestors=[0] while its parent field points at the missing id,
    # and it would be unreachable from the synthetic root. A truncated
    # export must fail here, not ship inconsistent documents.
    dangling = (
        units.filter(F.col("parent_id").isNotNull())
        .select(F.col("parent_id").alias("_p"))
        .distinct()
        .join(
            units.select(F.col("element_global_id").alias("_p")),
            "_p",
            "left_anti",
        )
        .limit(5)
        .collect()
    )
    if dangling:
        raise ValueError(
            "unit.txt parent_id(s) with no unit row (truncated export?): "
            + ", ".join(str(r["_p"]) for r in dangling)
        )
    clos = ancestor_closure(
        units.select(F.col("element_global_id").alias("id"), F.col("parent_id")),
        "id",
        "parent_id",
        max_depth=32,
    )
    # one ancestor per depth, so ordering by depth alone is total
    anc = nest_records(
        clos.join(units.select(*_HIER_COLS), F.col("ancestor_id") == F.col("element_global_id")),
        "id",
        _hier_record(),
        "depth",
        "anc_records",
    )
    children = nest_records(
        units.filter(F.col("parent_id").isNotNull()).withColumn("id", F.col("parent_id")),
        "id",
        _hier_record(),
        F.col("element_global_id").cast("int"),
        "child_records",
    )

    # --- per-unit nested sub-records (8 nests; J10/A2) ---------------
    u = attach_nested(
        units,
        silver["unitReferences"],
        "element_global_id",
        [_s("Short Citation", F.col("shortcitation")), _s("Full Citation", F.col("fullcitation"))],
        "reference_id",
        "_refs",
    )
    for name, order_by, out_col in _ALL_COLUMN_BRIDGES:
        u = attach_nested(u, silver[name], "element_global_id", silver[name].columns, order_by, out_col)
    u = (
        u.join(anc, u["element_global_id"] == anc["id"], "left")
        .drop("id")
        .join(children, u["element_global_id"] == children["id"], "left")
        .drop("id")
    )

    title = _title()

    # Nations parse (E4) with static enrichment (fixed I4).
    # E4 parse via the ONE flagged-code parser (functions/text.py
    # split_flagged_codes — review finding: an inline copy of the same
    # split/strip/endswith logic lived here and could drift), enriched
    # with the static I4 fields.
    nation_map = F.create_map(*[F.lit(x) for kv in NATION_NAMES.items() for x in kv])
    nations_info = F.transform(
        split_flagged_codes(F.col("nations")),
        lambda c: F.struct(
            c["Abbreviation"].alias("Abbreviation"),
            c["Uncertainty"].alias("Uncertainty"),
            F.concat(
                F.lit("https://restcountries.eu/rest/v2/alpha/"),
                c["Abbreviation"],
            ).alias("Info API"),
            F.coalesce(nation_map[c["Abbreviation"]], F.lit("Unknown")).alias("Name"),
        ),
    )

    no_records = F.array().cast(anc.schema["anc_records"].dataType)
    cached_hierarchy = F.concat(
        F.coalesce(F.col("anc_records"), no_records),
        F.array(F.struct(*_hier_record())),
        F.coalesce(F.col("child_records"), no_records),
    )

    doc = F.struct(
        _s("Date Processed", F.lit(run_timestamp)),
        F.struct(
            _s("element_global_id", F.col("element_global_id").cast("int")),
            _s("Database Code", F.col("databasecode")),
            _s("Classification Code", F.col("classificationcode")),
        ).alias("Identifiers"),
        F.struct(
            _s("Scientific Name", F.col("scientificname")),
            _s("Formatted Scientific Name", _clean_opt("formattedscientificname")),
            _s("Translated Name", F.col("translatedname")),
            _s("Colloquial Name", F.col("colloquialname")),
            _s("Type Concept Sentence", _clean_opt("typeconceptsentence")),
            _s("Type Concept", _clean_opt("typeconcept")),
            _s("Diagnostic Characteristics", _clean_opt("diagnosticcharacteristics")),
            _s("Rationale for Nonimal Species or Physiognomic Features", _clean_opt("rationale")),
            _s("Classification Comments", _clean_opt("classificationcomments")),
            _s("Other Comments", _clean_opt("othercomments")),
            _s("Similar NVC Type Comments", _clean_opt("similarnvctypescomments")),
            _s("Similar NVC Types", F.col("_similar")),
            _s("Display Title", title),
        ).alias("Overview"),
        F.struct(
            _s("parent_id", F.coalesce(F.col("parent_id"), F.lit("None"))),
            _s("hierarchylevel"),
            _s("d_classification_level_id"),
            _s("unitsort"),
            _s("parentkey"),
            _s("parentname"),
            _s("Cached Hierarchy", cached_hierarchy),
        ).alias("Hierarchy"),
        F.struct(
            _s("Physiognomy and Structure", _clean_opt("physiognomy")),
            _s("Floristics", _clean_opt("floristics")),
            _s("Dynamics", _clean_opt("dynamics")),
        ).alias("Vegetation"),
        F.struct(
            _s("Environmental Description", _clean_opt("environment")),
            _s("Spatial Pattern", _clean_opt("spatialpattern")),
        ).alias("Environment"),
        F.struct(
            _s("Geographic Range", F.col("range")),
            F.when(
                F.col("nations").isNotNull(),
                F.struct(
                    _s("Raw List", F.col("nations")),
                    _s("Nation Info", nations_info),
                ),
            ).alias("Nations"),
            F.when(
                F.col("subnations").isNotNull(),
                F.struct(_s("Raw List", F.col("subnations"))),
            ).alias("Subnations"),
            _s("States/Provinces Raw Data", F.col("_dist")),
            _s("1994 USFS Ecoregion Raw Data", F.col("_eco94")),
            _s("2007 USFS Ecoregion Raw Data", F.col("_eco07")),
            _s("TNC Ecoregions", F.col("tncecoregions").cast("long")),
            _s("Omernik Ecoregions", F.col("omernikecoregions").cast("long")),
            _s("Federal Lands", F.col("federallands").cast("long")),
        ).alias("Distribution"),
        F.struct(
            _s("Plot Count", F.col("plotcount").cast("long")),
            _s("Plot Summary", F.col("plotsummary")),
            _s("Plot Type", F.col("plottypal")),
            _s("Plot Archive", F.col("plotarchived")),
            _s("Plot Consistency", F.col("plotconsistency")),
            _s("Plot Size", F.col("plotsize")),
            _s("Plot Methods", F.col("plotmethods")),
        ).alias("Plot Sampling and Analysis"),
        F.struct(
            _s("Confidence Level", F.col("CLASSIF_CONFIDENCE_DESC")),
            _s("Confidence Level Comments", _clean_opt("confidencecomments")),
        ).alias("Confidence Level"),
        F.struct(
            _s("Global Rank", F.col("grank")),
            _s("Global Rank Review Date", F.col("grankreviewdate")),
            _s("Global Rank Author", F.col("grankauthor")),
            _s("Global Rank Reasons", F.col("grankreasons")),
        ).alias("Conservation Status"),
        F.struct(
            _s("Concept Lineage", F.col("lineage")),
            _s("Predecessors Raw Data", F.col("_preds")),
            _s("Obsolete Units Raw Data", F.col("_obsn")),
            _s("Obsolete Parents Raw Data", F.col("_obsp")),
        ).alias("Concept History"),
        F.struct(_s("Synonymy", F.col("synonymy"))).alias("Synonymy"),
        F.struct(
            _s("Concept Author", F.col("primaryconceptsource")),
            _s("Description Author", F.col("descriptionauthor")),
            _s("Acknowledgements", F.col("acknowledgements")),
            _s("Version Date", F.col("versiondate")),
        ).alias("Authorship"),
        F.coalesce(
            F.col("_refs"),
            F.array().cast("array<struct<`Short Citation`:string,`Full Citation`:string>>"),
        ).alias("References"),
        title.alias("title"),
        F.coalesce(F.col("parent_id").cast("int"), F.lit(0)).alias("parent"),
        F.coalesce(_record_ids("child_records"), F.array().cast("array<int>")).alias("children"),
        F.coalesce(_record_ids("anc_records"), F.array(F.lit(0))).alias("ancestors"),
        F.col("element_global_id").alias("id"),
    )

    unit_docs = u.select(
        F.col("element_global_id").alias("row_id"),
        F.to_json(doc).alias("source_data"),
    )

    # --- synthetic root (G4, usnvc.py:223-234) -----------------------
    roots = (
        units.filter(F.col("parent_id").isNull())
        .select(F.col("element_global_id").cast("int").alias("cid"))
        .groupBy()
        .agg(F.sort_array(F.collect_list("cid")).alias("children"))
    )
    # the reference sets root['id'] = '0' AFTER building the doc
    # (usnvc.py:51), so the emitted root carries an id field like
    # every unit doc — consumers navigate by embedded id
    root_doc = roots.select(
        F.lit("0").alias("row_id"),
        F.to_json(
            F.struct(
                F.lit("US National Vegetation Classification").alias("title"),
                F.lit(None).cast("int").alias("parent"),
                F.lit(None).cast("array<int>").alias("ancestors"),
                F.col("children").alias("children"),
                F.struct(F.lit("0").alias("unitsort")).alias("Hierarchy"),
                F.lit("0").alias("id"),
            )
        ).alias("source_data"),
    )

    return unit_docs.unionByName(root_doc)

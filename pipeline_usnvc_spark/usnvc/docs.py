"""USNVC document assembly (reference M3-M5): one declarative plan
from silver frames to the per-unit JSON envelope.

Replaces the reference's per-row build (usnvc.py:238-490: 8 O(n)
filtered lookups + an O(depth) ancestor walk PER ROW) with set-based
equivalents: one groupBy/collect_list nest per related table (J10/A2)
and one iterative closure for the whole hierarchy (G1). JSON "absent
key" semantics come from to_json's null-field dropping (P5/P6).

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
from pipeline_usnvc_spark.operators.hierarchy import ancestors as ancestor_closure

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


# The hierarchy-record array type, DERIVED from _HIER_COLS so the two
# empty-array coalesce branches in cached_hierarchy can never drift
# from the struct builder by hand (review finding: the ~200-char DDL
# literal was pasted twice).
_HIER_ARRAY_DDL = (
    "array<struct<"
    + ",".join(f"{c}:string" for c in _HIER_COLS)
    + ",`Display Title`:string>>"
)


def _s(name: str, col: Column | None = None) -> Column:
    """Alias helper: struct field with a human-readable key."""
    return (col if col is not None else F.col(name)).alias(name)


def _clean_opt(c: str) -> Column:
    return clean_string(F.col(c))


def _hier_struct(prefix: str = "") -> Column:
    """The 9-column hierarchy record + Display Title (usnvc.py:500-530)."""
    p = lambda c: F.col(prefix + c) if prefix else F.col(c)
    return F.struct(
        *[p(c).alias(c) for c in _HIER_COLS],
        display_title(
            p("hierarchylevel"),
            p("classificationcode"),
            p("colloquialname"),
            p("translatedname"),
            p("databasecode"),
        ).alias("Display Title"),
    )


def _nest(df: DataFrame, order_by: Column, payload: list[Column]) -> DataFrame:
    """groupBy(element_global_id) → deterministically ordered
    array<struct> (the J10 rewrite)."""
    wrapped = F.collect_list(F.struct(order_by.alias("_o"), F.struct(*payload).alias("_p")))
    return df.groupBy("element_global_id").agg(
        F.transform(F.sort_array(wrapped), lambda s: s["_p"]).alias("arr")
    )


def _all_cols_struct(df: DataFrame, order_by: str) -> DataFrame:
    """Nest every column of a merged frame — pandas to_dict('records')
    keeps all columns incl. both join-key spellings."""
    payload = [F.col(c).alias(c) for c in df.columns]
    return _nest(df, F.col(order_by), payload)


def build_documents(silver: dict[str, DataFrame], run_timestamp: str | None = None) -> DataFrame:
    """(row_id, source_data) — one JSON document per unit + the
    synthetic root (usnvc.py:223-234). ``run_timestamp`` is captured
    once per run for determinism (E8; default: now, UTC ISO)."""
    if run_timestamp is None:
        run_timestamp = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None).isoformat()

    # Materialized once: ~5 consumers below (closure edges, ancestor
    # payload, children agg, the main unit chain, the root agg) would
    # each replay the multiline-CSV scans + silver joins — Spark does
    # not dedupe common subplans across one action.
    from pipeline_usnvc_spark.operators.checkpoint import materialize

    units = materialize(silver["nvcsUnits"])

    # --- per-unit nested sub-records (8 nests; J10/A2) ---------------
    refs = _nest(
        silver["unitReferences"],
        F.col("reference_id"),
        [_s("Short Citation", F.col("shortcitation")), _s("Full Citation", F.col("fullcitation"))],
    )
    similar = _all_cols_struct(silver["unitXSimilarUnit"], "simglobal_id")
    distribution = _all_cols_struct(silver["nvcsDistribution"], "subnation_id")
    eco94 = _all_cols_struct(silver["usfsEcoregionDistribution1994"], "usfs_ecoregion_id")
    eco07 = _all_cols_struct(silver["usfsEcoregionDistribution2007"], "usfs_ecoregion_2007_id")
    preds = _all_cols_struct(silver["unitPredecessors"], "predecessor_id")
    obs_names = _all_cols_struct(silver["obsoleteUnits"], "obsoletename")
    obs_parents = _all_cols_struct(silver["obsoleteParents"], "obsoleteparentcode")

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
    anc_payload = (
        clos.join(
            units.select(*[F.col(c).alias(f"a_{c}") for c in _HIER_COLS]),
            clos["ancestor_id"] == F.col("a_element_global_id"),
        )
        .groupBy("id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct(F.col("depth").alias("_o"), _hier_struct("a_").alias("_p")))),
                lambda s: s["_p"],
            ).alias("anc_records"),
            F.transform(
                F.sort_array(F.collect_list(F.struct(F.col("depth").alias("_o"), F.col("ancestor_id").alias("_i")))),
                lambda s: s["_i"].cast("int"),
            ).alias("anc_ids"),
        )
    )
    children = (
        units.filter(F.col("parent_id").isNotNull())
        .groupBy(F.col("parent_id").alias("id"))
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(F.col("element_global_id").cast("int").alias("_o"), _hier_struct().alias("_p"))
                    )
                ),
                lambda s: s["_p"],
            ).alias("child_records"),
            F.sort_array(F.collect_list(F.col("element_global_id").cast("int"))).alias("child_ids"),
        )
    )

    u = (
        units.join(refs.withColumnRenamed("arr", "_refs"), "element_global_id", "left")
        .join(similar.withColumnRenamed("arr", "_similar"), "element_global_id", "left")
        .join(distribution.withColumnRenamed("arr", "_dist"), "element_global_id", "left")
        .join(eco94.withColumnRenamed("arr", "_eco94"), "element_global_id", "left")
        .join(eco07.withColumnRenamed("arr", "_eco07"), "element_global_id", "left")
        .join(preds.withColumnRenamed("arr", "_preds"), "element_global_id", "left")
        .join(obs_names.withColumnRenamed("arr", "_obsn"), "element_global_id", "left")
        .join(obs_parents.withColumnRenamed("arr", "_obsp"), "element_global_id", "left")
        .join(anc_payload, units["element_global_id"] == anc_payload["id"], "left")
        .drop("id")
        .join(children, units["element_global_id"] == children["id"], "left")
        .drop("id")
    )

    title = display_title(
        F.col("hierarchylevel"),
        F.col("classificationcode"),
        F.col("colloquialname"),
        F.col("translatedname"),
        F.col("databasecode"),
    )

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

    cached_hierarchy = F.concat(
        F.coalesce(F.col("anc_records"), F.array().cast(_HIER_ARRAY_DDL)),
        F.array(_hier_struct()),
        F.coalesce(F.col("child_records"), F.array().cast(_HIER_ARRAY_DDL)),
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
        F.coalesce(F.col("child_ids"), F.array().cast("array<int>")).alias("children"),
        F.coalesce(F.col("anc_ids"), F.array(F.lit(0))).alias("ancestors"),
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

"""USNVC parity suite: property tests over the fixture export plus a
field-by-field diff against the reference pandas implementation run
on the same files (SURVEY §5.2-5.4).
"""

from __future__ import annotations

import json
import math
import re
import sys
import types
from pathlib import Path

import pytest

from tests.usnvc_fixture import write_fixture

REFERENCE_PY = Path("/root/reference/usnvc/usnvc.py")


@pytest.fixture(scope="module")
def export_dir(tmp_path_factory) -> str:
    return str(write_fixture(tmp_path_factory.mktemp("usnvc_export")))


@pytest.fixture(scope="module")
def docs_by_id(spark, export_dir) -> dict[str, dict]:
    from pipeline_usnvc_spark.usnvc.ingest import build_silver, read_export
    from pipeline_usnvc_spark.usnvc.docs import build_documents

    tables = read_export(spark, export_dir)
    silver = build_silver(tables)
    out = build_documents(silver, run_timestamp="2026-01-01T00:00:00")
    rows = out.collect()
    return {r["row_id"]: json.loads(r["source_data"]) for r in rows}



def test_document_plan_collects_each_nest_once(spark, export_dir):
    """Eight bridge nests, the ancestor nest, the child nest and the
    synthetic root: one collect_list each, ids read off the records."""
    from pipeline_usnvc_spark.usnvc.docs import build_documents
    from pipeline_usnvc_spark.usnvc.ingest import build_silver, read_export

    docs = build_documents(build_silver(read_export(spark, export_dir)), "2026-01-01T00:00:00")
    plan = docs._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("collect_list(") == 11
    assert len(re.findall(r"^\W*Aggregate \[", plan, re.M)) == 11


def test_document_plan_builds_in_bounded_py4j_round_trips(spark, export_dir):
    """Ingest, silver and document plan in at most 1,500 py4j round
    trips: the count grows with the stages, not with the ~80 document
    fields. Built field by field as Column objects, each paying
    PySpark's call-site capture, the same plan took about 10,000.

    Only the calls of the building thread count: py4j's own finalizer
    thread sends garbage-collection messages for whatever Java objects
    earlier code released, at times of its own."""
    import threading

    from py4j.clientserver import ClientServerConnection

    from pipeline_usnvc_spark.usnvc.docs import build_documents
    from pipeline_usnvc_spark.usnvc.ingest import build_silver, read_export

    calls = 0
    send = ClientServerConnection.send_command
    builder = threading.get_ident()

    def counted(self, command, *args, **kwargs):
        nonlocal calls
        calls += threading.get_ident() == builder
        return send(self, command, *args, **kwargs)

    ClientServerConnection.send_command = counted
    try:
        build_documents(build_silver(read_export(spark, export_dir)), "2026-01-01T00:00:00")
    finally:
        ClientServerConnection.send_command = send
    assert 0 < calls <= 1500, calls


UNIT_IDS = ["100", "110", "111", "112", "113", "114", "200", "210"]


# ---------------------------------------------------------------------------
# Property tests
# ---------------------------------------------------------------------------
def test_doc_count_and_ids(docs_by_id):
    assert set(docs_by_id) == set(UNIT_IDS) | {"0"}


def test_root_doc(docs_by_id):
    root = docs_by_id["0"]
    assert root["title"] == "US National Vegetation Classification"
    assert root["children"] == [100, 200]
    assert root["Hierarchy"]["unitsort"] == "0"
    assert "parent" not in root or root["parent"] is None
    assert "ancestors" not in root or root["ancestors"] is None


def test_ancestor_chains(docs_by_id):
    assert docs_by_id["100"]["ancestors"] == [0]
    assert docs_by_id["110"]["ancestors"] == [100]
    assert docs_by_id["114"]["ancestors"] == [113, 112, 111, 110, 100]
    assert docs_by_id["210"]["ancestors"] == [200]
    # recursive property: ancestors(child) == [parent] + ancestors(parent)
    for cid, doc in docs_by_id.items():
        if cid == "0" or doc["parent"] == 0:
            continue
        parent = docs_by_id[str(doc["parent"])]
        parent_anc = parent["ancestors"] if parent["ancestors"] != [0] else []
        assert doc["ancestors"] == [doc["parent"]] + parent_anc


def test_children(docs_by_id):
    assert docs_by_id["110"]["children"] == [111]
    assert docs_by_id["111"]["children"] == [112]
    assert docs_by_id["113"]["children"] == [114]
    assert docs_by_id["114"]["children"] == []


def test_display_title_branches(docs_by_id):
    # Class branch: code + colloquial + level (entities unescaped? No —
    # title uses raw columns, clean_string only on description fields)
    assert docs_by_id["100"]["title"] == "1 Forest &amp; Woodland Class"
    # Macrogroup branch: code + translatedname
    assert docs_by_id["111"]["title"] == "1.A.1 Cool Temperate Forest"
    # else branch: databasecode + translatedname
    assert docs_by_id["113"]["title"] == "A3001 Maple - Beech Alliance"
    # null colloquialname on Class → null-propagating concat → absent
    assert "title" not in docs_by_id["200"]


def test_clean_string_applied(docs_by_id):
    ov = docs_by_id["100"]["Overview"]
    assert ov["Formatted Scientific Name"] == "<i>Forestia</i> & allies"
    assert ov["Type Concept Sentence"] == "Forests & woodlands of the world."
    assert ov["Type Concept"] == "Tree-dominated <all> types"


def test_nations_parse(docs_by_id):
    info = docs_by_id["111"]["Distribution"]["Nations"]["Nation Info"]
    # " CA?, US" — leading space + uncertainty flag, trimmed + fixed lookup
    assert info[0]["Abbreviation"] == "CA"
    assert info[0]["Uncertainty"] is True
    assert info[0]["Name"] == "Canada"
    assert info[1] == {
        "Abbreviation": "US",
        "Uncertainty": False,
        "Info API": "https://restcountries.eu/rest/v2/alpha/US",
        "Name": "United States of America",
    }
    # unknown code → Unknown
    x = docs_by_id["113"]["Distribution"]["Nations"]["Nation Info"][1]
    assert x["Abbreviation"] == "XX" and x["Name"] == "Unknown" and x["Uncertainty"] is True


def test_nested_arrays(docs_by_id):
    refs = docs_by_id["113"]["References"]
    # dangling R9 dropped by inner join; R1, R2 kept in key order
    assert [r["Short Citation"] for r in refs] == ["Rice and Penfound 1959", "Müller 1982"]
    assert refs[0]["Full Citation"].startswith("Rice, E.L. &")
    # units without references get an empty array (reference inits [])
    assert docs_by_id["110"]["References"] == []
    # existence-gated arrays absent when no rows
    assert "Similar NVC Types" not in docs_by_id["110"]["Overview"]
    sim = docs_by_id["113"]["Overview"]["Similar NVC Types"]
    assert sim[0]["simname"] == "<i>Acer rubrum</i> Alliance"
    dist = docs_by_id["113"]["Distribution"]["States/Provinces Raw Data"]
    assert [d["subnation_code"] for d in dist] == ["AL", "BC"]
    # both join-key spellings survive (pandas merge shape)
    assert dist[0]["d_curr_presence_absence_id"] == "1"
    assert dist[0]["D_CURR_PRESENCE_ABSENCE_ID"] == "1"


def test_int_fields_and_confidence(docs_by_id):
    d = docs_by_id["100"]
    assert d["Distribution"]["TNC Ecoregions"] == 4
    assert d["Plot Sampling and Analysis"]["Plot Count"] == 120
    assert d["Confidence Level"]["Confidence Level"] == "High"
    # unit without description row: no int fields at all
    assert "TNC Ecoregions" not in docs_by_id["210"]["Distribution"]


def test_hierarchy_section(docs_by_id):
    h = docs_by_id["114"]["Hierarchy"]
    assert h["parent_id"] == "113"
    assert docs_by_id["100"]["Hierarchy"]["parent_id"] == "None"  # reference quirk
    cached = h["Cached Hierarchy"]
    # ancestors nearest-first + self + children (leaf → 5 ancestors + self)
    assert [c["element_global_id"] for c in cached] == ["113", "112", "111", "110", "100", "114"]
    assert cached[0]["Display Title"] == "A3001 Maple - Beech Alliance"


def test_cached_hierarchy_display_order_from_confidence_dim(docs_by_id):
    # DISPLAY_ORDER in hierarchy records comes from d_classif_confidence
    # (the reference's merged-frame column, see schemas.py note).
    cached = docs_by_id["100"]["Hierarchy"]["Cached Hierarchy"]
    self_rec = [c for c in cached if c["element_global_id"] == "100"][0]
    assert self_rec["DISPLAY_ORDER"] == "1"  # confidence id 1 → display order 1


def test_observed_write_metrics(spark, export_dir, tmp_path, docs_by_id):
    from pipeline_usnvc_spark.usnvc.ingest import build_silver, read_export
    from pipeline_usnvc_spark.usnvc.docs import build_documents
    from pipeline_usnvc_spark.usnvc.ledger import write_documents

    docs = build_documents(build_silver(read_export(spark, export_dir)), "2026-01-01T00:00:00")
    metrics = write_documents(docs, str(tmp_path / "obs_out"))
    assert metrics["n_docs"] == len(UNIT_IDS) + 1
    assert metrics["n_null_ids"] == 0
    assert metrics["payload_bytes"] > 1000


def test_sink_roundtrip(spark, export_dir, tmp_path, docs_by_id):
    from pipeline_usnvc_spark.usnvc.ingest import build_silver, read_export
    from pipeline_usnvc_spark.usnvc.docs import build_documents
    from pipeline_usnvc_spark.usnvc.ledger import write_documents

    docs = build_documents(build_silver(read_export(spark, export_dir)), "2026-01-01T00:00:00")
    out = tmp_path / "out"
    metrics = write_documents(docs, str(out), quarantine_dir=str(tmp_path / "bad"))
    lines = []
    for p in out.glob("part-*"):
        lines += [l for l in p.read_text().splitlines() if l]
    assert len(lines) == len(UNIT_IDS) + 1
    parsed = [json.loads(l) for l in lines]
    assert all(set(p) == {"source_data", "row_id"} for p in parsed)
    assert metrics["documents_written"] == len(UNIT_IDS) + 1


def _part_lines(d) -> list[str]:
    return [ln for p in sorted(d.glob("part-*")) for ln in p.read_text().splitlines() if ln]


def test_sink_quarantines_exactly_the_rejects(spark, tmp_path):
    from pipeline_usnvc_spark.usnvc.ledger import write_documents

    docs = spark.createDataFrame(
        [
            ('{"id": 1}', "a"),
            ('{"id": 2}', None),
            (None, "c"),
            ("", "d"),
            ('{"id": 5}', 'e"\\'),
        ],
        "source_data string, row_id string",
    )
    metrics = write_documents(docs, str(tmp_path / "out"), str(tmp_path / "bad"))
    valid = [json.loads(ln) for ln in _part_lines(tmp_path / "out")]
    assert sorted((v["row_id"], v["source_data"]["id"]) for v in valid) == [("a", 1), ('e"\\', 5)]
    bad = sorted((r["row_id"], r["source_data"]) for r in map(json.loads, _part_lines(tmp_path / "bad")))
    assert bad == [("<null>", '{"id": 2}'), ("c", ""), ("d", "")]
    assert metrics["documents_written"] == 2
    assert metrics["n_docs"] == 5 and metrics["n_null_ids"] == 1


def test_sink_without_rejects_leaves_an_empty_quarantine(spark, tmp_path):
    from pipeline_usnvc_spark.usnvc.ledger import write_documents

    docs = spark.createDataFrame([('{"id": 1}', "a"), ('{"id": 2}', "b")], "source_data string, row_id string")
    write_documents(docs, str(tmp_path / "out"), str(tmp_path / "bad"))
    bad = tmp_path / "bad"
    assert (bad / "_SUCCESS").exists() and list(bad.glob("part-*"))
    # the data files hold nothing (the hidden .crc files are checksums)
    assert sum(p.stat().st_size for p in bad.iterdir() if not p.name.startswith(".")) == 0
    assert len(_part_lines(tmp_path / "out")) == 2


def test_sink_runs_the_document_plan_once(spark, tmp_path):
    """With a quarantine dir and no rejects, every document row is
    computed once: the valid write observes the rejected count, so the
    quarantine write does not replay the plan."""
    from pyspark.sql import functions as F

    from pipeline_usnvc_spark.usnvc.ledger import write_documents

    seen = spark.sparkContext.accumulator(0)

    def count_row(rid):
        seen.add(1)
        return rid

    tick = F.udf(count_row, "string").asNondeterministic()
    docs = spark.range(40).select(
        F.concat(F.lit('{"id": '), F.col("id").cast("string"), F.lit("}")).alias("source_data"),
        tick(F.col("id").cast("string")).alias("row_id"),
    )
    write_documents(docs, str(tmp_path / "out"), str(tmp_path / "bad"))
    assert len(_part_lines(tmp_path / "out")) == 40
    assert seen.value == 40


def test_cli_writes_what_the_library_writes(spark, export_dir, tmp_path):
    """``python -m pipeline_usnvc_spark`` (the drop-in for the
    reference's process_1/process_2) writes the same document lines as
    write_documents(build_documents(...)) at the same run timestamp,
    and ``--limit N`` stops after N documents."""
    from pipeline_usnvc_spark.__main__ import main
    from pipeline_usnvc_spark.usnvc.docs import build_documents
    from pipeline_usnvc_spark.usnvc.ingest import build_silver, read_export
    from pipeline_usnvc_spark.usnvc.ledger import write_documents

    ts = "2026-01-01T00:00:00"
    common = ["--export-dir", export_dir, "--run-timestamp", ts, "--master", spark.sparkContext.master]
    # main() builds its session through get_spark, which resets the
    # shared test session's shuffle partitions: restore them after.
    shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        assert main(common + ["--out", str(tmp_path / "cli"), "--quarantine", str(tmp_path / "cli_bad")]) == 0
        assert main(common + ["--out", str(tmp_path / "cli3"), "--limit", "3"]) == 0
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", shuffle)

    docs = build_documents(build_silver(read_export(spark, export_dir)), ts)
    write_documents(docs, str(tmp_path / "lib"), str(tmp_path / "lib_bad"))
    cli = sorted(_part_lines(tmp_path / "cli"))
    assert len(cli) == len(UNIT_IDS) + 1
    assert cli == sorted(_part_lines(tmp_path / "lib"))
    assert len(_part_lines(tmp_path / "cli3")) == 3


# ---------------------------------------------------------------------------
# Reference parity: run the actual pandas implementation on the same
# fixture and diff documents field by field.
# ---------------------------------------------------------------------------
def _load_reference_module():
    import importlib.util

    if "requests" not in sys.modules:
        stub = types.ModuleType("requests")

        class _Resp:
            def json(self):
                return {}

        stub.get = lambda *a, **k: _Resp()
        sys.modules["requests"] = stub
    spec = importlib.util.spec_from_file_location("reference_usnvc", REFERENCE_PY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _normalize(value, *, path=""):
    """absent ≡ null ≡ NaN; numerics compared as canonical strings
    (pandas type inference yields ints where our schema says string)."""
    # Deliberate divergence (SURVEY §2.9.9): the reference's
    # `type is int` guards can never fire once pandas' left merge
    # introduces a NaN anywhere in the column (int64 → float64), so it
    # drops these fields for EVERY unit; we emit them when non-null.
    # Covered by test_int_fields_and_confidence; excluded from parity.
    _DIVERGENT = {"Date Processed", "TNC Ecoregions", "Omernik Ecoregions", "Federal Lands", "Plot Count"}
    if isinstance(value, dict):
        out = {}
        for k, v in value.items():
            if k in _DIVERGENT:
                continue
            n = _normalize(v, path=f"{path}.{k}")
            if n is not None:
                out[k] = n
        return out
    if isinstance(value, list):
        return [_normalize(v, path=path) for v in value]
    if value is None:
        return None
    if isinstance(value, float):
        if math.isnan(value):
            return None
        if value.is_integer():
            return str(int(value))
        return str(value)
    if isinstance(value, bool):
        return value
    if isinstance(value, int):
        return str(value)
    return value


def _normalize_nation_info(doc: dict) -> None:
    """Reference passes raw (unstripped, '?'-laden) tokens to the place
    lookup and the dead API yields 'Unknown' names; ours fixes both
    (SURVEY §2.9.2-3, 8). Normalize to the fixed semantics."""
    nations = doc.get("Distribution", {}).get("Nations")
    if not nations:
        return
    for entry in nations.get("Nation Info", []):
        abbr = entry.get("Abbreviation", "").replace("?", "").strip()
        entry["Abbreviation"] = abbr
        entry["Info API"] = "https://restcountries.eu/rest/v2/alpha/" + abbr
        entry.pop("Name", None)


@pytest.mark.skipif(not REFERENCE_PY.exists(), reason="reference not available")
def test_reference_parity(docs_by_id, export_dir):
    import pandas as pd

    ref = _load_reference_module()
    context = ref.preprocess_usnvc(export_dir)
    units = context["nvcsUnits"]

    comparable = ["100", "110", "111", "112", "113", "114"]
    for uid in comparable:
        row = units.loc[units["element_global_id"] == uid].iloc[0]
        event = {"index": 0, "row": row.to_json()}
        ref_doc = ref.process_usnvc(export_dir, context, event)
        ours = json.loads(json.dumps(docs_by_id[uid]))
        theirs = json.loads(pd.io.json.ujson_dumps(ref_doc)) if hasattr(pd.io.json, "ujson_dumps") else json.loads(json.dumps(ref_doc, default=str))
        _normalize_nation_info(theirs)
        _normalize_nation_info(ours)
        a, b = _normalize(ours), _normalize(theirs)
        assert a == b, f"unit {uid} mismatch:\nours:   {json.dumps(a, sort_keys=True)[:2000]}\ntheirs: {json.dumps(b, sort_keys=True)[:2000]}"

    # Units 200/210 crash the reference (clean_string(None) →
    # AttributeError, or str + None display title → TypeError); the
    # engine handles them gracefully — documented divergence.
    for crashing in ["200", "210"]:
        row = units.loc[units["element_global_id"] == crashing].iloc[0]
        with pytest.raises((TypeError, AttributeError)):
            ref.process_usnvc(export_dir, context, {"index": 0, "row": row.to_json()})
        assert crashing in docs_by_id


# ---------------------------------------------------------------------------
# Golden-file snapshot: the fixture docs compared against a checked-in
# JSON snapshot (tests/golden/usnvc_docs.json). Unlike the live
# reference parity test above, this guards regressions even where
# /root/reference is unavailable, and pins the exact emitted bytes
# (key set, nesting, entity handling, ordering) reviewed at check-in.
# ---------------------------------------------------------------------------
def test_golden_docs_snapshot(docs_by_id):
    golden_path = Path(__file__).parent / "golden" / "usnvc_docs.json"
    golden = json.loads(golden_path.read_text())
    assert set(docs_by_id) == set(golden)
    for row_id, want in golden.items():
        got = docs_by_id[row_id]
        assert got == want, f"doc {row_id} diverged from golden snapshot"


def test_cli_end_to_end(export_dir, tmp_path):
    """python -m pipeline_usnvc_spark runs the full pipeline and
    writes one valid envelope per unit (+ root)."""
    import json
    import subprocess
    import sys

    out = tmp_path / "docs_out"
    r = subprocess.run(
        [
            sys.executable, "-m", "pipeline_usnvc_spark",
            "--export-dir", export_dir,
            "--out", str(out),
            "--run-timestamp", "2026-01-01T00:00:00",
            "--master", "local[4]",
        ],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    lines = []
    for f in out.glob("part-*"):
        lines += [l for l in f.read_text().splitlines() if l.strip()]
    docs = [json.loads(l) for l in lines]
    assert len(docs) > 0
    ids = {d["row_id"] for d in docs}
    assert "0" in ids  # synthesized root
    for d in docs:
        assert set(d) == {"source_data", "row_id"}
        if d["row_id"] != "0":  # root doc synthesizes its own identifiers
            assert d["source_data"]["Identifiers"]["element_global_id"] == int(d["row_id"])

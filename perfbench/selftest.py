"""Self-tests of the benchmark's own code, at tiny sizes.

    python3 perfbench/selftest.py          # generators, event-log reader, output checks
    python3 perfbench/selftest.py --spark  # also corrupt a real run's output (about a minute)

Exits non-zero on the first failing test.
"""

from __future__ import annotations

import contextlib
import json
import shutil
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import numpy as np  # noqa: E402

import gen  # noqa: E402
from eventlog import Span, span_metrics  # noqa: E402


def _tokens(text: str) -> list[str]:
    """The program's tokenization: lowercase, split on non-alphanumerics."""
    import re

    return [t for t in re.split("[^a-zA-Z0-9]+", text.lower()) if t]


def _jaccard(a: list[str], b: list[str], n: int = 3) -> float:
    sa = {tuple(a[i : i + n]) for i in range(len(a) - n + 1)}
    sb = {tuple(b[i : i + n]) for i in range(len(b) - n + 1)}
    return len(sa & sb) / len(sa | sb)


def test_usnvc_export_is_seeded_and_shaped(tmp: Path) -> None:
    a = gen.usnvc_export(tmp / "a", 300, seed=7)
    b = gen.usnvc_export(tmp / "b", 300, seed=7)
    c = gen.usnvc_export(tmp / "c", 300, seed=8)
    files = sorted(p.name for p in (tmp / "a").iterdir())
    assert len(files) == 18, files
    assert all((tmp / "a" / f).read_bytes() == (tmp / "b" / f).read_bytes() for f in files)
    assert (tmp / "a" / "unit.txt").read_bytes() != (tmp / "c" / "unit.txt").read_bytes()
    assert sum(a["level_sizes"]) == 300 and len(a["level_sizes"]) == a["hierarchy_depth"] == 8
    depths = [0 if chain == [0] else len(chain) for chain in a["ancestors"]]
    start = 0
    for level, size in enumerate(a["level_sizes"]):
        assert set(depths[start : start + size]) == {level}, level
        start += size
    assert 7 < a["refs_per_unit"] < 11, a["refs_per_unit"]
    for bridge in gen.BRIDGE_MEANS:
        assert a["table_rows"][bridge] > 0, bridge


def test_corpus_plants_what_it_reports(tmp: Path) -> None:
    import pyarrow.parquet as pq

    plan = gen.corpus(tmp / "corpus", 600, seed=3, dim=8, n_files=2)
    again = gen.corpus(tmp / "again", 600, seed=3, dim=8, n_files=2)
    assert plan["planted"] == again["planted"]
    p = plan["planted"]
    assert p["original"] + p["exact_dup"] + p["near_dup"] + p["quality"] == 600
    assert p["kept"] + p["quota"] == p["original"]
    assert min(p["exact_dup"], p["near_dup"], p["quality"], p["quota"]) > 0, p
    table = pq.read_table(tmp / "corpus").to_pandas().sort_values("doc_id")
    assert table["doc_id"].tolist() == list(range(1, 601))
    # recount every planted class from the texts alone, with the
    # program's tokenization and the curate defaults (20 tokens,
    # punctuation share 0.3, word-3-shingle Jaccard 0.8)
    seen: set = set()
    quality = exact = near = 0
    earlier: list[list[str]] = []
    for text in table["text"]:
        toks = _tokens(text)
        punct = sum(1 for ch in text if not (ch.isalnum() or ch == "_" or ch.isspace())) / len(text)
        if len(toks) < 20 or punct > 0.3:
            quality += 1
            continue
        if " ".join(toks) in seen:
            exact += 1
            continue
        if any(_jaccard(toks, e) >= 0.8 for e in earlier):
            near += 1
        else:
            earlier.append(toks)
        seen.add(" ".join(toks))
    assert (quality, exact, near) == (p["quality"], p["exact_dup"], p["near_dup"]), (quality, exact, near, p)
    emb = table["embedding"].tolist()
    bad = sum(1 for e in emb if e is None or len(e) != 8)
    assert bad == round(plan["bad_vector_share"] * 600)
    assert len(plan["valid_ids"]) == 600 - bad


def test_reference_topk_orders_by_cosine_then_id() -> None:
    valid = np.array([[1.0, 0.0], [0.0, 1.0], [2.0, 0.0], [1.0, 1.0]])
    ids = np.array([5, 6, 7, 8])
    got = gen.reference_topk(ids, valid, np.array([[1.0, 0.1]], dtype=np.float32), 3)
    assert got == [[5, 7, 8]], got


def _events() -> tuple[list[dict], list[Span]]:
    """A hand-built event log: span A (pass 0) runs two overlapping
    jobs, one of them a collect with a Python stage; one job is
    untagged."""
    scope = json.dumps({"id": "3", "name": "MapInPandas"})
    plan = {"nodeName": "MapInPandas", "metrics": [{"name": "number of output rows", "accumulatorId": 42}],
            "children": []}
    ev = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "executionId": 0,
         "sparkPlanInfo": {"nodeName": "Project", "metrics": [], "children": [plan]}},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 101_000, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "A|0", "callSite.short": "collect at x.py:1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 102_000, "Stage IDs": [1],
         "Properties": {"spark.jobGroup.id": "A|0", "callSite.short": "save at x.py:2"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 110_000, "Stage IDs": [2],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task End Reason": {"Reason": "Success"},
         "Task Info": {"Accumulables": [{"ID": 42, "Update": "30"}, {"ID": 7, "Update": "9"}]},
         "Task Metrics": {"JVM GC Time": 500, "Input Metrics": {"Bytes Read": 1000},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Metrics": {"Output Metrics": {"Bytes Written": 77},
                          "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 9},
                          "Memory Bytes Spilled": 3, "Disk Bytes Spilled": 4}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Number of Tasks": 1, "Submission Time": 101_000, "Completion Time": 103_000,
            "RDD Info": [{"Scope": scope}]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Number of Tasks": 2, "Submission Time": 102_000, "Completion Time": 104_500,
            "RDD Info": [{"Scope": json.dumps({"id": "1", "name": "Exchange"})}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 103_000},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 104_500},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 111_000},
    ]
    return ev, [Span("A", 0, 100.0, 106.0), Span("B", 0, 106.0, 107.0)]


def test_event_log_reader_attributes_jobs_to_spans() -> None:
    events, spans = _events()
    out, untagged = span_metrics(events, spans)
    a, b = out["A|0"], out["B|0"]
    assert untagged == 1
    assert a["jobs"] == 2 and a["stages"] == 2 and a["tasks"] == 3
    assert abs(a["wall_s"] - 6.0) < 1e-9
    assert abs(a["job_s"] - 3.5) < 1e-9, a["job_s"]  # union of [101, 103] and [102, 104.5]
    assert abs(a["job_s"] + a["driver_s"] - a["wall_s"]) < 1e-9
    assert a["python_stage_s"] == 2.0 and a["single_task_stage_s"] == 2.0
    assert a["scan_bytes"] == 1000 and a["output_bytes"] == 77 and a["spill_bytes"] == 7
    assert a["shuffle_write_bytes"] == 10 and a["shuffle_read_bytes"] == 10
    assert a["failed_tasks"] == 1 and a["gc_s"] == 0.5
    assert a["collect_jobs"] == 1 and a["kernel_rows"] == 30
    assert b["jobs"] == 0 and b["job_s"] == 0 and b["driver_s"] == b["wall_s"]


def test_event_log_reader_reads_both_layouts(tmp: Path) -> None:
    from eventlog import read_events

    flat, rolling = tmp / "flat", tmp / "rolling" / "eventlog_v2_local-1"
    flat.mkdir()
    rolling.mkdir(parents=True)
    (flat / "local-1").write_text('{"Event": "A"}\n{"Event": "B"}\n')
    (rolling / "appstatus_local-1").write_text("")
    for n, name in ((10, "C"), (2, "B"), (1, "A")):
        (rolling / f"events_{n}_local-1").write_text(json.dumps({"Event": name}) + "\n")
    assert [e["Event"] for e in read_events(flat)] == ["A", "B"]
    assert [e["Event"] for e in read_events(tmp / "rolling")] == ["A", "B", "C"]


def test_benchmark_json_lists_what_run_reports() -> None:
    import run
    import workloads

    for w in workloads.WORKLOADS.values():
        assert w.throughput_kind in run.STEAL_FACTOR and w.latency_kind in run.STEAL_FACTOR

    spec = json.loads((run.REPO / "BENCHMARK.json").read_text())
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(run.per_layer_units())
    assert all(m["unit"] == run.END_TO_END[m["name"]] for m in spec["end_to_end"])
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_steal_correction_refuses_out_of_range_steal() -> None:
    import run

    calm = [{"wall": 10.0, "steal": 1.0}, {"wall": 20.0, "steal": 0.0}]
    assert run.corrected(calm, "setup") == [10.0 - run.STEAL_FACTOR["setup"], 20.0]
    busy = [{"wall": 10.0, "steal": 10.0 * run.MAX_STEAL_SHARE + 0.1}]
    try:
        run.corrected(busy, "setup")
    except RuntimeError as e:
        assert "too busy" in str(e)
    else:
        raise AssertionError("steal beyond the fitted range was corrected")


class _FakeSpark:
    pass


def test_corrupted_outputs_count_as_failures(tmp: Path) -> None:
    """A dropped document, a document written twice and a wrong
    neighbour each fail the check, and the failure reaches the run's
    failed count."""
    import run
    import workloads

    docs = workloads.UsnvcDocs(tmp, seed=1)
    docs.units = 80
    docs.generate()
    plan = docs.plan
    out = tmp / "out"
    (out / "quarantine").mkdir(parents=True)
    (out / "docs").mkdir()
    lines = [json.dumps({"source_data": {"ancestors": None, "children": []}, "row_id": "0"})]
    lines += [
        json.dumps({"source_data": {"ancestors": chain}, "row_id": str(i)})
        for i, chain in zip(plan["ids"], plan["ancestors"])
    ]
    (out / "docs" / "part-0").write_text("\n".join(lines) + "\n")
    result = {"out": out}
    docs.check(result)
    (out / "docs" / "part-0").write_text("\n".join(lines[:-1]) + "\n")
    _expect_check_failure(docs, result)
    (out / "docs" / "part-0").write_text("\n".join(lines[:-1] + [lines[1]]) + "\n")  # one unit twice
    _expect_check_failure(docs, result)

    corpus = workloads.CorpusPrep(tmp, seed=1)
    corpus.docs = 300
    corpus.generate()
    cplan = corpus.plan
    q = gen.queries(1, 0, corpus.n_queries, corpus.dim)
    expect = gen.reference_topk(cplan["valid_ids"], cplan["valid_matrix"], q, corpus.k)
    rows = [
        {"query_id": workloads.QUERY_ID0 + j, "neighbor_id": n, "rank": r + 1}
        for j, ids in enumerate(expect) for r, n in enumerate(ids)
    ]
    p = cplan["planted"]
    manifest = {
        "input_docs": cplan["docs"],
        "stages": {s: {"docs": p[s]} for s in ("quality", "exact_dup", "near_dup", "quota", "kept")},
        "split": {"train": p["kept"] - 5, "eval": 5},
        "train_shards": {0: {"docs": p["kept"] - 5}},
    }
    good = {"manifest": manifest, "answers": [(q, rows)]}
    corpus.check(good)
    bad_rows = [dict(r, neighbor_id=r["neighbor_id"] + 1) if i == 3 else r for i, r in enumerate(rows)]
    wrong = dict(good, answers=[(q, rows), (q, bad_rows)])
    _expect_check_failure(corpus, wrong)

    class Corrupting:
        def run(self, spark, tracer, pass_id):
            return wrong

        check = corpus.check

        def cleanup(self, result):
            pass

    tally = {"attempted": 0, "failed": 0, "failures": []}
    run._attempt(Corrupting(), _FakeSpark(), run.Tracer(), 0, tally)
    assert tally["attempted"] == 2 and tally["failed"] == 1, tally


def _expect_check_failure(workload, result) -> None:
    from workloads import CheckFailed

    try:
        workload.check(result)
    except CheckFailed:
        return
    raise AssertionError("corrupted output passed the check")


def test_real_run_with_dropped_document_fails(tmp: Path) -> None:
    """End to end on the program: drop one written document after the
    sink returns and the run's error rate is no longer zero."""
    import run
    import workloads

    run._pin_environment(tmp)
    sys.path.insert(0, str(run.REPO))
    docs = workloads.UsnvcDocs(tmp, seed=2)
    docs.units = 80
    docs.generate()
    real_run = docs.run

    def dropping_run(spark, tracer, pass_id):
        result = real_run(spark, tracer, pass_id)
        if pass_id == 0:
            part = max((result["out"] / "docs").glob("part-*"), key=lambda f: f.stat().st_size)
            part.write_text("".join(part.read_text().splitlines(keepends=True)[1:]))
        return result

    docs.run = dropping_run
    tally = {"attempted": 0, "failed": 0, "failures": []}
    session, tracer, _ = run._set_up("local[2]")
    try:
        run._measure(docs, session.spark, tracer, 0, tally)
    finally:
        session.stop()
    assert tally["attempted"] == 2 and tally["failed"] == 1, tally
    assert "documents, expected 81" in tally["failures"][0], tally["failures"]


def main() -> int:
    tests = [
        test_usnvc_export_is_seeded_and_shaped,
        test_corpus_plants_what_it_reports,
        test_reference_topk_orders_by_cosine_then_id,
        test_event_log_reader_attributes_jobs_to_spans,
        test_event_log_reader_reads_both_layouts,
        test_benchmark_json_lists_what_run_reports,
        test_steal_correction_refuses_out_of_range_steal,
        test_corrupted_outputs_count_as_failures,
    ]
    if "--spark" in sys.argv[1:]:
        tests.append(test_real_run_with_dropped_document_fails)
    from run import WORK

    for test in tests:
        WORK.mkdir(exist_ok=True)
        tmp = Path(tempfile.mkdtemp(prefix="selftest-", dir=WORK))
        try:
            if test.__code__.co_argcount:
                test(tmp)
            else:
                test()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            with contextlib.suppress(OSError):
                WORK.rmdir()
        print("ok", test.__name__)
    return 0


if __name__ == "__main__":
    sys.exit(main())

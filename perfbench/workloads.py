"""The benchmark workloads.

Each workload generates its inputs from the seed, runs closed-loop
operations (the next starts only after the last returns) and checks
every operation's output against what the generator planted. Calls
into the program go through ``tracer.span`` so a traced run can
attribute Spark jobs to the module called.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from pathlib import Path

import gen

RUN_TIMESTAMP = "2026-01-01T00:00:00"
QUERY_ID0 = 10**9  # probe ids, disjoint from doc ids so no probe is its own neighbour


def steal_s() -> float:
    """CPU time the hypervisor has given to other guests so far, in
    seconds per CPU of this machine (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        lines = f.read().splitlines()
    ncpu = sum(1 for line in lines if line.startswith("cpu") and line[3].isdigit())
    return int(lines[0].split()[8]) / os.sysconf("SC_CLK_TCK") / ncpu


class Timer:
    """Wall time and CPU steal of a ``with`` block."""

    def __enter__(self) -> "Timer":
        self.t0, self.steal0 = time.perf_counter(), steal_s()
        return self

    def __exit__(self, *exc) -> None:
        self.wall, self.steal = time.perf_counter() - self.t0, steal_s() - self.steal0

    def sample(self) -> dict:
        return {"wall": self.wall, "steal": self.steal}


class CheckFailed(Exception):
    """An operation's output disagrees with the planted expectation."""


def _require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


class UsnvcDocs:
    """The paper's path: export → silver → documents → JSONL sink. One
    operation is both the throughput and the latency sample."""

    name = "usnvc_docs"
    throughput_kind = latency_kind = "usnvc_docs.operation"
    units = 500
    sample = 200  # documents whose ancestor chain is checked per pass

    def __init__(self, work: Path, seed: int):
        self.work, self.seed = work, seed

    def generate(self) -> dict:
        self.plan = gen.usnvc_export(self.work / "export", self.units, self.seed)
        return {k: v for k, v in self.plan.items() if k not in ("ids", "ancestors")}

    def run(self, spark, tracer, pass_id: int) -> dict:
        from pipeline_usnvc_spark.usnvc.docs import build_documents
        from pipeline_usnvc_spark.usnvc.ingest import build_silver, read_export
        from pipeline_usnvc_spark.usnvc.ledger import write_documents

        out = self.work / "out"
        with Timer() as t:
            with tracer.span("usnvc.ingest.read_export", pass_id):
                tables = read_export(spark, str(self.work / "export"))
            with tracer.span("usnvc.ingest.build_silver", pass_id):
                silver = build_silver(tables)
            with tracer.span("usnvc.docs.build_documents", pass_id):
                docs = build_documents(silver, RUN_TIMESTAMP)
            with tracer.span("usnvc.ledger.write_documents", pass_id):
                write_documents(docs, str(out / "docs"), str(out / "quarantine"))
        return {
            "wall_s": t.wall, "throughput": t.sample(), "latency": [t.sample()],
            "docs": self.units, "out_bytes": gen.dir_bytes(out / "docs"), "out": out,
        }

    def check(self, result: dict) -> None:
        out, plan = result["out"], self.plan
        docs: dict[str, dict] = {}
        lines = 0
        for f in sorted((out / "docs").glob("part-*")):
            with open(f, encoding="utf-8") as fh:
                for line in fh:
                    rec = json.loads(line)
                    _require("row_id" in rec, "document line without row_id")
                    docs[rec["row_id"]] = rec
                    lines += 1
        _require(lines == plan["units"] + 1, f"{lines} documents, expected {plan['units'] + 1}")
        _require(len(docs) == lines, f"{lines} documents but {len(docs)} distinct row_ids")
        quarantined = sum(os.path.getsize(f) for f in (out / "quarantine").glob("part-*"))
        _require(quarantined == 0, f"quarantine holds {quarantined} bytes")
        for i in range(0, plan["units"], max(1, plan["units"] // self.sample)):
            rid = str(plan["ids"][i])
            _require(rid in docs, f"document {rid} missing")
            got = docs[rid]["source_data"]["ancestors"]
            _require(got == plan["ancestors"][i], f"document {rid}: ancestors {got} != {plan['ancestors'][i]}")

    def cleanup(self, result: dict) -> None:
        shutil.rmtree(result["out"], ignore_errors=True)


class CorpusPrep:
    """The LLM-data path: curate → decontaminated split → shard writer,
    then exact top-k requests over the corpus embeddings, one after the
    other. Curation is the throughput sample, each request a latency
    sample."""

    name = "corpus_prep"
    throughput_kind = "corpus_prep.prepare"
    latency_kind = "corpus_prep.request"
    docs = 600
    dim = 64
    n_queries = 16
    k = 10
    requests = 6

    def __init__(self, work: Path, seed: int):
        self.work, self.seed = work, seed

    def generate(self) -> dict:
        self.plan = gen.corpus(self.work / "corpus", self.docs, self.seed, dim=self.dim)
        return {k: v for k, v in self.plan.items() if k not in ("valid_ids", "valid_matrix")}

    def run(self, spark, tracer, pass_id: int) -> dict:
        from pipeline_usnvc_spark.operators.similarity import brute_force_topk
        from pipeline_usnvc_spark.pipelines.prepare import prepare_training_data

        out = self.work / "out"
        t0 = time.perf_counter()
        with Timer() as prep, tracer.span("pipelines.prepare.prepare_training_data", pass_id):
            corpus = spark.read.parquet(str(self.work / "corpus"))
            manifest = prepare_training_data(
                corpus.select("doc_id", "text", "source"), str(out), quota=self.plan["quota"]
            )
        latency, answers = [], []
        for r in range(self.requests):
            q = gen.queries(self.seed, pass_id * self.requests + r, self.n_queries, self.dim)
            with Timer() as t, tracer.span("operators.similarity.brute_force_topk", f"{pass_id}.{r}"):
                probes = spark.createDataFrame(
                    [(QUERY_ID0 + j, q[j].tolist()) for j in range(self.n_queries)],
                    "doc_id bigint, embedding array<float>",
                )
                rows = brute_force_topk(
                    corpus.select("doc_id", "embedding"), probes, k=self.k, id_col="doc_id"
                ).collect()
            latency.append(t.sample())
            answers.append((q, rows))
        return {
            "wall_s": time.perf_counter() - t0, "throughput": prep.sample(), "latency": latency,
            "docs": self.docs, "out_bytes": gen.dir_bytes(out), "out": out, "manifest": manifest,
            "answers": answers,
        }

    def check(self, result: dict) -> None:
        plan = self.plan
        planted = plan["planted"]
        m = result["manifest"]
        _require(m["input_docs"] == plan["docs"], f"input_docs {m['input_docs']} != {plan['docs']}")
        for stage in ("quality", "exact_dup", "near_dup", "quota", "kept"):
            got = m["stages"].get(stage, {}).get("docs", 0)
            _require(got == planted[stage], f"stage {stage}: {got} docs, planted {planted[stage]}")
        split = m["split"]
        labelled = split.get("train", 0) + split.get("eval", 0) + split.get("dropped_contaminated", 0)
        _require(labelled == planted["kept"], f"train+eval+contaminated {labelled} != kept {planted['kept']}")
        shards = sum(v["docs"] for v in m["train_shards"].values())
        _require(shards == split.get("train", 0), f"shards hold {shards} docs, train is {split.get('train')}")

        for r, (queries, rows) in enumerate(result["answers"]):
            expect = gen.reference_topk(plan["valid_ids"], plan["valid_matrix"], queries, self.k)
            got: dict[int, list] = {}
            for row in rows:
                got.setdefault(row["query_id"] - QUERY_ID0, []).append((row["rank"], row["neighbor_id"]))
            _require(sorted(got) == list(range(self.n_queries)), f"request {r}: queries answered: {sorted(got)}")
            for j, ids in enumerate(expect):
                ranked = sorted(got[j])
                _require([n for _, n in ranked] == ids, f"request {r}, query {j}: neighbours {ranked} != {ids}")
                _require([rk for rk, _ in ranked] == list(range(1, self.k + 1)), f"request {r}, query {j}: ranks {ranked}")

    def cleanup(self, result: dict) -> None:
        shutil.rmtree(result["out"], ignore_errors=True)


WORKLOADS = {w.name: w for w in (UsnvcDocs, CorpusPrep)}

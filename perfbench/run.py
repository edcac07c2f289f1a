"""Benchmark entry point: one workload, one fresh process.

    python3 perfbench/run.py --workload usnvc_docs --seed 1 --seconds 1 --trace 0

Run from the repository root. Prints one JSON record of the run (inputs,
environment, every sample) and, as the last line, the result object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones
(see README.md). Exits non-zero without a result when the program is
missing, when no operation completes, or when CPU steal is beyond the
range the steal correction was fitted on.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path.insert(0, str(HERE))

DRIVER_MEMORY = "1g"
# Wall time lost to other guests of the VM per second of CPU steal
# (steal seconds summed over CPUs / CPU count), for each kind of timed
# sample: busy neighbours take CPU away and also slow the CPU this
# guest does get. Least-squares slopes of wall time on steal over the
# samples of each kind, with steal up to about 30% of the wall time;
# README.md shows the fits. A reported time is wall - factor * steal;
# the record keeps the raw wall time and steal of every sample.
STEAL_FACTOR = {
    "setup": 2.0,
    "usnvc_docs.operation": 2.2,
    "corpus_prep.prepare": 1.7,
    "corpus_prep.request": 1.8,
}
# A run whose samples of one kind lost more than this share of their
# wall time to steal is refused: beyond the range the factors were
# fitted on, the correction would remove over half of the time.
MAX_STEAL_SHARE = 0.3
SETUPS = 3  # set-ups per end-to-end run; setup_s is their median
WORK = REPO / ".perfbench_work"

SPANS = (
    "usnvc.ingest.read_export",
    "usnvc.ingest.build_silver",
    "usnvc.docs.build_documents",
    "usnvc.ledger.write_documents",
    "pipelines.prepare.prepare_training_data",
    "operators.similarity.brute_force_topk",
)
END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "1/s",
    "latency_p50_s": "s",
    "out_bytes_per_in_byte": "ratio",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    from eventlog import SPAN_METRICS

    units = {}
    for span in SPANS:
        for m in SPAN_METRICS:
            units[f"{span}.{m}"] = "s" if m.endswith("_s") else "bytes" if m.endswith("_bytes") else "count"
    units["operators.similarity.brute_force_topk.candidates_per_result"] = "ratio"
    units["pipelines.prepare.prepare_training_data.collect_jobs"] = "count"
    units["tracing_overhead"] = "s"
    return units


class Tracer:
    """Span recorder. Enabled, it tags the Spark jobs each span starts
    with the job group ``<span>|<pass>`` and records the span's epoch
    interval; disabled, it does nothing."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list = []

    @contextlib.contextmanager
    def span(self, name: str, pass_id: int):
        if self.sc is None:
            yield
            return
        from eventlog import Span

        self.sc.setJobGroup(f"{name}|{pass_id}", name)
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(name, pass_id, start, time.time()))
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)


def _hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _reset_hwm(pid: int | str) -> None:
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def _children(pid: int) -> list[int]:
    kids = []
    with contextlib.suppress(OSError):
        for task in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{task}/children") as f:
                kids += [int(x) for x in f.read().split()]
    return kids


def _wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            with contextlib.suppress(OSError):
                os.kill(pid, 9)


class Session:
    """A SparkSession on its own, freshly launched JVM, built through
    the program's ``session.get_spark`` with only the master set."""

    def __init__(self, master: str, event_dir: Path | None = None):
        from pipeline_usnvc_spark.session import get_spark

        extra = None
        if event_dir is not None:
            event_dir.mkdir(parents=True, exist_ok=True)
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": event_dir.as_uri(),
            }
        self.event_dir = event_dir
        self.spark = get_spark(app_name="perfbench", master=master, extra_conf=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        kids = _children(self.jvm_pid)
        try:
            self.spark.stop()
        finally:
            if gateway is not None:
                gateway.shutdown()
                gateway.proc.stdin.close()
                try:
                    gateway.proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    gateway.proc.kill()
                    gateway.proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
            _wait_gone(kids, 10)

    def event_log(self) -> list[dict]:
        """The events of this (stopped) session's application."""
        from eventlog import read_events

        return read_events(self.event_dir)


def _pin_environment(work: Path) -> None:
    """Fix what the program reads from the environment, and keep every
    scratch file of Python, Spark and the JVM inside the work dir."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    for var in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_CHECKPOINT_DIR", "SPARK_GRAFT_TRANSFERTO"):
        os.environ.pop(var, None)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # every JVM, spark-submit's launcher included: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = str(tmp)


def _environment(master: str) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "master": master,
        "driver_memory": DRIVER_MEMORY,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "platform": platform.platform(),
    }


def corrected(samples: list[dict], kind: str) -> list[float]:
    """Steal-corrected times of ``samples`` (``{"wall", "steal"}``) of
    one kind; refuses them when steal lies outside the fitted range."""
    wall = sum(x["wall"] for x in samples)
    steal = sum(x["steal"] for x in samples)
    if steal > MAX_STEAL_SHARE * wall:
        raise RuntimeError(
            f"{kind} samples: CPU steal took {steal / wall:.0%} of the wall time, more than the "
            f"{MAX_STEAL_SHARE:.0%} the steal correction allows; the machine is too busy to measure"
        )
    return [x["wall"] - STEAL_FACTOR[kind] * x["steal"] for x in samples]


def _attempt(workload, spark, tracer, pass_id: int, tally: dict) -> dict | None:
    """Run one operation and check its output; count both in ``tally``."""
    from workloads import CheckFailed

    tally["attempted"] += 1
    try:
        result = workload.run(spark, tracer, pass_id)
    except Exception:
        tally["failed"] += 1
        tally["failures"].append(f"op {pass_id}: {traceback.format_exc(limit=4)}")
        return None
    tally["attempted"] += 1
    try:
        workload.check(result)
    except CheckFailed as e:
        tally["failed"] += 1
        tally["failures"].append(f"op {pass_id}: check: {e}")
    except Exception:  # unreadable output fails the check too
        tally["failed"] += 1
        tally["failures"].append(f"op {pass_id}: check: {traceback.format_exc(limit=2)}")
    workload.cleanup(result)
    return result


def _set_up(master: str, event_dir: Path | None = None):
    """One set-up: launch the JVM and build the session."""
    from workloads import Timer

    with Timer() as t:
        session = Session(master, event_dir)
    tracer = Tracer(session.spark.sparkContext if event_dir is not None else None)
    return session, tracer, t.sample()


def _measure(workload, spark, tracer, seconds: float, tally: dict) -> list[dict]:
    """Closed loop: run operations until ``seconds`` have passed, at
    least one; return the timings of those that completed."""
    ops = []
    deadline = time.perf_counter() + seconds
    pass_id = 0
    while pass_id == 0 or time.perf_counter() < deadline:
        result = _attempt(workload, spark, tracer, pass_id, tally)
        if result is not None:
            ops.append({k: result[k] for k in ("wall_s", "docs", "out_bytes", "throughput", "latency")})
        pass_id += 1
    return ops


def end_to_end(workload, master: str, seconds: float, tally: dict, record: dict) -> dict:
    setups = []
    for _ in range(SETUPS - 1):
        session, _, sample = _set_up(master)
        session.stop()
        setups.append(sample)
    session, tracer, sample = _set_up(master)
    setups.append(sample)
    try:
        _reset_hwm(os.getpid())
        _reset_hwm(session.jvm_pid)
        ops = _measure(workload, session.spark, tracer, seconds, tally)
        rss = {"python_kb": _hwm_kb(os.getpid()), "jvm_kb": _hwm_kb(session.jvm_pid)}
    finally:
        session.stop()
    record.update(setups=setups, ops=ops, peak_rss=rss)
    if not ops:
        raise RuntimeError("no operation completed")
    docs_s = corrected([op["throughput"] for op in ops], workload.throughput_kind)
    latency = corrected([x for op in ops for x in op["latency"]], workload.latency_kind)
    return {
        "setup_s": statistics.median(corrected(setups, "setup")),
        "docs_per_s": statistics.median(op["docs"] / t for op, t in zip(ops, docs_s)),
        "latency_p50_s": statistics.median(latency),
        "out_bytes_per_in_byte": statistics.median([op["out_bytes"] for op in ops]) / record["inputs"]["input_bytes"],
        "peak_rss_mb": (rss["python_kb"] + rss["jvm_kb"]) / 1024.0,
    }


def per_layer(workload, master: str, seconds: float, work: Path, tally: dict, record: dict) -> dict:
    from eventlog import SPAN_METRICS, span_metrics

    session, tracer, _ = _set_up(master)
    try:
        untraced = _measure(workload, session.spark, tracer, seconds, tally)
    finally:
        session.stop()
    session, tracer, _ = _set_up(master, work / "events")
    try:
        traced = _measure(workload, session.spark, tracer, seconds, tally)
    finally:
        session.stop()
    per_group, untagged = span_metrics(session.event_log(), tracer.spans)
    record.update(untagged_jobs=untagged, untraced_ops=untraced, traced_ops=traced)
    if not untraced or not traced:
        raise RuntimeError("no operation completed")

    def rows(span: str) -> list[dict]:
        return [per_group[s.group] for s in tracer.spans if s.name == span]

    metrics = {}
    for span in SPANS:
        for m in SPAN_METRICS:
            metrics[f"{span}.{m}"] = statistics.median([r[m] for r in rows(span)]) if rows(span) else 0.0
    topk = rows("operators.similarity.brute_force_topk")
    results_per_request = getattr(workload, "n_queries", 0) * getattr(workload, "k", 0)
    metrics["operators.similarity.brute_force_topk.candidates_per_result"] = (
        statistics.median([r["kernel_rows"] for r in topk]) / results_per_request if topk else 0.0
    )
    prep = rows("pipelines.prepare.prepare_training_data")
    metrics["pipelines.prepare.prepare_training_data.collect_jobs"] = (
        statistics.median([r["collect_jobs"] for r in prep]) if prep else 0.0
    )
    metrics["tracing_overhead"] = statistics.median(op["wall_s"] for op in traced) - statistics.median(
        op["wall_s"] for op in untraced
    )
    return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (REPO / "pipeline_usnvc_spark" / "session.py").is_file():
        print(f"perfbench: no program at {REPO}/pipeline_usnvc_spark", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(REPO))

    work = WORK / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        _pin_environment(work)
        master = f"local[{len(os.sched_getaffinity(0))}]"
        workload = WORKLOADS[args.workload](work, args.seed)
        t0 = time.perf_counter()
        inputs = workload.generate()
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "generate_s": time.perf_counter() - t0,
            "inputs": inputs,
            "environment": _environment(master),
        }
        tally = {"attempted": 0, "failed": 0, "failures": []}
        try:
            if args.trace:
                metrics = per_layer(workload, master, args.seconds, work, tally, record)
                units = per_layer_units()
            else:
                metrics = end_to_end(workload, master, args.seconds, tally, record)
                units = END_TO_END
        finally:
            for f in tally["failures"]:
                print(f"perfbench: failure: {f}", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            WORK.rmdir()
    record.update(error_rate=tally["failed"] / tally["attempted"], failures=tally["failures"][:5])
    print(json.dumps({"record": record}, default=float))
    print(json.dumps({
        "correct": tally["failed"] == 0,
        "attempted": tally["attempted"],
        "failed": tally["failed"],
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

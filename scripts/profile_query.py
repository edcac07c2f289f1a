#!/usr/bin/env python
"""Per-stage profile of named queries via the Spark event log (the UI
is disabled in this sandbox): runs each query once warm + once
profiled through the noop sink, then prints per-stage wall time,
task-time sum, shuffle read/write bytes and row counts, sorted by
stage wall time. For each run it also prints the CPU seconds the JVM's
JIT compiler threads (C1/C2 ``CompilerThread``) spent next to those of
all its other threads, read from ``/proc/<jvm pid>/task/*/stat``: a
cold run that is bound on JIT compilation shows it there.

    python scripts/profile_query.py q206_prepare_corpus [-n extra_reps]
"""

from __future__ import annotations

import gc
import os
import sys
import tempfile
import time
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
os.chdir(REPO)
sys.path.insert(0, str(REPO))

from perfbench.eventlog import read_events  # noqa: E402

_TICK = os.sysconf("SC_CLK_TCK")


def _jvm_cpu(pid: int) -> tuple[float, dict[str, float]]:
    """The JVM's CPU seconds so far: the whole process (exited threads
    included) and each live JIT compiler thread by tid."""

    def cpu(stat: str) -> tuple[str, float]:
        name = stat[stat.index("(") + 1 : stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2 :].split()
        return name, (int(fields[11]) + int(fields[12])) / _TICK  # utime, stime

    _, total = cpu(Path(f"/proc/{pid}/stat").read_text())
    compilers = {}
    for task in Path(f"/proc/{pid}/task").iterdir():
        try:
            name, s = cpu((task / "stat").read_text())
        except (OSError, ValueError):  # the thread ended while listed
            continue
        if "CompilerThre" in name:  # comm is cut at 15 chars
            compilers[task.name] = s
    return total, compilers


def _jit_split(before, after) -> tuple[float, float]:
    """(compiler-thread, other-thread) JVM CPU seconds between two
    ``_jvm_cpu`` readings. A compiler thread that exits in between
    counts under the other threads."""
    jit = sum(s - before[1].get(tid, 0.0) for tid, s in after[1].items())
    return jit, after[0] - before[0] - jit


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    evdir = tempfile.mkdtemp(prefix="spark_events_")

    from pipeline_usnvc_spark.plans import QUERIES
    from pipeline_usnvc_spark.session import get_spark

    spark = get_spark(
        app_name="profile",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) * 2,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": evdir,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    for t in ("lineitem", "orders", "customer", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()

    def _builder(name):
        if name == "flagship_documents":
            from pipeline_usnvc_spark.plans.flagship import customer_documents

            return lambda: customer_documents(spark, sf_dir)
        return lambda: QUERIES[name](spark, sf_dir)

    jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
    marks, jit = {}, {}
    for name in names:
        build = _builder(name)
        cpu0 = _jvm_cpu(jvm_pid)
        sc.setJobDescription(f"warm:{name}")
        build().write.format("noop").mode("overwrite").save()
        gc.collect()
        cpu1 = _jvm_cpu(jvm_pid)
        sc.setJobDescription(f"timed:{name}")
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        marks[name] = time.perf_counter() - t0
        cpu2 = _jvm_cpu(jvm_pid)
        jit[name] = (_jit_split(cpu0, cpu1), _jit_split(cpu1, cpu2))
        sc.setJobDescription(None)
        gc.collect()

    # flush the event log by stopping the session, then read it
    spark.stop()

    # job id -> description; stage id -> job
    job_desc: dict[int, str] = {}
    job_times: dict[int, list] = {}
    stage_job: dict[int, int] = {}
    stage_info: dict[int, dict] = {}
    stage_tasks = defaultdict(lambda: dict(task_ms=0.0, sr=0, sw=0, rows_in=0))
    for e in read_events(Path(evdir)):
        et = e.get("Event")
        if et == "SparkListenerJobStart":
            jid = e["Job ID"]
            job_desc[jid] = (e.get("Properties") or {}).get(
                "spark.job.description", ""
            )
            job_times[jid] = [e.get("Submission Time"), None]
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = jid
        elif et == "SparkListenerJobEnd":
            if e["Job ID"] in job_times:
                job_times[e["Job ID"]][1] = e.get("Completion Time")
        elif et == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            sid = si["Stage ID"]
            sub = si.get("Submission Time")
            comp = si.get("Completion Time")
            stage_info[sid] = dict(
                name=si.get("Stage Name", ""),
                wall_ms=(comp - sub) if sub and comp else 0,
                n_tasks=si.get("Number of Tasks", 0),
            )
        elif et == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            tm = e.get("Task Metrics") or {}
            st = stage_tasks[sid]
            st["task_ms"] += tm.get("Executor Run Time", 0)
            st["sr"] += (tm.get("Shuffle Read Metrics") or {}).get(
                "Remote Bytes Read", 0
            ) + (tm.get("Shuffle Read Metrics") or {}).get("Local Bytes Read", 0)
            st["sw"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st["rows_in"] += (tm.get("Input Metrics") or {}).get(
                "Records Read", 0
            )

    for name in names:
        print(f"\n=== {name}: timed run {marks[name]:.2f}s ===")
        for run, (compiler_s, other_s) in zip(("warm", "timed"), jit[name]):
            print(
                f"  JVM CPU, {run} run: JIT compiler threads {compiler_s:.2f}s, "
                f"other threads {other_s:.2f}s"
            )
        rows = []
        for sid, si in stage_info.items():
            jid = stage_job.get(sid)
            desc = job_desc.get(jid, "")
            if desc != f"timed:{name}":
                continue
            st = stage_tasks[sid]
            rows.append(
                (
                    si["wall_ms"],
                    sid,
                    si["n_tasks"],
                    st["task_ms"],
                    st["sr"],
                    st["sw"],
                    si["name"].split("\n")[0][:70],
                )
            )
        rows.sort(reverse=True)
        tot_wall = sum(r[0] for r in rows)
        n_input = sum(1 for sid, si in stage_info.items()
                      if job_desc.get(stage_job.get(sid)) == f"timed:{name}"
                      and stage_tasks[sid]["rows_in"] > 0)
        rows_in_tot = sum(stage_tasks[sid]["rows_in"] for sid in stage_info
                          if job_desc.get(stage_job.get(sid)) == f"timed:{name}")
        print(f"  input-reading stages: {n_input}, total records read: {rows_in_tot}")
        print(
            f"{len(rows)} stages, sum stage wall {tot_wall/1000:.2f}s "
            f"(jobs: {len({stage_job[r[1]] for r in rows})})"
        )
        for wall, sid, nt, task_ms, sr, sw, nm in rows[:14]:
            print(
                f"  stage {sid:4d} wall {wall/1000:6.2f}s tasks {nt:3d} "
                f"taskcpu {task_ms/1000:6.2f}s sr {sr/1e6:7.2f}MB "
                f"sw {sw/1e6:7.2f}MB  {nm}"
            )
        # job timeline: run time inside jobs vs gaps between them
        jt = sorted(
            (v for j, v in job_times.items()
             if job_desc.get(j) == f"timed:{name}" and v[0] and v[1]),
        )
        if jt:
            inside = sum(b - a for a, b in jt) / 1000
            gaps = [
                (jt[i + 1][0] - jt[i][1]) / 1000 for i in range(len(jt) - 1)
            ]
            print(
                f"  jobs: {len(jt)}, time inside jobs {inside:.2f}s, "
                f"between-job gaps sum {sum(gaps):.2f}s "
                f"(top gaps: {sorted(gaps, reverse=True)[:6]})"
            )


if __name__ == "__main__":
    main()

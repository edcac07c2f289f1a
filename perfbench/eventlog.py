"""Spark event-log reader: per-span layer metrics.

The benchmark tags every Spark job a span triggers with the job group
``<span>|<pass>`` (see ``Tracer`` in run.py). This module reads the
JSON-lines event log the traced session wrote and attributes jobs,
stages, tasks and SQL metrics to those spans.

Per span and pass it computes:
  wall_s            span duration, measured in Python
  job_s             part of the span covered by at least one job
  driver_s          the rest: py4j plan build and gaps between jobs
  jobs, stages, tasks
  scan_bytes, shuffle_write_bytes, shuffle_read_bytes, spill_bytes,
  output_bytes      task metrics summed over the span's tasks
  python_stage_s    duration of stages whose RDD scopes include a
                    Python operator (MapInPandas, ArrowEvalPython,
                    BatchEvalPython)
  single_task_stage_s  duration of stages that ran one task
  failed_tasks, gc_s
  collect_jobs      jobs whose call site is a ``collect``
  kernel_rows       rows out of MapInPandas nodes (SQL metric)
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass
from pathlib import Path

PYTHON_SCOPES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython")

SPAN_METRICS = (
    "wall_s", "job_s", "driver_s", "jobs", "stages", "tasks",
    "scan_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "output_bytes",
    "python_stage_s", "single_task_stage_s", "failed_tasks", "gc_s",
)


@dataclass
class Span:
    name: str
    pass_id: int | str
    start: float  # epoch seconds
    end: float

    @property
    def group(self) -> str:
        return f"{self.name}|{self.pass_id}"


@dataclass
class _Job:
    start: float = 0.0
    end: float = 0.0
    call_site: str = ""


def read_events(log_dir: Path) -> list[dict]:
    """Every event a stopped application logged under ``log_dir``: one
    JSON-lines file per application, or Spark's rolling layout, a
    directory per application holding ``events_<n>_<app>`` parts."""
    files = []
    for path in sorted(log_dir.iterdir()):
        if path.is_dir():
            files += sorted(path.glob("events_*"), key=lambda p: int(p.name.split("_")[1]))
        elif not path.name.startswith("."):
            files.append(path)
    events = []
    for path in files:
        with open(path, encoding="utf-8") as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


def _python_stage(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope and json.loads(scope).get("name") in PYTHON_SCOPES:
            return True
    return False


def _kernel_metric_ids(plan: dict, out: set) -> None:
    if plan.get("nodeName") == "MapInPandas":
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _kernel_metric_ids(child, out)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def span_metrics(events: list[dict], spans: list[Span]) -> tuple[dict[str, dict], int]:
    """Metrics per span group ``<span>|<pass>``, and the number of jobs
    that ran with no span tag."""
    jobs: dict[int, _Job] = {}
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    task_totals: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    task_accums: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    kernel_ids: set = set()

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = _Job(
                start=ev["Submission Time"] / 1000.0,
                call_site=props.get("callSite.short", ""),
            )
            if props.get("spark.jobGroup.id"):
                job_group[jid] = props["spark.jobGroup.id"]
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages[info["Stage ID"]] = {
                "tasks": info.get("Number of Tasks", 0),
                "duration": (info.get("Completion Time", 0) - info.get("Submission Time", 0)) / 1000.0,
                "python": _python_stage(info),
            }
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            tot = task_totals[sid]
            tot["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                tot["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            tot["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            tot["scan_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            tot["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            tot["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            tot["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            tot["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if "Update" in acc:
                    try:
                        task_accums[sid][acc["ID"]] += float(acc["Update"])
                    except (TypeError, ValueError):
                        pass
        elif kind in (
            "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
        ):
            _kernel_metric_ids(ev.get("sparkPlanInfo") or {}, kernel_ids)

    by_group = {s.group: s for s in spans}
    out: dict[str, dict] = {}
    for s in spans:
        out[s.group] = dict.fromkeys(SPAN_METRICS + ("collect_jobs", "kernel_rows"), 0.0)
        out[s.group]["wall_s"] = s.end - s.start
    intervals: dict[str, list] = defaultdict(list)
    untagged = 0
    for jid, job in jobs.items():
        group = job_group.get(jid)
        if group not in by_group:
            untagged += 1
            continue
        row = out[group]
        row["jobs"] += 1
        if job.call_site.startswith("collect at"):
            row["collect_jobs"] += 1
        intervals[group].append((job.start, job.end or job.start))
    for sid, st in stages.items():
        group = job_group.get(stage_job.get(sid))
        if group not in by_group:
            continue
        row = out[group]
        row["stages"] += 1
        if st["python"]:
            row["python_stage_s"] += st["duration"]
        if st["tasks"] == 1:
            row["single_task_stage_s"] += st["duration"]
        for k, v in task_totals.get(sid, {}).items():
            row[k] += v
        row["kernel_rows"] += sum(v for a, v in task_accums.get(sid, {}).items() if a in kernel_ids)
    for group, s in by_group.items():
        row = out[group]
        row["job_s"] = _covered(intervals[group], s.start, s.end)
        row["driver_s"] = row["wall_s"] - row["job_s"]
    return out, untagged

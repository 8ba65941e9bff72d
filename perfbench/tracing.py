"""Per-layer accounting for the traced run.

Sources, all read from outside the program:

* spans the benchmark records around each public call (``Spans``);
* Catalyst phase times from ``QueryExecution.tracker().phases()``;
* job-group ids (``setJobGroup``) that tie Spark jobs to one operation;
* the Spark event log of the traced session (jobs, stages, tasks, SQL
  executions), parsed by ``parse_event_log`` after the session stops;
* the benchmark store's per-task PUT files (``benchstore.read_stats``);
* ``getRDDStorageInfo`` for memoized substrates.

``pipeline_layers`` splits one ``run_pipeline`` call into layers from the
event log: a stage belongs to the upload layer when its RDD scopes include
MapInPandas, to the walk when it scans the listing RDD, and to the
anti-join when it only scans the prior attempt log. Each instant of the
call goes to the highest-ranked layer running then, so the layer self
times and ``other`` add up to the call's wall time exactly.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

PIPELINE_RANK = ("upload.stage_s", "ingest.walk_s", "pending.s", "attempts.commit_s", "report.s")


class Spans:
    """Flat list of (name, op, parent, start, end) records, epoch seconds."""

    def __init__(self):
        self.records: list[dict] = []

    def add(self, name: str, op: str, parent: str | None, start: float, end: float) -> None:
        self.records.append({"name": name, "op": op, "parent": parent,
                             "start": round(start, 6), "end": round(end, 6)})


def catalyst_phases(df) -> dict[str, float]:
    """Force the physical plan and read the planning tracker (seconds)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


def storage_info(spark) -> tuple[float, int]:
    """(MB held, RDD count) of every cached/persisted RDD in the session."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
    return mb, len(infos)


def parse_event_log(lines) -> dict:
    """Group the event log by job group: jobs, their stages with time
    windows and RDD scope names, task metric totals, SQL executions."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    sql: dict[int, dict] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = {"id": ev["Job ID"], "group": props.get("spark.jobGroup.id"),
                   "sql": int(props["spark.sql.execution.id"])
                   if props.get("spark.sql.execution.id") else None,
                   "start": ev["Submission Time"] / 1000.0, "end": None, "stages": []}
            jobs[job["id"]] = job
            for info in ev.get("Stage Infos", []):
                sid = info["Stage ID"]
                job["stages"].append(sid)
                names = set()
                for rdd in info.get("RDD Info", []):
                    names.add(rdd.get("Name", ""))
                    scope = rdd.get("Scope")
                    if scope:
                        names.add(json.loads(scope).get("name", ""))
                stages.setdefault(sid, {"names": names, "start": None, "end": None,
                                        "tasks": 0, "run_s": 0.0, "gc_s": 0.0,
                                        "shuffle_write": 0, "shuffle_read": 0,
                                        "spill": 0})
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            st = stages.get(ev["Stage Info"]["Stage ID"])
            if st is not None and ev["Stage Info"].get("Submission Time"):
                st["start"] = ev["Stage Info"]["Submission Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.get(info["Stage ID"])
            if st is not None:
                st["start"] = st["start"] or info.get("Submission Time", 0) / 1000.0
                st["end"] = info.get("Completion Time", 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            st = stages.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if st is None or not m:
                continue
            st["tasks"] += 1
            st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
            st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            st["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            rd = m.get("Shuffle Read Metrics", {})
            st["shuffle_read"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        elif kind.endswith("SQLExecutionStart"):
            sql[ev["executionId"]] = {"start": ev["time"] / 1000.0, "end": None,
                                      "description": ev.get("description", "")}
        elif kind.endswith("SQLExecutionEnd") and ev["executionId"] in sql:
            sql[ev["executionId"]]["end"] = ev["time"] / 1000.0
    by_group: dict[str, list[dict]] = defaultdict(list)
    for job in jobs.values():
        job["stage_info"] = [dict(stages[s], id=s) for s in job["stages"]
                             if stages[s]["start"] is not None and stages[s]["end"]]
        by_group[job["group"]].append(job)
    return {"groups": dict(by_group), "sql": sql}


def exec_totals(jobs: list[dict]) -> dict[str, float]:
    """Task-metric totals over a job group's executed stages."""
    tot = {"exec.tasks": 0, "exec.executor_run_s": 0.0, "exec.shuffle_write_mb": 0.0,
           "exec.shuffle_read_mb": 0.0, "exec.spill_mb": 0.0, "exec.gc_s": 0.0}
    for job in jobs:
        for st in job["stage_info"]:
            tot["exec.tasks"] += st["tasks"]
            tot["exec.executor_run_s"] += st["run_s"]
            tot["exec.shuffle_write_mb"] += st["shuffle_write"] / 2**20
            tot["exec.shuffle_read_mb"] += st["shuffle_read"] / 2**20
            tot["exec.spill_mb"] += st["spill"] / 2**20
            tot["exec.gc_s"] += st["gc_s"]
    return tot


def _stage_layer(names: set[str]) -> str:
    if "MapInPandas" in names:
        return "upload.stage_s"
    if any("ExistingRDD" in n or n.startswith("PythonRDD") or n == "parallelize" for n in names):
        return "ingest.walk_s"
    return "pending.s"


def pipeline_layers(jobs: list[dict], sql: dict, start: float,
                    end: float) -> tuple[dict, dict, list]:
    """Split one run_pipeline call [start, end] into layer self times.

    The first SQL execution of the call is the attempt-log write: its stages
    are walk / anti-join / upload, and the time from its last stage's end to
    the execution's end is the commit. Later jobs (the report aggregate and
    the manifest count) form the report layer. Returns (self times, counts,
    the layer intervals).
    """
    intervals: list[tuple[float, float, str]] = []
    counts = {"ingest.tasks": 0, "pipeline.jobs": len(jobs), "pipeline.tasks": 0}
    sql_ids = sorted({j["sql"] for j in jobs if j["sql"] is not None})
    write_id = sql_ids[0] if sql_ids else None
    write_start = sql.get(write_id, {}).get("start", start)
    last_write_stage = start
    for job in jobs:
        for st in job["stage_info"]:
            counts["pipeline.tasks"] += st["tasks"]
            if job["sql"] == write_id:
                layer = _stage_layer(st["names"])
                last_write_stage = max(last_write_stage, st["end"])
            elif job["start"] < write_start:
                layer = "pending.s"   # listing the prior attempt log
            else:
                layer = "report.s"
            if layer == "ingest.walk_s":
                counts["ingest.tasks"] += st["tasks"]
            intervals.append((st["start"], st["end"], layer))
        if job["sql"] != write_id and job["start"] >= write_start and job["end"]:
            intervals.append((job["start"], job["end"], "report.s"))
    if write_id is not None and sql.get(write_id, {}).get("end"):
        intervals.append((last_write_stage, sql[write_id]["end"], "attempts.commit_s"))
    return sweep(intervals, start, end, PIPELINE_RANK), counts, intervals


def sweep(intervals: list[tuple[float, float, str]], start: float, end: float,
          rank: tuple[str, ...]) -> dict[str, float]:
    """Give every instant of [start, end] to the best-ranked layer whose
    interval covers it; uncovered time is ``trace.other_s``."""
    cuts = sorted({start, end, *(max(start, min(end, t)) for a, b, _ in intervals for t in (a, b))})
    out = dict.fromkeys(rank, 0.0)
    out["trace.other_s"] = 0.0
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        live = [layer for s, e, layer in intervals if s <= mid < e]
        layer = min(live, key=rank.index) if live else "trace.other_s"
        out[layer] += b - a
    return out


def event_log_lines(log_dir: str, app_id: str):
    """Lines of the app's event log: a single file, or the rolling
    ``eventlog_v2_<app>/events_<n>_<app>`` parts in order."""
    single = os.path.join(log_dir, app_id)
    if os.path.isfile(single):
        parts = [single]
    else:
        d = os.path.join(log_dir, f"eventlog_v2_{app_id}")
        parts = sorted((os.path.join(d, f) for f in os.listdir(d) if f.startswith("events_")),
                       key=lambda p: int(os.path.basename(p).split("_")[1]))
    for part in parts:
        with open(part) as fh:
            yield from fh

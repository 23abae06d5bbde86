"""Spark event-log parser: one row per stage, plus the pipeline and
registry layer metrics the benchmark reports from a traced run.

Reads the uncompressed JSON-lines log a session writes with
``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``:
either one file or a rolled ``eventlog_v2_*`` directory of
``events_<n>_*`` files.  Standard library only.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

_SQL = "org.apache.spark.sql.execution.ui."


def read_events(path: str) -> list[dict]:
    """All events under ``path`` (a log file, a rolled log directory, or
    a directory holding exactly one of either), in write order."""
    if os.path.isdir(path):
        names = sorted(os.listdir(path))
        rolled = [n for n in names if n.startswith("events_")]
        if rolled:
            # events_<n>_<app id>: order by the roll index n
            rolled.sort(key=lambda n: int(n.split("_")[1]))
            files = [os.path.join(path, n) for n in rolled]
        else:
            logs = [n for n in names if not n.startswith(".")]
            if len(logs) != 1:
                raise ValueError(f"expected one event log in {path}, "
                                 f"found {logs}")
            return read_events(os.path.join(path, logs[0]))
    else:
        files = [path]
    events = []
    for name in files:
        with open(name) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


class EventLog:
    """Jobs, stages and SQL driver metrics of one application's log."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[tuple[int, int], dict] = {}
        tasks: dict[tuple[int, int], list[dict]] = defaultdict(list)
        stage_job: dict[int, int] = {}
        metric_names: dict[int, str] = {}
        exec_desc: dict[int, str] = {}
        driver_updates: list[tuple[int, int, int]] = []
        for ev in events:
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                self.jobs[ev["Job ID"]] = {
                    "job_id": ev["Job ID"],
                    "description": props.get("spark.job.description"),
                    "submit_ms": ev["Submission Time"],
                    "end_ms": None,
                }
                # a stage re-listed by a later job is skipped there:
                # it ran in the first job that listed it
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                self.jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                tasks[(ev["Stage ID"], ev["Stage Attempt ID"])].append(ev)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                sql = defaultdict(int)
                for acc in info.get("Accumulables", ()):
                    if not acc["Name"].startswith("internal."):
                        sql[acc["Name"]] += int(acc.get("Value") or 0)
                self.stages[key] = {
                    "stage_id": key[0],
                    "attempt": key[1],
                    "name": info["Stage Name"],
                    "tasks": info["Number of Tasks"],
                    "submit_ms": info.get("Submission Time"),
                    "complete_ms": info.get("Completion Time"),
                    "sql": dict(sql),
                }
            elif kind == _SQL + "SparkListenerSQLExecutionStart":
                exec_desc[ev["executionId"]] = ev.get("description")
                _plan_metric_names(ev["sparkPlanInfo"], metric_names)
            elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                _plan_metric_names(ev["sparkPlanInfo"], metric_names)
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                driver_updates.extend(
                    (ev["executionId"], int(a), int(v))
                    for a, v in ev["accumUpdates"])
        # driver-side SQL metrics (files written, job commit time) by
        # the description of the SQL execution that produced them
        self.driver: dict[str, dict[str, int]] = defaultdict(
            lambda: defaultdict(int))
        for exec_id, acc_id, value in driver_updates:
            name = metric_names.get(acc_id)
            if name is not None:
                self.driver[exec_desc.get(exec_id)][name] += value
        for key, stage in self.stages.items():
            job = self.jobs.get(stage_job.get(key[0]), {})
            stage["job_id"] = job.get("job_id")
            stage["description"] = job.get("description")
            stage.update(_task_totals(tasks.get(key, [])))

    # ``description``: a job description, a set of them, or None for all

    def stage_rows(self, description=None) -> list[dict]:
        """One row per stage attempt, of the jobs run under
        ``description``."""
        want = _descriptions(description)
        return [s for _, s in sorted(self.stages.items())
                if want is None or s["description"] in want]

    def job_rows(self, description=None) -> list[dict]:
        want = _descriptions(description)
        return [j for _, j in sorted(self.jobs.items())
                if want is None or j["description"] in want]

    def driver_metric(self, description, name: str) -> int:
        """A driver-side SQL metric summed over the executions run under
        ``description``."""
        want = _descriptions(description)
        return sum(m.get(name, 0) for d, m in self.driver.items()
                   if want is None or d in want)


def _descriptions(description) -> set | None:
    return {description} if isinstance(description, str) else description


def _plan_metric_names(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", ()):
        out[int(m["accumulatorId"])] = m["name"]
    for child in node.get("children", ()):
        _plan_metric_names(child, out)


_TASK_TOTALS = (
    "run_ms", "cpu_ns", "gc_ms", "spill_disk_bytes", "spill_mem_bytes",
    "peak_exec_mem", "input_bytes", "output_bytes", "shuffle_read_bytes",
    "shuffle_read_records", "shuffle_write_bytes", "shuffle_write_records",
)


def _task_totals(task_events: list[dict]) -> dict:
    tot = dict.fromkeys(_TASK_TOTALS, 0)
    reduce_records = []
    launches = []
    for ev in task_events:
        m = ev.get("Task Metrics") or {}
        launches.append(ev["Task Info"]["Launch Time"])
        tot["run_ms"] += m.get("Executor Run Time", 0)
        tot["cpu_ns"] += m.get("Executor CPU Time", 0)
        tot["gc_ms"] += m.get("JVM GC Time", 0)
        tot["spill_disk_bytes"] += m.get("Disk Bytes Spilled", 0)
        tot["spill_mem_bytes"] += m.get("Memory Bytes Spilled", 0)
        tot["peak_exec_mem"] = max(tot["peak_exec_mem"],
                                   m.get("Peak Execution Memory", 0))
        tot["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        tot["output_bytes"] += (m.get("Output Metrics") or {}).get(
            "Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        read_bytes = sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
        tot["shuffle_read_bytes"] += read_bytes
        tot["shuffle_read_records"] += sr.get("Total Records Read", 0)
        if read_bytes:
            reduce_records.append(sr.get("Total Records Read", 0))
        sw = m.get("Shuffle Write Metrics") or {}
        tot["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        tot["shuffle_write_records"] += sw.get("Shuffle Records Written", 0)
    tot["task_count"] = len(task_events)
    tot["first_launch_ms"] = min(launches) if launches else None
    med = statistics.median(reduce_records) if reduce_records else 0
    tot["reduce_skew"] = (max(reduce_records) / med) if med else None
    return tot


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1000.0


def reconcile(log: EventLog, description, t0_ms: float, t1_ms: float,
              slack_ms: float = 50.0) -> dict:
    """Check that the jobs of a traced pass sit inside its measured wall
    window [t0_ms, t1_ms] and that their stages sit inside their jobs, so
    the stage figures account for time inside the measured pass only.

    Returns ``ok``, ``coverage`` (union of the pass's job intervals ÷
    wall: the share of the pass during which Spark ran a job) and
    ``stage_coverage`` (the same for stage intervals)."""
    jobs = log.job_rows(description)
    stages = [s for s in log.stage_rows(description)
              if s["submit_ms"] is not None]
    wall_s = (t1_ms - t0_ms) / 1000.0
    inside = all(
        j["end_ms"] is not None
        and j["submit_ms"] >= t0_ms - slack_ms
        and j["end_ms"] <= t1_ms + slack_ms for j in jobs)
    job_of = {j["job_id"]: j for j in jobs}
    nested = all(
        s["submit_ms"] >= job_of[s["job_id"]]["submit_ms"] - slack_ms
        and s["complete_ms"] <= job_of[s["job_id"]]["end_ms"] + slack_ms
        for s in stages)
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "coverage": _union_s(
            [(j["submit_ms"], j["end_ms"]) for j in jobs]) / wall_s,
        "stage_coverage": _union_s(
            [(s["submit_ms"], s["complete_ms"]) for s in stages]) / wall_s,
        "ok": bool(jobs) and inside and nested,
    }


def _py_stage(stage: dict) -> bool:
    return "time to run Python workers" in stage["sql"]


def pipeline_metrics(log: EventLog, description, corpus_bytes: int) -> dict:
    """``pipeline.*`` layer metrics of the jobs run under ``description``."""
    stages = log.stage_rows(description)
    py = [s for s in stages if _py_stage(s)]
    skews = [s["reduce_skew"] for s in py if s["reduce_skew"] is not None]

    def sql(name: str) -> int:
        return sum(s["sql"].get(name, 0) for s in stages)

    return {
        "pipeline.jobs": len(log.job_rows(description)),
        "pipeline.scan.read_ratio": log.driver_metric(
            description, "size of files read") / corpus_bytes,
        "pipeline.exchange.shuffle_write_bytes":
            sum(s["shuffle_write_bytes"] for s in stages),
        "pipeline.exchange.skew": max(skews) if skews else 1.0,
        "pipeline.udf.task_s": sum(s["run_ms"] for s in py) / 1000.0,
        "pipeline.udf.py_s": sql("time to run Python workers") / 1000.0,
        "pipeline.udf.bytes_to_py": sql("data sent to Python workers"),
        "pipeline.udf.bytes_from_py": sql("data returned from Python workers"),
        "pipeline.write.s": (sql("task commit time") + log.driver_metric(
            description, "job commit time")) / 1000.0,
        "pipeline.write.bytes": sum(s["output_bytes"] for s in stages),
        "pipeline.write.files":
            log.driver_metric(description, "number of written files"),
        "pipeline.gc_s": sum(s["gc_ms"] for s in stages) / 1000.0,
        "pipeline.spill_bytes": sum(s["spill_disk_bytes"] for s in stages),
    }


def registry_metrics(log: EventLog, key_start_ms: dict[str, float]) -> dict:
    """``registry.*`` and per-key ``query.<key>.shuffle_write_bytes``
    metrics; jobs are attributed to a key by their job description.

    ``key_start_ms``: key → wall-clock ms when the harness started it;
    the delay to the key's first task launch is its fixed overhead."""
    keys = set(key_start_ms)
    stages = log.stage_rows(keys)
    delay_ms = 0.0
    per_key_shuffle = defaultdict(int)
    for key, t0 in key_start_ms.items():
        launches = [s["first_launch_ms"] for s in log.stage_rows(key)
                    if s["first_launch_ms"] is not None]
        if launches:
            delay_ms += min(launches) - t0
    for s in stages:
        per_key_shuffle[s["description"]] += s["shuffle_write_bytes"]
    out = {
        "registry.jobs": len(log.job_rows(keys)),
        "registry.single_task_stages": sum(
            1 for s in stages if s["tasks"] == 1 and s["shuffle_read_bytes"]),
        "registry.first_task_delay_s": delay_ms / 1000.0,
        "registry.shuffle_write_bytes":
            sum(s["shuffle_write_bytes"] for s in stages),
        "registry.spill_bytes": sum(s["spill_disk_bytes"] for s in stages),
        "registry.gc_s": sum(s["gc_ms"] for s in stages) / 1000.0,
    }
    for key in keys:
        out[f"query.{key}.shuffle_write_bytes"] = per_key_shuffle[key]
    return out

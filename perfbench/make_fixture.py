"""Regenerate the event-log fixture test_eventlog.py reads.

    python3 perfbench/make_fixture.py

Runs a warm-up job and a two-chunk run_extraction over 100 generated
pages at local[2] with the event log on, then keeps only the events and
fields eventlog.py reads (job/stage/task ends, SQL plan metric ids,
driver metric updates) and drops paths and environment, so the fixture
is small and holds nothing of the machine that made it.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

OUT = os.path.join(HERE, "fixtures", "eventlog_extract")
KEEP = {
    "SparkListenerJobStart", "SparkListenerJobEnd",
    "SparkListenerStageCompleted", "SparkListenerTaskEnd",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
    "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
}


def _plan(node: dict) -> dict:
    return {"nodeName": node["nodeName"],
            "metrics": [{"name": m["name"], "accumulatorId": m["accumulatorId"]}
                        for m in node.get("metrics", ())],
            "children": [_plan(c) for c in node.get("children", ())]}


def _slim(ev: dict) -> dict:
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        desc = (ev.get("Properties") or {}).get("spark.job.description")
        return {"Event": kind, "Job ID": ev["Job ID"],
                "Submission Time": ev["Submission Time"],
                "Stage IDs": ev["Stage IDs"],
                "Properties": {"spark.job.description": desc}}
    if kind == "SparkListenerStageCompleted":
        info = {k: v for k, v in ev["Stage Info"].items()
                if k not in ("RDD Info", "Details", "Parent IDs")}
        info["Stage Name"] = info["Stage Name"].split(" at ")[0]
        info["Accumulables"] = [{"Name": a["Name"], "Value": a.get("Value")}
                                for a in info.get("Accumulables", ())]
        return {"Event": kind, "Stage Info": info}
    if kind == "SparkListenerTaskEnd":
        return {"Event": kind, "Stage ID": ev["Stage ID"],
                "Stage Attempt ID": ev["Stage Attempt ID"],
                "Task Info": {"Launch Time": ev["Task Info"]["Launch Time"],
                              "Finish Time": ev["Task Info"]["Finish Time"]},
                "Task Metrics": ev.get("Task Metrics")}
    if kind.endswith("SQLExecutionStart"):
        return {"Event": kind, "executionId": ev["executionId"],
                "description": ev.get("description"),
                "sparkPlanInfo": _plan(ev["sparkPlanInfo"])}
    if kind.endswith("SQLAdaptiveExecutionUpdate"):
        return {"Event": kind, "executionId": ev["executionId"],
                "sparkPlanInfo": _plan(ev["sparkPlanInfo"])}
    return ev


def main() -> None:
    from pyspark.sql import SparkSession

    from ocrd_calamari_spark.config import ExtractConfig
    from ocrd_calamari_spark.gen import gen_pages, write_pages_parquet
    from ocrd_calamari_spark.pipeline import run_extraction

    work = tempfile.mkdtemp(prefix="perfbench_fixture_")
    try:
        logs = os.path.join(work, "log")
        os.makedirs(logs)
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.ui.enabled", "false")
                 .config("spark.sql.shuffle.partitions", "4")
                 .config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.dir", logs)
                 .getOrCreate())
        pages = gen_pages(100, seed=5)
        src = os.path.join(work, "src")
        os.makedirs(src)
        for i in range(2):
            write_pages_parquet(pages.iloc[i::2],
                                os.path.join(src, f"part-{i}.parquet"))
        sc = spark.sparkContext
        sc.setJobDescription("warmup")
        spark.read.parquet(src).count()
        sc.setJobDescription("extract_block")
        run_extraction(spark, src, os.path.join(work, "out"), ExtractConfig(),
                       n_buckets=4, n_chunks=2)
        spark.stop()
        (app,) = os.listdir(logs)
        events = []
        for name in sorted(os.listdir(os.path.join(logs, app))):
            if name.startswith("events_"):
                with open(os.path.join(logs, app, name)) as f:
                    events += [json.loads(line) for line in f]
        shutil.rmtree(OUT, ignore_errors=True)
        os.makedirs(OUT)
        with open(os.path.join(OUT, "events_1_local-fixture"), "w") as f:
            for ev in events:
                if ev["Event"] in KEEP:
                    f.write(json.dumps(_slim(ev)) + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

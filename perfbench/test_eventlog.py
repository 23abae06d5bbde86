"""Event-log parser on the committed fixture (perfbench/make_fixture.py):
a "warmup" job, then a two-chunk run_extraction under "extract_block".

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_extract")


@pytest.fixture(scope="module")
def log():
    return eventlog.EventLog(eventlog.read_events(FIXTURE))


def _window(log, description):
    jobs = log.job_rows(description)
    return (min(j["submit_ms"] for j in jobs), max(j["end_ms"] for j in jobs))


def test_one_row_per_stage(log):
    rows = log.stage_rows()
    assert len(rows) == len({(r["stage_id"], r["attempt"]) for r in rows})
    assert {r["description"] for r in rows} == {"warmup", "extract_block"}
    for r in rows:
        assert r["task_count"] == r["tasks"]
        assert r["submit_ms"] <= r["first_launch_ms"] <= r["complete_ms"]


def test_pipeline_metrics_add_up(log):
    stages = log.stage_rows("extract_block")
    m = eventlog.pipeline_metrics(log, "extract_block", corpus_bytes=1)
    # one write job and one count scan per chunk, at least
    assert m["pipeline.jobs"] >= 4
    assert m["pipeline.jobs"] == len(log.job_rows("extract_block"))
    py = [s for s in stages if "time to run Python workers" in s["sql"]]
    assert len(py) >= 2  # one mapInPandas stage per chunk
    assert m["pipeline.udf.bytes_to_py"] == sum(
        s["sql"]["data sent to Python workers"] for s in py) > 0
    assert m["pipeline.udf.bytes_from_py"] > 0
    assert m["pipeline.udf.task_s"] >= m["pipeline.udf.py_s"] > 0
    assert m["pipeline.write.files"] >= 2
    assert m["pipeline.write.bytes"] > 0
    # each chunk re-scans the whole corpus: more bytes read than one scan
    one_scan = log.driver_metric("warmup", "size of files read")
    assert one_scan > 0
    assert m["pipeline.scan.read_ratio"] > 2 * one_scan
    assert m["pipeline.exchange.shuffle_write_bytes"] == sum(
        s["shuffle_write_bytes"] for s in stages)
    assert m["pipeline.exchange.skew"] >= 1.0


def test_warmup_is_not_counted(log):
    both = eventlog.pipeline_metrics(
        log, {"warmup", "extract_block"}, corpus_bytes=1)
    alone = eventlog.pipeline_metrics(log, "extract_block", corpus_bytes=1)
    assert both["pipeline.jobs"] > alone["pipeline.jobs"]


def test_reconcile_inside_window(log):
    t0, t1 = _window(log, "extract_block")
    rec = eventlog.reconcile(log, "extract_block", t0, t1)
    assert rec["ok"]
    assert rec["stage_coverage"] <= rec["coverage"] <= 1.0
    assert rec["coverage"] > 0.5


def test_reconcile_rejects_a_window_that_misses_jobs(log):
    t0, t1 = _window(log, "extract_block")
    assert not eventlog.reconcile(log, "extract_block", t0 + 1000, t1)["ok"]
    assert not eventlog.reconcile(log, "extract_block", t0, t1 - 1000)["ok"]
    assert not eventlog.reconcile(log, "no such job", t0, t1)["ok"]


def test_registry_metrics_by_key(log):
    t0, _ = _window(log, "extract_block")
    m = eventlog.registry_metrics(log, {"extract_block": t0})
    first = min(s["first_launch_ms"] for s in log.stage_rows("extract_block"))
    assert m["registry.first_task_delay_s"] == pytest.approx((first - t0) / 1000)
    assert m["registry.jobs"] == len(log.job_rows("extract_block"))
    assert m["query.extract_block.shuffle_write_bytes"] == \
        m["registry.shuffle_write_bytes"] > 0


def test_rolled_files_are_read_in_roll_order(tmp_path):
    for n in (10, 2):
        (tmp_path / f"events_{n}_app").write_text(
            json.dumps({"Event": "E", "n": n}) + "\n")
    assert [e["n"] for e in eventlog.read_events(str(tmp_path))] == [2, 10]

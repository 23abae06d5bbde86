"""Repository benchmark: two workloads at local[4], outputs checked.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root.  Workloads (inputs generated from --seed):

  extract_block      pipeline.run_extraction at block level (chunks,
                     zstd parquet, manifest commits) over a gen_pages
                     corpus in several parquet files, with 1 MB pages.
  registry_headline  a subset of bench.HEADLINE registry keys over
                     seeded TPC-H-style tables (perfbench/tables.py),
                     each key once per pass through the noop sink.

--trace 0 prints the end-to-end metrics; --trace 1 runs one traced pass
(Spark event log on, kernel spans from a single-process re-run) and
prints the per-layer metrics.  Every run checks the program's outputs
against an oracle: the in-process kernel for extract_block, each key's
DuckDB twin for the registry.  The last stdout line is one JSON
object {"correct", "attempted", "failed", "metrics"}; the full record of
the run (every pass, host steal, memory-bandwidth probe) is written to
.perfbench_out/.  All scratch files live under .perfbench_work/ and are
removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import gzip
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

import bench  # noqa: E402
import eventlog  # noqa: E402
import proctree  # noqa: E402
import tables  # noqa: E402
from ocrd_calamari_spark import pipeline  # noqa: E402
from ocrd_calamari_spark.config import ExtractConfig  # noqa: E402
from ocrd_calamari_spark.entry_queries import ORACLES, QUERIES  # noqa: E402
from ocrd_calamari_spark.gen import gen_pages, write_pages_parquet  # noqa: E402
from ocrd_calamari_spark.kernel import extract as kx  # noqa: E402
from scripts.check_oracles import normalize  # noqa: E402
from spans import LAYERS, KernelTrace  # noqa: E402

CORES = 4
# bench.make_session's settings at 4 cores, with a driver heap sized for
# a 15 GB host shared with other work (make_session asks for 16g).  The
# heap is fixed and touched at start: a heap G1 grows on demand made
# peak_rss_mb swing by ~15% between runs of the same code, so the heap
# is the size a user provisions and the metric moves with what the
# program holds outside it (Python workers, the driver, off-heap buffers).
SESSION_CONF = {
    "spark.sql.shuffle.partitions": str(max(32, 2 * CORES)),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "256",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    "spark.ui.enabled": "false",
    "spark.driver.memory": "2g",
    "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch",
}

BLOCK_PAGES = 2400      # extract_block corpus
BLOCK_FILES = 6
BIG_PAGE_EVERY = 800    # -> 2 pages of ~1 MB
BLOCK_CFG = ExtractConfig()  # block level, the job's defaults
REGISTRY_DOCS = 200     # registry documents table (tables.write_tables)
REGISTRY_ORDERS = 30000 # registry orders table; sizes the other tables
SETUP_REPEATS = 3       # input materializations per run; setup_s uses the median
# Passes per run.  The JVM keeps compiling for the first passes of a
# session (a registry pass takes ~1.5x its settled time at first), so
# untimed warm passes come first, then a fixed number of timed passes:
# every run's median comes from the same stretch of that curve, however
# fast the host is.  --seconds is only a floor on the timed wall time.
BLOCK_WARM_PASSES = 3
BLOCK_PASSES = 4
REGISTRY_WARM_PASSES = 5  # after the pass that collects results to check
REGISTRY_PASSES = 6
# registry keys measured, in bench.HEADLINE order: fixed-overhead leaves
# on each table plus the jaccard dedup shuffle.  minhash_dedup and
# simhash_dedup are left out: their cold first runs (and minhash's
# all-pairs DuckDB twin) cost more than the per-run time budget allows.
REGISTRY_KEYS = [k for k in bench.HEADLINE if k in {
    "q1_pricing_summary", "join_revenue", "sessionize", "token_stats",
    "exact_dedup", "jaccard_dedup",
}]
DEDUP_KEYS = ("jaccard_dedup",)
CHECK_COLS = ["url", "text", "conf", "n_blocks", "error"]

E2E = {  # name -> unit
    "setup_s": "s", "wall_s": "s", "ops_per_s": "1/s", "cpu_s": "s",
    "peak_rss_mb": "MB",
}
KERNEL_LAYERS = tuple(LAYERS)  # decode, segment, vote, fastpath, extract, batch


class Run:
    """One benchmark run: its scratch directory and its Spark session."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = (
            workload, seed, seconds, trace)
        self.work = os.path.join(
            ROOT, ".perfbench_work", f"{workload}-s{seed}-{os.getpid()}")
        self.eventlog_dir = os.path.join(self.work, "eventlog")
        self.spark = None
        self.session_s = 0.0
        self.record: dict = {"workload": workload, "seed": seed,
                             "seconds": seconds, "trace": int(trace)}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self) -> None:
        for d in ("tmp", "local", "warehouse", "eventlog"):
            os.makedirs(self.path(d), exist_ok=True)
        # Python workers import the program from this checkout; every
        # temporary file of the JVM and the workers stays in the work dir
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={self.path('tmp')}")
        t0 = time.monotonic()
        from pyspark.sql import SparkSession

        builder = SparkSession.builder.master(f"local[{CORES}]").appName(
            f"perfbench-{self.workload}")
        conf = dict(SESSION_CONF)
        conf.update({
            "spark.local.dir": self.path("local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
        })
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": self.eventlog_dir,
            })
        for k, v in conf.items():
            builder = builder.config(k, v)
        self.spark = builder.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.monotonic() - t0
        self.record["session_conf"] = conf

    def stop_session(self) -> None:
        """Stop Spark, end the JVM and wait for every process it started."""
        if self.spark is None:
            return
        children = proctree.tree_pids()[1:]
        try:
            self.spark.stop()
        finally:
            self.spark = None
            _end_gateway()
            _wait_or_kill(children, timeout_s=30)

    def collect_garbage(self) -> None:
        """Full collection in the JVM and in this process, so every timed
        pass starts from a collected heap, not from the garbage and heap
        size the previous pass left."""
        self.spark.sparkContext._jvm.System.gc()
        gc.collect()

    def describe(self, text: str | None) -> None:
        self.spark.sparkContext.setJobDescription(text)


def _end_gateway() -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits at EOF on its stdin
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _wait_or_kill(pids: list[int], timeout_s: float) -> None:
    deadline = time.monotonic() + timeout_s
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


# ---------------------------------------------------------------------------
# measurement
# ---------------------------------------------------------------------------
def measure(run: Run, n_passes: int, one_pass, check) -> list[dict]:
    """``n_passes`` timed passes, more if their summed wall time has not
    reached --seconds.  ``one_pass(i)`` does the work; ``check(i)`` runs
    untimed after it and returns (attempted, failed)."""
    passes = []
    spent = 0.0
    while len(passes) < n_passes or spent < run.seconds:
        i = len(passes)
        run.collect_garbage()
        with proctree.TreeSampler() as sampler:
            t0 = time.monotonic()
            (info, steal) = bench.steal_during(lambda: one_pass(i) or {})
            wall = time.monotonic() - t0
        attempted, failed = check(i)
        passes.append({"wall_s": wall, "cpu_s": sampler.cpu_s,
                       "peak_rss_mb": sampler.peak_rss_mb, "steal": steal,
                       "attempted": attempted, "failed": failed, **info})
        spent += wall
    return passes


def host_state(run: Run, fn):
    """Run ``fn`` recording host CPU steal across it and a memory-bandwidth
    probe on each side (bench.py's host-state readings)."""
    before = bench.membw_probe_gbps()
    out, steal = bench.steal_during(fn)
    run.record["host"] = {"steal": steal, "membw_gbps_before": before,
                          "membw_gbps_after": bench.membw_probe_gbps()}
    return out


def traced_window(run: Run, fn):
    """Run ``fn`` once under host_state; return its result and the
    wall-clock window (epoch seconds) it ran in, the clock the Spark event
    log uses."""
    run.collect_garbage()  # as before every untimed-run pass
    window = []

    def body():
        window.append(time.time())
        out = fn()
        window.append(time.time())
        return out

    out = host_state(run, body)
    return out, window[0], window[1]


def timed_setup(fn) -> float:
    """Median wall time of SETUP_REPEATS calls of ``fn``."""
    times = []
    for _ in range(SETUP_REPEATS):
        t0 = time.monotonic()
        fn()
        times.append(time.monotonic() - t0)
    return statistics.median(times)


def e2e_metrics(passes: list[dict], ops: int, setup_s: float) -> dict:
    wall = statistics.median(p["wall_s"] for p in passes)
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "ops_per_s": ops / wall,
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "peak_rss_mb": statistics.median(p["peak_rss_mb"] for p in passes),
    }


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------
def _same(a: pd.Series, b: pd.Series) -> pd.Series:
    na_a, na_b = a.isna(), b.isna()
    return (na_a & na_b) | (~na_a & ~na_b & (a == b))


def compare_extraction(got: pd.DataFrame, want: pd.DataFrame) -> int:
    """Failed urls of a Spark extraction output vs the kernel oracle: a
    url missing, duplicated, unexpected, or whose text, conf, n_blocks or
    error presence differs.  Error rows are correct when the oracle
    errors too."""
    got = got.drop_duplicates("url", keep=False)  # a duplicated url fails
    m = want.merge(got, on="url", how="outer", suffixes=("_w", "_g"),
                   indicator=True)
    both = m["_merge"] == "both"
    ok = (both & _same(m["text_w"], m["text_g"])
          & _same(m["conf_w"], m["conf_g"])
          & _same(m["n_blocks_w"].astype("Float64"),
                  m["n_blocks_g"].astype("Float64"))
          & (m["error_w"].isna() == m["error_g"].isna()))
    return int((~ok).sum())


# ---------------------------------------------------------------------------
# extraction workloads
# ---------------------------------------------------------------------------
def write_corpus(pages: pd.DataFrame, out_dir: str, n_files: int) -> int:
    """Write ``pages`` as ``n_files`` parquet files; return their bytes."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    for i, idx in enumerate(np.array_split(np.arange(len(pages)), n_files)):
        write_pages_parquet(pages.iloc[idx],
                            os.path.join(out_dir, f"part-{i:03d}.parquet"))
    return sum(os.path.getsize(os.path.join(out_dir, f))
               for f in os.listdir(out_dir))


def run_job(run: Run, src: str, out: str) -> None:
    """The production job's path: run_extraction with its default buckets,
    chunks and partitioning, as job.py calls it."""
    m = pipeline.run_extraction(run.spark, src, out, BLOCK_CFG)
    if not m["complete"]:
        raise RuntimeError(f"run_extraction incomplete: {m}")


def job_output(run: Run, out: str) -> pd.DataFrame:
    return pipeline.read_output(run.spark, out).select(*CHECK_COLS).toPandas()


def run_extraction_workload(run: Run) -> dict:
    src = run.path("corpus")
    state = {}

    def materialize():
        state["pages"] = gen_pages(BLOCK_PAGES, seed=run.seed,
                                   big_page_every=BIG_PAGE_EVERY)
        state["corpus_bytes"] = write_corpus(state["pages"], src, BLOCK_FILES)

    run.start_session()
    mat_s = timed_setup(materialize)
    pages = state["pages"]
    t0 = time.monotonic()
    run.describe("warmup")
    for _ in range(BLOCK_WARM_PASSES):  # untimed passes over the corpus
        run_job(run, src, run.path("warm_out"))
        shutil.rmtree(run.path("warm_out"))
    warm_s = time.monotonic() - t0
    setup_s = run.session_s + mat_s + warm_s
    run.record["setup"] = {"session_s": run.session_s,
                           "materialize_s": mat_s, "warm_s": warm_s}

    if run.trace:
        return trace_extraction(run, pages, src, state["corpus_bytes"])

    t = time.monotonic()
    want = kx.extract_batch(pages, BLOCK_CFG)[CHECK_COLS]  # outside setup_s
    run.record["oracle_s"] = time.monotonic() - t
    run.describe(None)

    def one_pass(i):
        run_job(run, src, run.path(f"out{i}"))

    def check(i):
        out = run.path(f"out{i}")
        failed = compare_extraction(job_output(run, out), want)
        shutil.rmtree(out)
        return len(want), failed

    passes = host_state(
        run, lambda: measure(run, BLOCK_PASSES, one_pass, check))
    run.record["passes"] = passes
    return e2e_metrics(passes, BLOCK_PAGES, setup_s)


def _timed_commit(totals: dict):
    commit = pipeline.Manifest.commit

    def traced(self, rec):
        t0 = time.perf_counter()
        try:
            return commit(self, rec)
        finally:
            totals["s"] += time.perf_counter() - t0

    return commit, traced


def trace_extraction(run: Run, pages: pd.DataFrame, src: str,
                     corpus_bytes: int) -> dict:
    commits = {"s": 0.0}
    original, traced = _timed_commit(commits)
    out = run.path("out_traced")
    run.describe(run.workload)
    pipeline.Manifest.commit = traced
    try:
        _, t0, t1 = traced_window(run, lambda: run_job(run, src, out))
    finally:
        pipeline.Manifest.commit = original
    run.describe(None)
    got = job_output(run, out)
    run.stop_session()  # flushes the event log

    with KernelTrace() as kt:
        want = kx.extract_batch(pages, BLOCK_CFG)
    failed = compare_extraction(got, want[CHECK_COLS])
    log = eventlog.EventLog(eventlog.read_events(_single_log(run)))
    rec = eventlog.reconcile(log, run.workload, t0 * 1000, t1 * 1000)
    layers = kernel_layers(kt, want)
    layers.update(eventlog.pipeline_metrics(log, run.workload, corpus_bytes))
    layers["pipeline.manifest.commit_s"] = commits["s"]
    layers["trace.wall_s"] = t1 - t0
    layers["trace.job_coverage"] = rec["coverage"]
    run.record.update({
        "attempted": len(want), "failed": failed,
        "reconcile": rec,
        "kernel_reconcile": {"self_sum_s": sum(kt.self_s.values()),
                             "batch_span_s": kt.root_s()},
        "stages": log.stage_rows(run.workload),
        "spans": {"names": list(KERNEL_LAYERS),
                  "rows": [(KERNEL_LAYERS.index(n), s, e, p)
                           for n, s, e, p in kt.spans]},
    })
    return layers


def kernel_layers(kt: KernelTrace, out: pd.DataFrame) -> dict:
    import pyarrow as pa

    c = kt.counts
    m = {f"kernel.{layer}.s": kt.self_s.get(layer, 0.0)
         for layer in KERNEL_LAYERS}
    m.update({
        "kernel.decode.raw_charset": c["decode.raw_charset"],
        "kernel.segment.blocks": c["segment.blocks"],
        "kernel.vote.accept_ratio":
            c["vote.accepted"] / kt.calls["vote"] if kt.calls["vote"] else 0.0,
        "kernel.fastpath.chars": c["fastpath.chars"],
        "kernel.extract.error_rows": c["extract.error_rows"],
        "kernel.extract.error_rows.binary_payload":
            c["extract.error_rows.binary_payload"],
        "kernel.extract.error_rows.other": c["extract.error_rows.other"],
        "arrow.bytes_out":
            pa.Table.from_pandas(out, preserve_index=False).nbytes / len(out),
    })
    return m


def _single_log(run: Run) -> str:
    logs = os.listdir(run.eventlog_dir)
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    return os.path.join(run.eventlog_dir, logs[0])


# ---------------------------------------------------------------------------
# registry workload
# ---------------------------------------------------------------------------
def check_registry(tdir: str, results: dict) -> dict[str, str]:
    """Each key's Spark result vs its DuckDB twin (scripts/check_oracles
    rules); returns key -> problem for every failing key."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.environ['TMPDIR']}'")
    for t in ("documents", "events", "customer", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tdir}/{t}.parquet')")
    problems = {}
    for key in REGISTRY_KEYS:
        got = results.get(key)
        if isinstance(got, Exception):
            problems[key] = f"spark error: {got}"
            continue
        want = con.execute(ORACLES[key]).fetchdf()
        if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
            problems[key] = (f"shape {len(got)}x{sorted(got.columns)} != "
                             f"{len(want)}x{sorted(want.columns)}")
            continue
        a, b = normalize(got), normalize(want)
        try:
            pd.testing.assert_frame_equal(a, b, check_exact=True)
        except AssertionError as exc:
            problems[key] = str(exc).split("\n")[0]
    con.close()
    return problems


def run_registry_workload(run: Run) -> dict:
    tdir = run.path("tables")
    run.start_session()
    mat_s = timed_setup(lambda: tables.write_tables(
        tdir, run.seed, REGISTRY_DOCS, REGISTRY_ORDERS))
    raised: dict[int, set] = {}  # pass -> keys that raised in it

    def one_pass(i, key_start_ms=None):
        per_key = {}
        for key in REGISTRY_KEYS:
            run.spark.catalog.clearCache()
            if key_start_ms is not None:
                run.describe(key)
                key_start_ms[key] = time.time() * 1000
            t = time.monotonic()
            try:
                QUERIES[key](run.spark, tdir).write.format("noop").mode(
                    "overwrite").save()
            except Exception:  # a raising key is a failed operation
                raised.setdefault(i, set()).add(key)
            per_key[key] = time.monotonic() - t
        return {"per_key_s": per_key}

    # untimed warm passes: the first collects every key's result for the
    # oracle check, the others run the timed passes' noop plans
    results, warm_keys = {}, {}
    t0 = time.monotonic()
    run.describe("warmup")
    for key in REGISTRY_KEYS:
        run.spark.catalog.clearCache()
        t = time.monotonic()
        try:
            results[key] = QUERIES[key](run.spark, tdir).toPandas()
        except Exception as exc:  # a raising key is a failed operation
            results[key] = exc
        warm_keys[key] = time.monotonic() - t
    for _ in range(REGISTRY_WARM_PASSES):
        one_pass(-1)
    warm_s = time.monotonic() - t0
    setup_s = run.session_s + mat_s + warm_s
    run.record["setup"] = {"session_s": run.session_s,
                           "materialize_s": mat_s, "warm_s": warm_s,
                           "warm_key_s": warm_keys}
    run.describe(None)
    t = time.monotonic()
    problems = check_registry(tdir, results)
    run.record["oracle_s"] = time.monotonic() - t
    run.record["problems"] = problems

    if run.trace:
        starts = {}
        info, t0, t1 = traced_window(run, lambda: one_pass(0, starts))
        run.describe(None)
        run.stop_session()
        log = eventlog.EventLog(eventlog.read_events(_single_log(run)))
        rec = eventlog.reconcile(log, set(REGISTRY_KEYS), t0 * 1000, t1 * 1000)
        reg = eventlog.registry_metrics(log, starts)
        layers = {f"query.{k}.s": v for k, v in info["per_key_s"].items()}
        layers.update({k: v for k, v in reg.items()
                       if k.startswith("registry.")})
        for key in DEDUP_KEYS:
            name = f"query.{key}.shuffle_write_bytes"
            layers[name] = reg[name]
        layers["trace.wall_s"] = t1 - t0
        layers["trace.job_coverage"] = rec["coverage"]
        run.record.update({
            "attempted": len(REGISTRY_KEYS),
            "failed": len(set(problems) | raised.get(0, set())),
            "reconcile": rec, "stages": log.stage_rows(set(REGISTRY_KEYS)),
        })
        return layers

    def check(i):
        return len(REGISTRY_KEYS), len(set(problems) | raised.get(i, set()))

    passes = host_state(
        run, lambda: measure(run, REGISTRY_PASSES, one_pass, check))
    run.record["passes"] = passes
    return e2e_metrics(passes, len(REGISTRY_KEYS), setup_s)


# ---------------------------------------------------------------------------
# metric sets
# ---------------------------------------------------------------------------
PER_LAYER = (
    [f"kernel.{layer}.s" for layer in KERNEL_LAYERS]
    + ["kernel.decode.raw_charset", "kernel.segment.blocks",
       "kernel.vote.accept_ratio", "kernel.fastpath.chars",
       "kernel.extract.error_rows",
       "kernel.extract.error_rows.binary_payload",
       "kernel.extract.error_rows.other", "arrow.bytes_out",
       "pipeline.scan.read_ratio", "pipeline.jobs",
       "pipeline.exchange.shuffle_write_bytes", "pipeline.exchange.skew",
       "pipeline.udf.task_s", "pipeline.udf.py_s",
       "pipeline.udf.bytes_to_py", "pipeline.udf.bytes_from_py",
       "pipeline.write.s", "pipeline.write.bytes", "pipeline.write.files",
       "pipeline.manifest.commit_s", "pipeline.gc_s", "pipeline.spill_bytes"]
    + [f"query.{k}.s" for k in REGISTRY_KEYS]
    + ["registry.first_task_delay_s", "registry.jobs",
       "registry.single_task_stages", "registry.shuffle_write_bytes",
       "registry.spill_bytes", "registry.gc_s"]
    + [f"query.{k}.shuffle_write_bytes" for k in DEDUP_KEYS]
    + ["trace.wall_s", "trace.job_coverage"]
)


def unit_of(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("bytes") or name.startswith("pipeline.udf.bytes"):
        return "bytes"
    if name == "arrow.bytes_out":
        return "bytes/doc"
    if name.endswith(("ratio", "skew", "coverage")):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["extract_block", "registry_headline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    # SIGTERM unwinds through the finally below: Spark stopped, JVM and
    # workers waited for, scratch removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    shutil.rmtree(run.work, ignore_errors=True)
    try:
        if args.workload == "registry_headline":
            values = run_registry_workload(run)
        else:
            values = run_extraction_workload(run)
    finally:
        try:
            run.stop_session()
        finally:
            shutil.rmtree(run.work, ignore_errors=True)

    if args.trace:
        names = PER_LAYER
        attempted, failed = run.record["attempted"], run.record["failed"]
        consistent = run.record["reconcile"]["ok"]
        kr = run.record.get("kernel_reconcile")
        if kr is not None:
            consistent &= abs(kr["self_sum_s"] - kr["batch_span_s"]) <= 1e-6
    else:
        names = list(E2E)
        attempted = sum(p["attempted"] for p in run.record["passes"])
        failed = sum(p["failed"] for p in run.record["passes"])
        consistent = True
    metrics = {n: {"value": float(values.get(n, 0.0)),
                   "unit": E2E.get(n) or unit_of(n)} for n in names}
    run.record["metrics"] = metrics

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with gzip.open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-"
                                f"t{args.trace}-{stamp}.json.gz"), "wt") as f:
        json.dump(run.record, f, default=str)
    print(json.dumps({"correct": failed == 0 and consistent,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

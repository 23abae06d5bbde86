"""Structured Streaming: extraction kernel under readStream with
exactly-once checkpointing, and windowed event-time aggregation."""

import os

import pytest
from pyspark.sql import functions as F

from ocrd_calamari_spark.gen import gen_pages, write_pages_parquet
from ocrd_calamari_spark.streaming import (
    hourly_host_stats_stream,
    read_pages_stream,
    start_extraction_stream,
)


@pytest.fixture(scope="module")
def stream_dirs(tmp_path_factory, pages_pdf):
    root = tmp_path_factory.mktemp("stream")
    in_dir = root / "in"
    in_dir.mkdir()
    # two file drops ≈ two crawl deltas
    write_pages_parquet(pages_pdf.iloc[:150], str(in_dir / "drop1.parquet"))
    write_pages_parquet(pages_pdf.iloc[150:], str(in_dir / "drop2.parquet"))
    return {
        "in": str(in_dir),
        "out": str(root / "out"),
        "ckpt": str(root / "ckpt"),
    }


class TestStreamingExtraction:
    def test_available_now_processes_backlog(self, spark, stream_dirs, pages_pdf):
        q = start_extraction_stream(
            spark, stream_dirs["in"], stream_dirs["out"], stream_dirs["ckpt"]
        )
        q.awaitTermination(120)
        out = spark.read.parquet(stream_dirs["out"])
        assert out.count() == len(pages_pdf)
        assert out.select("url").distinct().count() == len(pages_pdf)

    def test_restart_is_exactly_once(self, spark, stream_dirs, pages_pdf):
        # second run with the same checkpoint: nothing new → no duplicates
        q = start_extraction_stream(
            spark, stream_dirs["in"], stream_dirs["out"], stream_dirs["ckpt"]
        )
        q.awaitTermination(120)
        out = spark.read.parquet(stream_dirs["out"])
        assert out.count() == len(pages_pdf)

    def test_streaming_matches_batch_kernel(self, spark, stream_dirs, pages_pdf):
        from ocrd_calamari_spark.config import ExtractConfig
        from ocrd_calamari_spark.kernel.extract import extract_batch

        oracle = extract_batch(pages_pdf, ExtractConfig()).set_index("url")
        got = (
            spark.read.parquet(stream_dirs["out"])
            .select("url", "text").toPandas().set_index("url")
        )
        joined = oracle.join(got, lsuffix="_o")
        ok = joined[joined["text_o"].notna()]
        assert (ok["text_o"] == ok["text"]).all()

    def test_stream_schema_is_output_without_lineage(self, spark, stream_dirs):
        from pyspark.sql.types import StructType

        from ocrd_calamari_spark.schema import OUTPUT_SCHEMA
        from ocrd_calamari_spark.streaming import extract_stream

        out = extract_stream(read_pages_stream(spark, stream_dirs["in"]))
        assert out.schema == StructType(
            [f for f in OUTPUT_SCHEMA.fields if f.name != "lineage"]
        )

    def test_windowed_host_stats(self, spark, stream_dirs):
        pages = read_pages_stream(spark, stream_dirs["in"])
        stats = hourly_host_stats_stream(pages)
        q = (
            stats.writeStream.format("memory")
            .queryName("host_stats")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql("select * from host_stats").collect()
        assert len(rows) > 0
        hosts = {r.host for r in rows}
        assert any(h.startswith("host00") for h in hosts)  # skewed host present


def _fixed_clock(epoch: float):
    """Picklable constant epoch source: built from stdlib callables only,
    so workers can unpickle it without importing this test module."""
    import functools

    return functools.partial(float, str(epoch))


class TestStatefulDedup:
    def test_cross_batch_url_dedup(self, spark, tmp_path, pages_pdf):
        from ocrd_calamari_spark.streaming import read_pages_stream, stateful_url_dedup
        from ocrd_calamari_spark.gen import write_pages_parquet

        in_dir = tmp_path / "in"; in_dir.mkdir()
        # drop2 re-crawls 50 urls from drop1
        write_pages_parquet(pages_pdf.iloc[:100], str(in_dir / "d1.parquet"))
        write_pages_parquet(pages_pdf.iloc[50:150], str(in_dir / "d2.parquet"))
        pages = read_pages_stream(spark, str(in_dir), max_files_per_trigger=1)
        deduped = stateful_url_dedup(pages, n_groups=16)
        q = (deduped.writeStream.format("memory").queryName("dedup_out")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        rows = spark.sql("select url from dedup_out").collect()
        urls = [r.url for r in rows]
        assert len(urls) == 150            # 200 inputs, 50 dups dropped
        assert len(set(urls)) == 150

    def test_ttl_evicts_state_and_readmits_urls(self, spark, tmp_path,
                                                pages_pdf):
        """With a recrawl-window TTL the state is BOUNDED: entries older
        than the window are evicted, so a url recrawled after the TTL
        passes through again.  Two availableNow runs on one checkpoint,
        with an injected clock advanced past the window between them =
        two crawls a window apart (deterministic — no wall-clock sleep)."""
        from ocrd_calamari_spark.gen import write_pages_parquet
        from ocrd_calamari_spark.streaming import (
            read_pages_stream, stateful_url_dedup,
        )

        in_dir = tmp_path / "in"; in_dir.mkdir()
        ckpt = str(tmp_path / "ckpt")
        out_dir = str(tmp_path / "out")  # parquet sink: supports recovery
        ttl = 3600.0

        def run(epoch):
            pages = read_pages_stream(spark, str(in_dir),
                                      max_files_per_trigger=1)
            deduped = stateful_url_dedup(
                pages, n_groups=8, ttl_seconds=ttl,
                _clock=_fixed_clock(epoch),
            )
            q = (deduped.writeStream.format("parquet")
                 .option("path", out_dir)
                 .option("checkpointLocation", ckpt)
                 .outputMode("append").trigger(availableNow=True).start())
            q.awaitTermination(120)

        # crawl 1: 40 urls, 10 of them recrawled within the window
        write_pages_parquet(pages_pdf.iloc[:40], str(in_dir / "d1.parquet"))
        write_pages_parquet(pages_pdf.iloc[30:40], str(in_dir / "d2.parquet"))
        run(epoch=1_000_000.0)
        urls1 = [r.url for r in spark.read.parquet(out_dir).collect()]
        assert len(urls1) == len(set(urls1)) == 40  # in-window dups dropped

        # crawl 2 a window later: same 40 urls — all evicted → all pass
        write_pages_parquet(pages_pdf.iloc[:40], str(in_dir / "d3.parquet"))
        run(epoch=1_000_000.0 + ttl + 1)
        urls2 = [r.url for r in spark.read.parquet(out_dir).collect()]
        assert len(urls2) == 80  # every url re-admitted exactly once
        from collections import Counter
        assert set(Counter(u for u in urls2).values()) == {2}

    def test_ttl_state_stays_bounded_across_many_batches(
            self, spark, tmp_path, pages_pdf):
        """Eviction under sustained micro-batch pressure (round-3 verdict
        task 8): four crawl drops of 40 NEW urls each, one recrawl window
        apart.  With a TTL the state store must hold ~one window of
        hashes after every run (flat at 40 here — measured through the
        statestore reader over the same checkpoint); without a TTL the
        identical pressure grows state linearly (40·k), which is the
        unbounded-crawl hazard the TTL exists for."""
        from ocrd_calamari_spark.gen import write_pages_parquet
        from ocrd_calamari_spark.streaming import (
            read_pages_stream, stateful_url_dedup,
        )

        ttl = 3600.0
        n_drops = 4

        def total_hashes(ckpt):
            st = spark.read.format("statestore").load(ckpt)
            return st.select(
                F.sum(F.size("value.groupState.seen"))
            ).collect()[0][0]

        def experiment(ttl_seconds, tag):
            in_dir = tmp_path / f"in_{tag}"; in_dir.mkdir()
            ckpt = str(tmp_path / f"ckpt_{tag}")
            out_dir = str(tmp_path / f"out_{tag}")
            sizes = []
            for i in range(n_drops):
                write_pages_parquet(pages_pdf.iloc[i * 40:(i + 1) * 40],
                                    str(in_dir / f"d{i}.parquet"))
                pages = read_pages_stream(spark, str(in_dir),
                                          max_files_per_trigger=1)
                ded = stateful_url_dedup(
                    pages, n_groups=8, ttl_seconds=ttl_seconds,
                    _clock=_fixed_clock(1_000_000.0 + i * (ttl + 1)),
                )
                q = (ded.writeStream.format("parquet")
                     .option("path", out_dir)
                     .option("checkpointLocation", ckpt)
                     .outputMode("append")
                     .trigger(availableNow=True).start())
                q.awaitTermination(120)
                sizes.append(total_hashes(ckpt))
            return sizes

        with_ttl = experiment(ttl, "ttl")
        assert with_ttl == [40] * n_drops          # flat: one window held
        without = experiment(None, "nottl")
        assert without == [40 * (i + 1) for i in range(n_drops)]  # linear

    def test_ttl_mode_terminates_available_now(self, spark, tmp_path,
                                               pages_pdf):
        """Regression pin for the eviction DESIGN: a processing-time
        timeout sweep was measured to make trigger(availableNow=True)
        queries spin empty micro-batches (~1/s) without ever terminating
        — even with no expired timer — which breaks the run-per-crawl-drop
        deployment mode.  Data-path-only eviction must terminate promptly."""
        from ocrd_calamari_spark.gen import write_pages_parquet
        from ocrd_calamari_spark.streaming import (
            read_pages_stream, stateful_url_dedup,
        )

        in_dir = tmp_path / "in"; in_dir.mkdir()
        write_pages_parquet(pages_pdf.iloc[:40], str(in_dir / "d1.parquet"))
        pages = read_pages_stream(spark, str(in_dir))
        q = (stateful_url_dedup(pages, n_groups=8, ttl_seconds=1.0)
             .writeStream.format("parquet")
             .option("path", str(tmp_path / "out"))
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .outputMode("append").trigger(availableNow=True).start())
        finished = q.awaitTermination(60)
        if not finished:
            q.stop()
        assert finished, "availableNow query with TTL never terminated"
        assert len(q.recentProgress) <= 5  # no empty-batch spinning

    def test_within_batch_duplicates_collapse(self, spark, tmp_path,
                                              pages_pdf):
        """Two copies of a url in the SAME micro-batch emit once."""
        import pandas as pd

        from ocrd_calamari_spark.gen import write_pages_parquet
        from ocrd_calamari_spark.streaming import (
            read_pages_stream, stateful_url_dedup,
        )

        in_dir = tmp_path / "in"; in_dir.mkdir()
        doubled = pd.concat([pages_pdf.iloc[:20], pages_pdf.iloc[:20]],
                            ignore_index=True)
        write_pages_parquet(doubled, str(in_dir / "d1.parquet"))
        pages = read_pages_stream(spark, str(in_dir))
        q = (stateful_url_dedup(pages, n_groups=4).writeStream
             .format("memory").queryName("inbatch_out")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        urls = [r.url for r in spark.sql("select url from inbatch_out").collect()]
        assert len(urls) == len(set(urls)) == 20


class TestStatefulSessionize:
    def test_event_time_sessions_with_timeout_close(self, spark, tmp_path):
        """Sessions extend across micro-batches, close on in-stream gaps,
        and trailing sessions close via event-time TIMEOUT once the
        watermark passes last_ts + gap (without the timeout path they
        would never emit)."""
        import os
        import time

        import pandas as pd

        from ocrd_calamari_spark.streaming import sessionize_stream

        base = pd.Timestamp("2024-01-01")

        def ev(uid, sec):
            return {"user_id": uid, "ts": base + pd.Timedelta(seconds=sec)}

        # u1: session A (0,10,20), session B (200 in drop1, 210 in drop2)
        # u2: two single-event sessions (5) and (100)
        # u3: LATE in-gap event (295 after 300) → extends backward
        # u4: LATE far event (100 after 5000) → its own earlier session
        # u99: watermark pusher far in the future → forces all timeouts
        drop1 = pd.DataFrame([ev(1, 0), ev(1, 10), ev(1, 20), ev(2, 5),
                              ev(1, 200), ev(3, 300), ev(4, 5000)])
        drop2 = pd.DataFrame([ev(1, 210), ev(2, 100), ev(3, 295),
                              ev(4, 100), ev(99, 100000)])
        in_dir = tmp_path / "in"
        in_dir.mkdir()
        # single parquet FILES: the file-stream source does not recurse
        # into the directories a spark write would create
        p1, p2 = str(in_dir / "d1.parquet"), str(in_dir / "d2.parquet")
        # µs timestamps: Spark's `timestamp` cannot read pandas' default ns
        drop1.to_parquet(p1, coerce_timestamps="us")
        drop2.to_parquet(p2, coerce_timestamps="us")
        # file stream orders drops by modification time — pin it
        now = time.time()
        os.utime(p1, (now - 60, now - 60))
        os.utime(p2, (now, now))
        stream = (spark.readStream.schema("user_id long, ts timestamp")
                  .option("maxFilesPerTrigger", 1).parquet(str(in_dir)))
        sessions = sessionize_stream(stream, gap_seconds=60)
        q = (sessions.writeStream.format("memory").queryName("sess_out")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        rows = spark.sql("select * from sess_out").collect()
        got = {
            (r.user_id,
             int((r.session_start - base.to_pydatetime()).total_seconds()),
             int((r.session_end - base.to_pydatetime()).total_seconds()),
             r.n_events)
            for r in rows
        }
        assert (1, 0, 20, 3) in got          # closed by in-stream gap
        assert (1, 200, 210, 2) in got       # crossed the batch boundary
        assert (2, 5, 5, 1) in got
        assert (2, 100, 100, 1) in got       # closed by event-time timeout
        assert (3, 295, 300, 2) in got       # late in-gap → extends backward
        assert (4, 100, 100, 1) in got       # late far → own earlier session
        assert (4, 5000, 5000, 1) in got
        assert not any(u == 99 for (u, *_1) in got)  # pusher stays open
        assert len(rows) == len(got) == 7    # nothing emitted twice


class TestStreamingNearDup:
    """stateful_neardup_dedup: SimHash-banded cross-batch near-dup
    detection with pigeonhole-exact recall (streaming twin of
    simhash_near_dupes)."""

    def _docs_pdf(self, rows):
        import pandas as pd

        return pd.DataFrame(rows, columns=["url", "text"])

    def _write(self, pdf, path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       str(path))

    def _stream(self, spark, in_dir):
        return (
            spark.readStream.schema("url string, text string")
            .option("maxFilesPerTrigger", 1).parquet(str(in_dir))
        )

    def _run(self, spark, in_dir, ckpt, out_dir, **kw):
        from ocrd_calamari_spark.streaming import stateful_neardup_dedup

        banded = stateful_neardup_dedup(self._stream(spark, in_dir), **kw)
        q = (banded.writeStream.format("parquet")
             .option("path", str(out_dir))
             .option("checkpointLocation", str(ckpt))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    def test_cross_batch_exact_and_fresh(self, spark, tmp_path):
        from ocrd_calamari_spark.streaming import neardup_kept

        base = [
            (f"u{i:03d}", f"document number {i} about topic {i % 7} with "
                          f"unique content marker alpha{i} beta{i * 3}")
            for i in range(40)
        ]
        recrawl = [(f"r{i:03d}", base[i][1]) for i in range(10)]  # exact text
        fresh = [(f"n{i:03d}", f"entirely new crawl content page {i} "
                               f"gamma{i * 11} delta{i * 13}")
                 for i in range(10)]
        in_dir = tmp_path / "in"; in_dir.mkdir()
        self._write(self._docs_pdf(base), in_dir / "d1.parquet")
        self._write(self._docs_pdf(recrawl + fresh), in_dir / "d2.parquet")
        self._run(spark, in_dir, tmp_path / "ckpt", tmp_path / "out")
        banded = spark.read.parquet(str(tmp_path / "out"))
        assert banded.count() == 60 * 4  # one row per (doc, band)
        verdicts = {r["url"]: r["kept"]
                    for r in neardup_kept(banded).collect()}
        assert all(verdicts[u] for u, _ in base)
        assert not any(verdicts[u] for u, _ in recrawl)  # hamming-0 dups
        assert all(verdicts[u] for u, _ in fresh)

    def test_matches_signature_level_reference(self, spark, tmp_path):
        """Streaming verdicts must equal the python reference computed
        from the SAME JVM signatures: doc flagged iff an earlier doc
        (prior batch, or lower id within the batch) is within Hamming
        <= 3 — pigeonhole banding adds no misses and no false hits."""
        from ocrd_calamari_spark.functions.dedup import simhash
        from ocrd_calamari_spark.streaming import neardup_kept

        d1 = [(f"a{i:02d}", f"shared boilerplate header text page {i} "
                            f"item{i} value{i * 7} tail{i * 31}")
              for i in range(25)]
        # one-token perturbations of batch-1 texts: hamming varies —
        # near or not is DERIVED from the sigs, never assumed
        d2 = [(f"b{i:02d}", d1[i][1].replace(f"item{i}", f"item{i}x"))
              for i in range(25)]
        in_dir = tmp_path / "in"; in_dir.mkdir()
        self._write(self._docs_pdf(d1), in_dir / "d1.parquet")
        self._write(self._docs_pdf(d2), in_dir / "d2.parquet")
        self._run(spark, in_dir, tmp_path / "ckpt", tmp_path / "out")
        got = {r["url"]: r["kept"]
               for r in neardup_kept(
                   spark.read.parquet(str(tmp_path / "out"))).collect()}

        all_rows = self._docs_pdf(d1 + d2)
        sigs = {
            r["url"]: int(r["s"])
            for r in spark.createDataFrame(all_rows)
            .select("url", simhash("text").alias("s")).collect()
        }
        M = (1 << 64) - 1
        order = [u for u, _ in d1] + sorted(u for u, _ in d2)
        expect = {}
        seen = []
        for u in order:
            expect[u] = all(
                ((sigs[u] ^ s) & M).bit_count() > 3 for s in seen
            )
            seen.append(sigs[u])
        assert got == expect
        assert not all(expect.values())  # fixture sanity: some dups exist
        assert any(expect[u] for u, _ in d2)  # ...and some perturbations escape

    def test_within_batch_keeps_lower_id(self, spark, tmp_path):
        from ocrd_calamari_spark.streaming import neardup_kept

        rows = [("zz-later", "same exact content here for the pair test"),
                ("aa-first", "same exact content here for the pair test"),
                ("mm-other", "completely unrelated text about something else")]
        in_dir = tmp_path / "in"; in_dir.mkdir()
        self._write(self._docs_pdf(rows), in_dir / "d1.parquet")
        self._run(spark, in_dir, tmp_path / "ckpt", tmp_path / "out")
        got = {r["url"]: r["kept"]
               for r in neardup_kept(
                   spark.read.parquet(str(tmp_path / "out"))).collect()}
        assert got == {"aa-first": True, "zz-later": False, "mm-other": True}

    def test_ttl_readmits_after_window(self, spark, tmp_path):
        from ocrd_calamari_spark.streaming import neardup_kept

        ttl = 3600.0
        rows = [("x1", "recrawled article body text alpha beta gamma")]
        in_dir = tmp_path / "in"; in_dir.mkdir()
        self._write(self._docs_pdf(rows), in_dir / "d1.parquet")
        self._run(spark, in_dir, tmp_path / "ckpt", tmp_path / "out",
                  ttl_seconds=ttl, _clock=_fixed_clock(1_000_000.0))
        self._write(self._docs_pdf([("x2", rows[0][1])]),
                    in_dir / "d2.parquet")
        self._run(spark, in_dir, tmp_path / "ckpt", tmp_path / "out",
                  ttl_seconds=ttl, _clock=_fixed_clock(1_000_000.0 + ttl + 1))
        got = {r["url"]: r["kept"]
               for r in neardup_kept(
                   spark.read.parquet(str(tmp_path / "out"))).collect()}
        assert got == {"x1": True, "x2": True}  # window passed: re-admitted


class TestStreamStreamJoin:
    """join_page_link_streams: watermarked two-stream join with bounded
    state (the fetcher + link-extractor two-feed shape)."""

    def test_joins_in_window_drops_out_of_window(self, spark, tmp_path):
        import datetime as dt

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        from ocrd_calamari_spark.streaming import join_page_link_streams

        t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
        pages = pd.DataFrame({
            "url": ["u1", "u2", "u3"],
            "warc_ts": [t0, t0, t0],
        })
        links = pd.DataFrame({
            "url": ["u1", "u2", "u2", "u9"],
            "link_ts": [
                t0 + dt.timedelta(minutes=5),    # in window -> joins
                t0 + dt.timedelta(minutes=29),   # in window -> joins
                t0 + dt.timedelta(minutes=45),   # beyond max_lag -> dropped
                t0 + dt.timedelta(minutes=1),    # no matching page
            ],
            "href": ["/a", "/b", "/late", "/x"],
        })
        # microsecond units: pyarrow's default ns INT64 does not read
        # back as a Spark timestamp
        pages = pages.astype({"warc_ts": "datetime64[us]"})
        links = links.astype({"link_ts": "datetime64[us]"})
        pdir = tmp_path / "pages"; pdir.mkdir()
        ldir = tmp_path / "links"; ldir.mkdir()
        pq.write_table(pa.Table.from_pandas(pages, preserve_index=False),
                       str(pdir / "p.parquet"))
        pq.write_table(pa.Table.from_pandas(links, preserve_index=False),
                       str(ldir / "l.parquet"))

        ps = (spark.readStream.schema("url string, warc_ts timestamp")
              .parquet(str(pdir)))
        ls = (spark.readStream
              .schema("url string, link_ts timestamp, href string")
              .parquet(str(ldir)))
        out = join_page_link_streams(ps, ls, watermark="1 hour",
                                     max_lag="30 minutes")
        q = (out.writeStream.format("memory").queryName("ssj_out")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = sorted((r.url, r.href)
                     for r in spark.sql("select * from ssj_out").collect())
        assert got == [("u1", "/a"), ("u2", "/b")]

    def test_plan_is_stateful_stream_join(self, spark, tmp_path):
        from ocrd_calamari_spark.streaming import join_page_link_streams

        (tmp_path / "p").mkdir(); (tmp_path / "l").mkdir()
        ps = (spark.readStream.schema("url string, warc_ts timestamp")
              .parquet(str(tmp_path / "p")))
        ls = (spark.readStream
              .schema("url string, link_ts timestamp, href string")
              .parquet(str(tmp_path / "l")))
        out = join_page_link_streams(ps, ls)
        # both watermarks present in the logical plan = state is bounded
        plan = out._jdf.queryExecution().logical().toString()
        assert plan.count("EventTimeWatermark") == 2

"""Kernel span recorder: tracing must not change an output byte, and the
layers' self times must account for the extract_batch span exactly.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ocrd_calamari_spark.config import ExtractConfig  # noqa: E402
from ocrd_calamari_spark.gen import gen_pages  # noqa: E402
from ocrd_calamari_spark.kernel import extract as kx  # noqa: E402
from spans import LAYERS, KernelTrace  # noqa: E402


def _arrow_bytes(df) -> bytes:
    table = pa.Table.from_pandas(df, preserve_index=False)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return sink.getvalue().to_pybytes()


@pytest.fixture(scope="module")
def pages():
    # every gen case, poison error rows included, plus one ~1 MB page
    return gen_pages(120, seed=11, big_page_every=100)


@pytest.mark.parametrize("level", ["block", "glyph"])
def test_wrapped_output_is_byte_equal(pages, level):
    cfg = ExtractConfig(textequiv_level=level)
    plain = kx.extract_batch(pages, cfg)
    with KernelTrace():
        traced = kx.extract_batch(pages, cfg)
    assert _arrow_bytes(traced) == _arrow_bytes(plain)


def test_self_times_sum_to_batch_span(pages):
    with KernelTrace() as kt:
        kx.extract_batch(pages.iloc[:60], ExtractConfig())
        kx.extract_batch(pages.iloc[60:], ExtractConfig())
    assert kt.calls["batch"] == 2
    assert kt.calls["extract"] == len(pages)
    root = kt.root_s()
    assert root > 0
    assert sum(kt.self_s.values()) == pytest.approx(root, rel=1e-9)
    assert all(v >= 0 for v in kt.self_s.values())


def test_spans_nest_inside_their_parent(pages):
    with KernelTrace() as kt:
        kx.extract_batch(pages.iloc[:20], ExtractConfig())
    for name, start, end, parent in kt.spans:
        assert start <= end
        if parent >= 0:
            _, p_start, p_end, _ = kt.spans[parent]
            assert p_start <= start and end <= p_end
        else:
            assert name == "batch"


def test_counts_match_output(pages):
    with KernelTrace() as kt:
        out = kx.extract_batch(pages, ExtractConfig())
    errors = int(out["error"].notna().sum())
    assert errors > 0  # the poison case is in the corpus
    assert kt.counts["extract.error_rows"] == errors
    assert kt.counts["extract.error_rows.binary_payload"] == errors
    assert kt.counts["decode.raw_charset"] == int(out["raw_charset"].sum())


def test_wrappers_are_removed_on_exit():
    before = {name: getattr(kx, name) for name in LAYERS.values()}
    with KernelTrace():
        assert all(getattr(kx, n) is not f for n, f in before.items())
    assert all(getattr(kx, n) is f for n, f in before.items())

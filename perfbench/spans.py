"""Span recorder for the extraction kernel, driven from outside it.

``KernelTrace`` replaces, for the duration of a ``with`` block, the
functions ``ocrd_calamari_spark.kernel.extract`` calls by module-global
name (``decode_html``, ``segment``, ``vote_block``, ``normalize_block``,
``extract_page``) and ``extract_batch`` itself with wrappers that record a
span per call: (name, start, end, parent).  The wrapped functions are
called unchanged with the same arguments, so the kernel's output is the
same object graph it would be without tracing.

A layer's self time is its span minus the time its child spans cover;
the spans of one call tree are strictly nested and sequential, so the
self times of all layers sum to the root ``extract_batch`` spans.
"""

from __future__ import annotations

import functools
import time
from collections import Counter, defaultdict

from ocrd_calamari_spark.kernel import extract as kx

# layer name -> function name in ocrd_calamari_spark.kernel.extract
LAYERS = {
    "decode": "decode_html",
    "segment": "segment",
    "vote": "vote_block",
    "fastpath": "normalize_block",
    "extract": "extract_page",
    "batch": "extract_batch",
}


class KernelTrace:
    """Records kernel spans and counts while active.

    After the block: ``spans`` is a list of (name, start, end, parent
    index or -1); ``self_s`` maps layer → summed self seconds; ``calls``
    maps layer → call count; ``counts`` holds the work counters
    (``segment.blocks``, ``vote.accepted``, ``fastpath.chars``, ...).
    """

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int]] = []
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: Counter = Counter()
        self.counts: Counter = Counter()
        self._stack: list[list] = []  # [span index, child seconds]
        self._saved: dict[str, object] = {}

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            parent = self._stack[-1][0] if self._stack else -1
            idx = len(self.spans)
            self.spans.append((layer, 0.0, 0.0, parent))
            frame = [idx, 0.0]
            self._stack.append(frame)
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                self._stack.pop()
                dur = t1 - t0
                self.spans[idx] = (layer, t0, t1, parent)
                self.self_s[layer] += dur - frame[1]
                self.calls[layer] += 1
                if self._stack:
                    self._stack[-1][1] += dur
            self._count(layer, out)
            return out

        return traced

    def _count(self, layer: str, out) -> None:
        c = self.counts
        if layer == "decode":
            c["decode.raw_charset"] += bool(out[1])
        elif layer == "segment":
            c["segment.blocks"] += len(out)
        elif layer == "vote":
            c["vote.accepted"] += bool(out[0])
        elif layer == "fastpath":
            c["fastpath.chars"] += len(out[0])
        elif layer == "extract":
            err = out["error"]
            if err is not None:
                c["extract.error_rows"] += 1
                kind = "binary_payload" if "binary payload" in err else "other"
                c[f"extract.error_rows.{kind}"] += 1

    def __enter__(self) -> "KernelTrace":
        for layer, name in LAYERS.items():
            self._saved[name] = getattr(kx, name)
            setattr(kx, name, self._wrap(layer, self._saved[name]))
        return self

    def __exit__(self, *exc) -> None:
        for name, fn in self._saved.items():
            setattr(kx, name, fn)
        self._saved.clear()

    def root_s(self) -> float:
        """Summed duration of the root (``extract_batch``) spans."""
        return sum(e - s for name, s, e, parent in self.spans
                   if parent == -1)

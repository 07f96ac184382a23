"""In-memory span recorder for the traced run.

Wrappers go around the engine's public calls at run time (nothing under
``etl_stream_spark/`` is edited). The trace id of a span is the
micro-batch id the benchmark's ``foreachBatch`` body is serving; spans
opened on the applier's per-table pool threads, which inherit no
thread-local state, attach to the innermost span open on the thread that
serves the batch. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    trace: int | None
    id: int
    parent: int | None
    start: float
    end: float = 0.0
    n: int = 0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Recorder:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        #: batch currently being served and the span stack of the thread
        #: serving it (one batch at a time: a streaming query runs its
        #: triggers sequentially)
        self.trace: int | None = None
        self._serving: list[int] = []
        self._patched: list = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> Span:
        st = self._stack()
        parent = (st or self._serving or [None])[-1]
        span = Span(name, self.trace, next(self._ids), parent, time.perf_counter())
        st.append(span.id)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack().pop()
        with self._lock:
            self.spans.append(span)

    def root(self, name: str, trace: int) -> Span:
        """Open the root span of batch ``trace`` on the calling thread."""
        self.trace = trace
        self._serving = self._stack()
        return self.open(name)

    def close_root(self, span: Span) -> None:
        self.close(span)
        self.trace = None
        self._serving = []

    def wrap(self, owner, attr: str, name: str, sized: bool = False) -> None:
        """Replace ``owner.attr`` by a wrapper recording span ``name``;
        ``sized`` also keeps ``len()`` of the result on the span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self.open(name)
            try:
                out = fn(*args, **kwargs)
                if sized:
                    span.n = len(out)
                return out
            finally:
                self.close(span)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, fn))

    def install(self) -> None:
        from etl_stream_spark.cdc.merge import ParquetMergeTable
        from etl_stream_spark.cdc.pipeline import CdcBatchApplier
        from etl_stream_spark.l0_log import L0AppendLog

        self.wrap(CdcBatchApplier, "apply_batch", "pipeline.apply")
        self.wrap(ParquetMergeTable, "merge", "merge.merge")
        self.wrap(ParquetMergeTable, "compact", "merge.drain")
        self.wrap(ParquetMergeTable, "read", "merge.read")
        self.wrap(L0AppendLog, "append", "l0_log.append")
        self.wrap(L0AppendLog, "files", "l0_log.files", sized=True)
        self.wrap(L0AppendLog, "read", "l0_log.read")
        self.wrap(L0AppendLog, "maybe_sweep", "l0_log.maybe_sweep")

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched = []

    # -- reporting -------------------------------------------------------

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    @staticmethod
    def covered_ms(span: Span, kids: list[Span]) -> float:
        """Milliseconds of ``span`` covered by the union of ``kids``
        (pool-thread children overlap each other)."""
        ivs = sorted((max(k.start, span.start), min(k.end, span.end)) for k in kids)
        total, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    total += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            total += cur_hi - cur_lo
        return total * 1e3

    def self_ms(self, span: Span, kids: dict[int, list[Span]], only=None) -> float:
        """``span`` minus the part its children cover; ``only`` limits
        the subtracted children to the names it holds."""
        ks = kids.get(span.id, [])
        if only is not None:
            ks = [k for k in ks if k.name in only]
        return span.ms - self.covered_ms(span, ks)

"""In-memory spans around the engine's public entry points.

The benchmark does not edit the engine: :func:`instrument` swaps module
attributes and ``ParquetTable`` methods for wrappers that record a span per
call, and the function it returns puts the originals back. Catching every call
from outside works because callers resolve these names at call time:
``apply_medallion_batch`` imports ``plans.gold.gold_scope`` inside its body,
``gold_scope`` calls the module-global ``strike_range`` and
``build_vert_ts``, and ``backfill_medallion`` calls the module-global
``apply_medallion_batch`` of ``plans.backfill``.

Spark is lazy, so a span measures the planning its function does plus any
action it forces: Silver's and Gold's execution shows up inside the warehouse
write spans, attributed by table name.

A span marked ``probe`` is measurement work (footer reads, a row count the
engine does not itself compute); :func:`net_duration` takes probe time out
of every span that encloses it, so layer times are not inflated by tracing.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import json
import os
import time
from collections import defaultdict

import pyarrow.parquet as pq


@dataclasses.dataclass
class Span:
    id: int
    parent: int | None
    op: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = dataclasses.field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. ``op`` is the current benchmark operation; spans of one
    operation share it. Records nothing while ``enabled`` is false."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op: int | None = None
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, self.op, name, time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(dataclasses.asdict(s)) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
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


def _children(spans: list[Span]) -> dict[int, list[Span]]:
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    return kids


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval its child spans
    cover (overlapping children are counted once)."""
    kids = _children(spans)
    return {
        s.id: s.duration - covered([(c.start, c.end) for c in kids[s.id]], s.start, s.end)
        for s in spans
    }


def net_duration(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time of ``probe`` spans inside it."""
    by_id = {s.id: s for s in spans}
    probes_under: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.name != "probe":
            continue
        p = s.parent
        while p is not None:
            probes_under[p].append((s.start, s.end))
            p = by_id[p].parent
    return {
        s.id: s.duration - covered(probes_under[s.id], s.start, s.end) for s in spans
    }


def table_name(table) -> str:
    return os.path.basename(table.path)


def footer_rows(table) -> int:
    """Rows in a table's current version, from parquet footers (no Spark job)."""
    return sum(pq.ParquetFile(f).metadata.num_rows for f in table.data_files())


def instrument(tracer: Tracer, rows_probe) -> callable:
    """Install span wrappers; returns the function that removes them.

    ``rows_probe(df)`` counts a DataFrame's rows out of band: it counts the
    Gold rows each rebuild recomputed, inside the ``gold_scope`` block while
    the scope's persisted intermediates are still cached.
    """
    from schwab_elt_etl_pipeline_spark.plans import backfill, gold
    from schwab_elt_etl_pipeline_spark.sources.warehouse import ParquetTable
    from schwab_elt_etl_pipeline_spark.streaming import pipeline

    saved: list[tuple[object, str, object]] = []

    def patch(owner, attr, make):
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def plain(name):
        def make(orig):
            def wrapper(*args, **kwargs):
                with tracer.span(name):
                    return orig(*args, **kwargs)
            return wrapper
        return make

    patch(pipeline, "apply_medallion_batch", plain("pipeline.apply_medallion_batch"))
    patch(backfill, "apply_medallion_batch", plain("pipeline.apply_medallion_batch"))
    patch(backfill, "backfill_medallion", plain("backfill.backfill_medallion"))
    patch(gold, "strike_range", plain("gold.strike_range"))

    recomputed: list = []  # Gold output of the rebuild in flight, before its anti-join

    def make_build_vert_ts(orig):
        def wrapper(pairs, vert, width, vert_ts=None, **kwargs):
            if tracer.enabled:
                recomputed.append(orig(pairs, vert, width, None, **kwargs))
            return orig(pairs, vert, width, vert_ts, **kwargs)
        return wrapper

    patch(gold, "build_vert_ts", make_build_vert_ts)

    def make_scope(orig):
        @contextlib.contextmanager
        def wrapper(*args, **kwargs):
            recomputed.clear()
            cm = orig(*args, **kwargs)
            with tracer.span("gold.scope", phase="enter"):
                value = cm.__enter__()
            try:
                yield value
            except BaseException as exc:
                with tracer.span("gold.scope", phase="exit"):
                    if not cm.__exit__(type(exc), exc, exc.__traceback__):
                        raise
            else:
                if recomputed and tracer.enabled:
                    with tracer.span("probe") as s:
                        s.attrs["gold_rows_recomputed"] = rows_probe(recomputed[-1])
                with tracer.span("gold.scope", phase="exit"):
                    cm.__exit__(None, None, None)
            finally:
                recomputed.clear()
        return wrapper

    patch(gold, "gold_scope", make_scope)

    def make_write(method):
        def make(orig):
            def wrapper(self, *args, **kwargs):
                attrs = {"table": table_name(self)}
                if method == "insert_new" and tracer.enabled and self.exists():
                    with tracer.span("probe"):
                        attrs["target_rows"] = footer_rows(self)
                with tracer.span(f"warehouse.{method}", **attrs) as s:
                    out = orig(self, *args, **kwargs)
                if s is not None and method == "insert_new":
                    s.attrs["rows_inserted"] = out
                if s is not None and method == "overwrite_versioned":
                    with tracer.span("probe"):
                        s.attrs["rows_written"] = footer_rows(self)
                return out
            return wrapper
        return make

    for method in ("insert_new", "overwrite_versioned", "read", "append"):
        patch(ParquetTable, method, make_write(method))

    def restore():
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return restore


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it) for the highest nearest-rank
    percentile that leaves at least 10 samples above it. With 10 samples or
    fewer no percentile qualifies, and the maximum is reported as the
    100th percentile with 0 samples beyond."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, 0
    rank = n - 10  # 1-based nearest rank; xs[rank:] are the 10 beyond
    return xs[rank - 1], 100.0 * rank / n, n - rank

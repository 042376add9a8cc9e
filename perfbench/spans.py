"""Spans around the engine's public calls, recorded from the benchmark.

``Tracer.install`` wraps the calls ``wrapped_calls`` names for the life of
a ``with`` block.  Each wrapped call opens a span (id, layer, parent,
start, end) and sets the Spark job group to the span id, so every job
the call submits is tagged with it in the event log.  The engine code
itself is untouched: the wrappers are set and removed on the classes
and modules from here.

Interval helpers compute a span's self time: its interval minus the
part its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import time
from collections.abc import Callable, Iterator


def merge_intervals(iv: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Union of intervals as sorted, disjoint intervals."""
    out: list[tuple[float, float]] = []
    for a, b in sorted(iv):
        if b <= a:
            continue
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def subtract_intervals(
    span: tuple[float, float], holes: list[tuple[float, float]]
) -> list[tuple[float, float]]:
    """``span`` minus the union of ``holes`` (clipped to ``span``)."""
    a, b = span
    out = []
    cur = a
    for h0, h1 in merge_intervals(holes):
        h0, h1 = max(h0, a), min(h1, b)
        if h1 <= h0:
            continue
        if h0 > cur:
            out.append((cur, h0))
        cur = max(cur, h1)
    if cur < b:
        out.append((cur, b))
    return out


def self_segments(spans: list[dict]) -> dict[str, list[tuple[float, float]]]:
    """Span id → the parts of its interval no child span covers."""
    children: dict[str, list[tuple[float, float]]] = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: subtract_intervals((s["start"], s["end"]), children[s["id"]])
        for s in spans
    }


class Tracer:
    """Records spans and tags Spark jobs with the innermost open span."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()

    def _tag(self) -> None:
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(top["id"], top["layer"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, layer: str) -> Iterator[None]:
        rec = {
            "id": f"perfbench-span-{next(self._ids)}",
            "layer": layer,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
        }
        self._stack.append(rec)
        self._tag()
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)
            self._tag()

    def wrap(self, fn: Callable, layer: str | Callable[..., str | None]) -> Callable:
        """``fn`` inside a span; a callable ``layer`` picks the layer
        from the call's arguments (None: no span)."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            name = layer(*args, **kwargs) if callable(layer) else layer
            if name is None:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def install(self, text_out: str | None = None) -> Iterator[None]:
        """Wrap the engine's calls (``wrapped_calls``) until the block exits."""
        saved = []
        for owner, attr, layer in wrapped_calls(text_out):
            saved.append((owner, attr, owner.__dict__[attr]))
            setattr(owner, attr, self.wrap(getattr(owner, attr), layer))
        try:
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)


def wrapped_calls(text_out: str | None) -> list[tuple[object, str, object]]:
    """(owner, attribute, layer) of every call the traced run wraps.
    Lazy DataFrame builders submit no jobs, so the wrapped calls are the
    ones that do; stage operators split them further (eventlog)."""
    from pyspark.sql.readwriter import DataFrameWriter

    from dart_xbrl_crawler_spark.operators import politeness
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore
    from dart_xbrl_crawler_spark.sources.checkpoint import MergeTable, SnapshotTable

    def chain_commit(table, *args, **kwargs):
        # the lineage / per-host metrics chains; frontier and filter
        # snapshots are attributed by their callers' spans
        return "frontier.lineage" if table.path.endswith("_metrics") else None

    def sink_write(writer, path, *args, **kwargs):
        return "extract.sink" if text_out is not None and path == text_out else None

    return [
        (FrontierStore, "run_crawl", "frontier.loop"),
        (FrontierStore, "run_round", "frontier.fetch"),
        (FrontierStore, "insert", "frontier.insert"),
        (FrontierStore, "lineage_counts", "frontier.lineage"),
        (FrontierStore, "state_counts", "frontier.lineage"),
        (FrontierStore, "_commit_insert_metrics", "frontier.lineage"),
        (FrontierStore, "_commit_bloom_batch", "dedup.filter_commit"),
        (FrontierStore, "_maybe_compact_metrics", "checkpoint.compact"),
        (MergeTable, "compact", "checkpoint.compact"),
        (MergeTable, "commit_delta", "checkpoint.delta_commit"),
        (SnapshotTable, "commit", chain_commit),
        (SnapshotTable, "rewrite", "checkpoint.compact"),
        (politeness, "fetch_partitioning", "politeness.pop"),
        (DataFrameWriter, "parquet", sink_write),
    ]

"""Spark event log → per-layer table.

The traced run tags every Spark job with the span that submitted it
(``spark.jobGroup.id`` = span id).  This module reads the event log the
session wrote and attributes each stage to a layer:

* the stage's job group gives the innermost span, hence a layer;
* stage operators refine that where one operator marks the layer's work
  (``STAGE_RULES``): a stage running the URL canonicalizer UDF is
  ``urls.canon`` whichever span submitted it, a pandas cogroup is the
  dedup probe, an ``explode`` is link discovery, a ``max_by`` aggregate
  is the last-wins merge, a ``Window`` is pop's ranking;
* a stage submitted by a write-only span (a delta or metrics commit)
  that writes nothing is upstream work of the enclosing span.

Stage operators come from the SQL plans in the log: every plan node
lists its metric accumulator ids, and every task reports the
accumulators it updated.

Wall time is split exactly, so the layers sum to the root span: each
span's self time (its interval minus its child spans) goes to the
stages running in it, shared equally while several run at once, and to
the span's own layer while none runs.
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

try:
    from orjson import loads as _loads
except ImportError:  # pragma: no cover - optional, as in the engine
    from json import loads as _loads

LAYERS = (
    "urls.canon",
    "dedup.probe",
    "dedup.filter_commit",
    "checkpoint.merge_read",
    "checkpoint.delta_commit",
    "checkpoint.compact",
    "politeness.pop",
    "frontier.fetch",
    "frontier.lineage",
    "links.discover",
    "frontier.insert",
    "extract.sink",
    "frontier.loop",
)

LAYER_METRICS = (
    ("wall_s", "s"),
    ("task_s", "s"),
    ("shuffle_mb", "MB"),
    ("spill_mb", "MB"),
    ("skew", "ratio"),
    ("stages", "count"),
    ("failed_tasks", "count"),
    ("rows_out", "rows"),
)

# which end-to-end metric a layer should move, and on which workload
LAYER_MOVES = {
    "urls.canon": "crawl_s, round_p50_s on crawl_discover; least on crawl_xbrl_extract",
    "dedup.probe": "crawl_s on crawl_discover; ~0 on crawl_xbrl_extract",
    "dedup.filter_commit": "crawl_s, store_bytes_per_url on crawl_discover",
    "checkpoint.merge_read": "round_p50_s, peak_pss_mb on crawl_discover",
    "checkpoint.delta_commit": "crawl_s, store_bytes_per_url on crawl_discover",
    "checkpoint.compact": "crawl_s on a run crossing compact_every (neither here)",
    "politeness.pop": "round_p50_s on crawl_discover, crawl_xbrl_extract",
    "frontier.fetch": "round_p50_s on crawl_xbrl_extract, crawl_discover",
    "frontier.lineage": "round_p50_s on every workload (per-round constant)",
    "links.discover": "crawl_s on crawl_discover; none on crawl_xbrl_extract",
    "frontier.insert": "crawl_s on crawl_discover; empty-batch cost on crawl_xbrl_extract",
    "extract.sink": "fetched_per_s on crawl_xbrl_extract; absent on crawl_discover",
    "frontier.loop": "round_p50_s on every workload",
}

RATIO_UNITS = {
    "politeness.select_ratio": "ratio",
    "dedup.fresh_ratio": "ratio",
    "frontier.rekey_per_fetch": "rows/page",
    "checkpoint.bytes_per_row": "B/row",
    "extract.parse_ok_ratio": "ratio",
    "trace.crawl_s": "s",
    "trace.coverage": "ratio",
    "trace.overhead_s": "s",
}

# spans whose every stage is their own work
OWNING_SPANS = ("dedup.filter_commit", "extract.sink", "checkpoint.compact")
# spans that wrap a commit: only the stages that write are theirs
WRITE_SPANS = ("checkpoint.delta_commit", "frontier.lineage")


def _is_canon(name: str, text: str) -> bool:
    return "EvalPython" in name and "_canonicalize_udf" in text


# (layer, predicate over one plan node's (nodeName, simpleString)), in
# precedence order: the first rule any node of a stage matches wins
STAGE_RULES = (
    ("urls.canon", _is_canon),
    ("dedup.probe", lambda n, t: n == "FlatMapCoGroupsInPandas"),
    ("links.discover", lambda n, t: n == "Generate"),
    ("checkpoint.merge_read", lambda n, t: "Aggregate" in n and "max_by(" in t),
    ("politeness.pop", lambda n, t: n == "Window"),
)

_WANTED = (
    b"SparkListenerJobStart",
    b"SparkListenerStageCompleted",
    b"SparkListenerTaskEnd",
    b"SparkListenerSQLExecutionStart",
    b"SparkListenerSQLAdaptiveExecutionUpdate",
)


@dataclass
class Stage:
    sid: int
    group: str | None = None
    submit_ms: int | None = None
    complete_ms: int | None = None
    task_ms: list[int] = field(default_factory=list)
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    failed_tasks: int = 0
    rows_out: int = 0
    bytes_written: int = 0
    rows_written: int = 0
    canon_rows: int = 0
    updates: dict[int, int] = field(default_factory=dict)  # accumulator → Σ
    ops: set[tuple[str, str]] = field(default_factory=set)


def log_files(event_dir: str) -> list[str]:
    """Event files of the one application under ``event_dir``, in write
    order: a single file, or a rolling ``eventlog_v2_*`` directory."""
    entries = sorted(os.listdir(event_dir))
    if len(entries) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {entries}")
    path = os.path.join(event_dir, entries[0])
    if not os.path.isdir(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    return [
        os.path.join(path, f)
        for f in sorted(parts, key=lambda f: int(f.split("_")[1]))
    ]


def _walk_plan(node: dict, plan: dict[int, tuple[str, str]], canon_rows: set[int]) -> None:
    name, text = node.get("nodeName", ""), node.get("simpleString", "")
    for m in node.get("metrics", ()):
        aid = int(m["accumulatorId"])
        plan[aid] = (name, text)
        if _is_canon(name, text) and m.get("name") == "number of output rows":
            canon_rows.add(aid)
    for child in node.get("children", ()):
        _walk_plan(child, plan, canon_rows)


def read_stages(paths: list[str]) -> dict[int, Stage]:
    """Parse the event files into stages with their job group, timing,
    task metrics and plan operators."""
    stages: dict[int, Stage] = {}
    plan: dict[int, tuple[str, str]] = {}  # accumulator id → plan node
    canon_rows: set[int] = set()  # canonicalizer output-row accumulators

    def stage(sid: int) -> Stage:
        s = stages.get(sid)
        if s is None:
            s = stages[sid] = Stage(sid)
        return s

    for path in paths:
        with open(path, "rb") as f:
            for line in f:
                if not any(w in line[:120] for w in _WANTED):
                    continue
                e = _loads(line)
                kind = e["Event"]
                if kind == "SparkListenerTaskEnd":
                    s = stage(e["Stage ID"])
                    m = e.get("Task Metrics") or {}
                    if e["Task End Reason"]["Reason"] != "Success":
                        s.failed_tasks += 1
                    s.task_ms.append(int(m.get("Executor Run Time", 0)))
                    rd = m.get("Shuffle Read Metrics", {})
                    wr = m.get("Shuffle Write Metrics", {})
                    out = m.get("Output Metrics", {})
                    s.shuffle_bytes += (
                        rd.get("Remote Bytes Read", 0)
                        + rd.get("Local Bytes Read", 0)
                        + wr.get("Shuffle Bytes Written", 0)
                    )
                    s.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    s.rows_written += out.get("Records Written", 0)
                    s.bytes_written += out.get("Bytes Written", 0)
                    s.rows_out += wr.get("Shuffle Records Written", 0) + out.get(
                        "Records Written", 0
                    )
                    # SQL metric updates; their plan nodes may be
                    # published later (cached plans), so resolve at the end
                    for a in e["Task Info"].get("Accumulables", ()):
                        aid = int(a["ID"])
                        try:
                            s.updates[aid] = s.updates.get(aid, 0) + int(a["Update"])
                        except (KeyError, TypeError, ValueError):
                            s.updates.setdefault(aid, 0)
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    s = stage(info["Stage ID"])
                    s.submit_ms = info.get("Submission Time")
                    s.complete_ms = info.get("Completion Time")
                    for a in info.get("Accumulables", ()):
                        s.updates.setdefault(int(a["ID"]), 0)
                elif kind == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in e["Stage IDs"]:
                        s = stage(sid)
                        if s.group is None:
                            s.group = group
                else:  # SQL plan: initial or adaptive re-plan
                    _walk_plan(e["sparkPlanInfo"], plan, canon_rows)
    for s in stages.values():
        s.ops = {plan[a] for a in s.updates if a in plan}
        s.canon_rows = sum(n for a, n in s.updates.items() if a in canon_rows)
    return stages


def stage_layer(stage: Stage, span_layer: str, parent_layer: str | None) -> str:
    """The layer a stage's work belongs to (see the module docstring)."""
    if span_layer in OWNING_SPANS:
        return span_layer
    for layer, pred in STAGE_RULES:
        if any(pred(n, t) for n, t in stage.ops):
            return layer
    if span_layer in WRITE_SPANS and stage.rows_written == 0 and parent_layer:
        return parent_layer
    return span_layer


def stage_layers(spans: list[dict], stages: dict[int, Stage]) -> dict[int, str]:
    """Stage id → layer, for the stages a span's jobs ran."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for st in stages.values():
        span = by_id.get(st.group)
        if span is not None:
            parent = by_id.get(span["parent"])
            out[st.sid] = stage_layer(st, span["layer"], parent and parent["layer"])
    return out


def descendants(spans: list[dict], layer: str) -> set[str]:
    """Ids of the spans of ``layer`` and of every span nested in them."""
    by_id = {s["id"]: s for s in spans}
    out = set()
    for s in spans:
        p = s
        while p is not None and p["layer"] != layer:
            p = by_id.get(p["parent"])
        if p is not None:
            out.add(s["id"])
    return out


def layer_table(spans: list[dict], stages: dict[int, Stage]) -> dict[str, dict]:
    """Per-layer metrics (``LAYER_METRICS``) from the spans of one traced
    crawl and the stages their jobs ran.  Stages of untraced jobs (no
    span group) are ignored."""
    from perfbench.spans import self_segments

    by_id = {s["id"]: s for s in spans}
    segments = self_segments(spans)
    wall: dict[str, float] = defaultdict(float)
    layer_stages: dict[str, list[Stage]] = defaultdict(list)
    span_stages: dict[str, list[tuple[float, float, str]]] = defaultdict(list)
    layers = stage_layers(spans, stages)
    for sid, layer in layers.items():
        st = stages[sid]
        layer_stages[layer].append(st)
        if st.submit_ms is not None and st.complete_ms is not None:
            span_stages[st.group].append(
                (st.submit_ms / 1000.0, st.complete_ms / 1000.0, layer)
            )
    for sid, segs in segments.items():
        own = by_id[sid]["layer"]
        running = span_stages.get(sid, [])
        for a, b in segs:
            # elementary intervals between every stage boundary inside [a, b]
            cuts = sorted(
                {a, b, *(t for s0, s1, _ in running for t in (s0, s1) if a < t < b)}
            )
            for lo, hi in zip(cuts, cuts[1:]):
                live = [ly for s0, s1, ly in running if s0 <= lo and s1 >= hi]
                if not live:
                    wall[own] += hi - lo
                for ly in live:
                    wall[ly] += (hi - lo) / len(live)
    table = {}
    for layer in LAYERS:
        sts = layer_stages.get(layer, [])
        slowest = max(
            (s for s in sts if s.task_ms),
            key=lambda s: (s.complete_ms or 0) - (s.submit_ms or 0),
            default=None,
        )
        skew = 0.0
        if slowest is not None:
            skew = max(slowest.task_ms) / max(statistics.median(slowest.task_ms), 1)
        table[layer] = {
            "wall_s": wall.get(layer, 0.0),
            "task_s": sum(sum(s.task_ms) for s in sts) / 1000.0,
            "shuffle_mb": sum(s.shuffle_bytes for s in sts) / 1e6,
            "spill_mb": sum(s.spill_bytes for s in sts) / 1e6,
            "skew": skew,
            "stages": len(sts),
            "failed_tasks": sum(s.failed_tasks for s in sts),
            "rows_out": sum(s.rows_out for s in sts),
        }
    return table

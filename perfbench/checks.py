"""Correctness checks on a finished crawl, run after timing.

Each check returns failures as ``(round_id, message)``; ``round_id`` is
None when the failure belongs to the whole crawl, and then every round
of that crawl counts as failed.  Nothing is skipped silently: a check
that cannot read what it needs fails.
"""

from __future__ import annotations

import hashlib
import math
import os

from pyspark.sql import functions as F

Failure = tuple[int | None, str]


def host_budgets(robots_rows: list[tuple[str, int | None]], round_ms: int) -> dict:
    """host → pops allowed per round, as pop_round computes the budget
    (``floor(round_ms / max(1, crawl_delay_ms))``; run_crawl passes no
    max_per_host).  Key None: hosts without a robots row."""
    from dart_xbrl_crawler_spark.operators.politeness import DEFAULT_CRAWL_DELAY_MS

    def budget(delay: int | None) -> int:
        return math.floor(round_ms / max(1, DEFAULT_CRAWL_DELAY_MS if delay is None else delay))

    return {None: budget(None), **{host: budget(d) for host, d in robots_rows}}


def lineage_matches_state(spark, store, state: dict[str, int]) -> list[Failure]:
    """lineage_counts (folded from the metrics chain) equals the exact
    per-state counts ``state`` of the table; 'deduped' is a lineage-only
    counter."""
    lineage = {k: v for k, v in store.lineage_counts(spark).items() if k != "deduped"}
    if lineage != state:
        return [(None, f"lineage_counts {lineage} != state_counts {state}")]
    return []


def within_budget(spark, store, budgets: dict) -> list[Failure]:
    """Per round and host, rows popped (fetched + failed) ≤ budget."""
    rows = (
        store.host_metrics.read_all(spark)
        .filter(F.col("state").isin("fetched", "failed"))
        .groupBy("round_id", "host")
        .agg(F.sum("n").alias("n"))
        .collect()
    )
    if not rows:
        return [(None, "host_metrics chain holds no fetched/failed rows")]
    out = []
    for r in rows:
        budget = budgets.get(r["host"], budgets[None])
        if r["n"] > budget:
            out.append(
                (r["round_id"], f"host {r['host']} popped {r['n']} > budget {budget}")
            )
    return out


def fetched_once(spark, store) -> list[Failure]:
    """No url reaches ``fetched`` in two round deltas."""
    frames = []
    for s in store.table.snapshots():
        note = s.get("note", "")
        if s.get("kind") == "delta" and note.startswith("round="):
            rid = int(note.split("=", 1)[1])
            frames.append(
                store.table.table.read(spark, s["id"])
                .filter(F.col("state") == "fetched")
                .select("url_hash", F.lit(rid).alias("round_id"))
            )
    if not frames:
        return [(None, "no round deltas in the frontier table")]
    allf = frames[0]
    for f in frames[1:]:
        allf = allf.unionByName(f)
    dups = (
        allf.groupBy("url_hash")
        .agg(F.count("*").alias("n"), F.max("round_id").alias("round_id"))
        .filter(F.col("n") > 1)
        .collect()
    )
    return [(r["round_id"], f"url_hash {r['url_hash']} fetched {r['n']} times") for r in dups]


def sink_matches_oracle(
    spark, store, sink_path: str, pages_path: str, run_ts: str
) -> tuple[list[Failure], int, int]:
    """The text sink holds one row per fetched page, and each row's text
    is what the row-at-a-time oracle extracts from that page with the
    metadata the crawl loop passes (none).  Returns (failures, sink
    rows, parse_ok rows)."""
    import pyarrow.parquet as pq

    from dart_xbrl_crawler_spark import oracle

    if not os.path.isdir(sink_path):
        return [(None, f"text sink {sink_path} missing")], 0, 0
    sink = spark.read.parquet(sink_path).select("url", "text", "parse_ok").collect()
    fetched = {
        r["url"]
        for r in store.table.read(spark)
        .filter(F.col("state") == "fetched")
        .select("url")
        .collect()
    }
    out = []
    urls = [r["url"] for r in sink]
    if len(urls) != len(set(urls)) or set(urls) != fetched:
        out.append(
            (None, f"sink has {len(urls)} rows for {len(set(urls))} urls; "
                   f"{len(fetched)} pages fetched")
        )
    html = dict(
        zip(*pq.read_table(pages_path, columns=["url", "html"]).to_pydict().values())
    )
    wrong = [
        r["url"]
        for r in sink
        if r["text"] != oracle.extract_text_rowwise(r["url"], html.get(r["url"]), None, None, run_ts)
    ]
    if wrong:
        out.append((None, f"{len(wrong)} sink rows differ from the oracle, e.g. {wrong[0]}"))
    return out, len(sink), sum(bool(r["parse_ok"]) for r in sink)


def frontier_digest(spark, store) -> str:
    """sha256 of the final frontier state, independent of row order."""
    rows = (
        store.table.read(spark)
        .select("url_hash", "url_canon", "state", "depth", "priority")
        .collect()
    )
    h = hashlib.sha256()
    for r in sorted(rows, key=lambda r: r["url_hash"]):
        h.update(f"{r[0]}\t{r[1]}\t{r[2]}\t{r[3]}\t{r[4]!r}\n".encode())
    return f"{len(rows)}:{h.hexdigest()}"


def digest_matches(path: str, digest: str) -> list[Failure]:
    """Compare with the digest recorded for this (workload, seed) by an
    earlier crawl, recording it if none was."""
    if os.path.exists(path):
        with open(path) as f:
            first = f.read().strip()
        if first != digest:
            return [(None, f"frontier digest {digest} != earlier {first}")]
        return []
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        f.write(digest)
    os.replace(tmp, path)
    return []

"""Structured Streaming ingest: a stream of discovered pages/urls
feeding the frontier incrementally.

The reference is batch-only (EventBridge-scheduled Lambda,
/root/reference/lambda_function.py:19); its incrementality is date
windows + directory checks.  The streaming twin: ``readStream`` over an
arriving-parquet directory of pages → canonicalize → watermark on
``warc_ts`` (late discovery tolerance) → windowed per-host discovery
counts, plus a ``foreachBatch`` sink that runs the exact batch dedup
(cuckoo filter + exact confirm) per micro-batch — the idempotent MERGE
analog.

Local smoke uses the file source + ``processAllAvailable`` so a batch
of fixture rows drives the streaming query to completion synchronously.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.urls import with_url_canon
from ..schemas import PAGES


def read_pages_stream(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.readStream.schema(PAGES)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )


def discovery_counts(pages_stream: DataFrame) -> DataFrame:
    """Windowed per-host discovery counts with a 10-minute watermark —
    late rows beyond the watermark are dropped deterministically."""
    canon = with_url_canon(pages_stream.select("url", "warc_ts"))
    return (
        canon.withWatermark("warc_ts", "10 minutes")
        .groupBy(F.window("warc_ts", "5 minutes"), "host")
        .agg(F.count("*").alias("n_discovered"))
        .select(
            F.col("window.start").alias("window_start"),
            "host",
            "n_discovered",
        )
    )


def run_discovery_smoke(
    spark: SparkSession, src_path: str, query_name: str = "discovery"
) -> DataFrame:
    """Drive the stream over everything currently in src_path via the
    memory sink; returns the materialized result table."""
    stream = read_pages_stream(spark, src_path)
    agg = discovery_counts(stream)
    # complete mode: append would hold back windows the watermark has
    # not closed yet — a finite smoke batch must surface every window
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


HOST_STATE_OUT = (
    "host string, total_fetched long, batch_fetched long, last_ts timestamp"
)
_HOST_STATE = "total_fetched long, last_ts timestamp"


def track_host_fetch_state(pages_stream: DataFrame) -> DataFrame:
    """Custom STATEFUL operator (applyInPandasWithState): per-host
    cumulative fetch counters + last-seen timestamp maintained across
    micro-batches — the streaming twin of the frontier's per-host
    lineage counters (north_rule 'stateful URL-seen / per-round
    budget').  State is keyed by host, so the giant host's state row is
    one tuple regardless of its traffic; per-batch work stays
    proportional to the batch."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    canon = with_url_canon(pages_stream.select("url", "warc_ts"))

    def track(key, pdfs, state):
        n = 0
        last = None
        for pdf in pdfs:
            n += len(pdf)
            m = pdf["warc_ts"].max()
            last = m if last is None or (m is not None and m > last) else last
        if state.exists:
            total, prev_ts = state.get
        else:
            total, prev_ts = 0, None
        total += n
        last_out = last if last is not None else prev_ts
        state.update((total, last_out))
        yield pd.DataFrame(
            {
                "host": [key[0]],
                "total_fetched": [total],
                "batch_fetched": [n],
                "last_ts": [last_out],
            }
        )

    return (
        canon.select("host", "warc_ts")
        .groupBy("host")
        .applyInPandasWithState(
            track,
            HOST_STATE_OUT,
            _HOST_STATE,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def stream_into_frontier(
    spark: SparkSession,
    src_path: str,
    store,
    run_ts: str,
    query_name: str = "frontier_ingest",
) -> None:
    """foreachBatch sink: each micro-batch of discovered urls goes
    through the store's exact dedup insert (cuckoo prefilter + exact
    confirm + snapshot commit) — replaying a batch after a crash re-dedups to a
    no-op, which is the exactly-once story."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        urls = batch_df.select("url").withColumn("priority", F.lit(0.0))
        if urls.take(1):
            store.insert(spark, urls, run_ts, depth=1)

    stream = read_pages_stream(spark, src_path)
    q = stream.writeStream.foreachBatch(sink).queryName(query_name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

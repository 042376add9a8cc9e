"""Partitioned cuckoo filter (the engine's URL-seen structure): no
false negatives, bounded fpp, shard-aligned incremental insert,
DELETION, exact dedup_urls, FrontierStore wiring, and the one-time
rebuild of a legacy Bloom-format store."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dart_xbrl_crawler_spark.operators import dedup as D

RUN_TS = "2026-01-16 00:00:00"


# ------------------------------------------------ pure-numpy kernel
def test_cuckoo_kernel_membership_and_delete():
    rng = np.random.RandomState(3)
    keys = rng.randint(-(2**62), 2**62, size=50_000, dtype=np.int64)
    keys = np.unique(keys)
    m = D._cuckoo_m(len(keys))
    table = np.zeros((m, D._CUCKOO_SLOTS), dtype=np.uint16)
    assert D._cuckoo_insert_keys(table, keys, rng_seed=1) == 0
    # no false negatives
    assert D._cuckoo_contains(table, keys).all()
    # fpp bounded: 16-bit tags, 2 buckets × 4 slots ⇒ ~1.2e-4; allow 1e-3
    others = rng.randint(-(2**62), 2**62, size=50_000, dtype=np.int64)
    others = np.setdiff1d(others, keys)
    fpp = D._cuckoo_contains(table, others).mean()
    assert fpp < 1e-3, fpp
    # delete half, they disappear (up to fp-collision noise), rest stay
    gone, keep = keys[::2], keys[1::2]
    assert D._cuckoo_delete_keys(table, gone) == 0
    assert D._cuckoo_contains(table, keep).all()
    assert D._cuckoo_contains(table, gone).mean() < 1e-3


def test_cuckoo_kernel_multiset_semantics():
    """Duplicate inserts hold duplicate copies: one delete leaves the
    key present, the second removes it — the paper's multiset contract
    that makes delete safe under re-insertion."""
    table = np.zeros((D._cuckoo_m(100), D._CUCKOO_SLOTS), dtype=np.uint16)
    k = np.array([42], dtype=np.int64)
    D._cuckoo_insert_keys(table, np.repeat(k, 2), rng_seed=0)
    assert D._cuckoo_delete_keys(table, k) == 0
    assert D._cuckoo_contains(table, k).all()
    assert D._cuckoo_delete_keys(table, k) == 0
    assert not D._cuckoo_contains(table, k).any()


def test_cuckoo_over_capacity_raises():
    keys = np.arange(1000, dtype=np.int64)
    table = np.zeros((D._cuckoo_m(64), D._CUCKOO_SLOTS), dtype=np.uint16)
    with pytest.raises(Exception):
        failed = D._cuckoo_insert_keys(table, keys, rng_seed=0)
        if failed:  # kernel reports, Spark layer raises — accept either
            raise ValueError("over capacity")


# ------------------------------------------------ Spark shard layer
def _hashes_df(spark, values):
    return spark.createDataFrame(
        pd.DataFrame({"url_hash": np.asarray(values, dtype=np.int64)})
    )


def test_cuckoo_filter_probe_and_incremental_insert(spark):
    rng = np.random.RandomState(7)
    seen = np.unique(rng.randint(-(2**62), 2**62, size=20_000, dtype=np.int64))
    fresh = np.setdiff1d(
        rng.randint(-(2**62), 2**62, size=5_000, dtype=np.int64), seen
    )
    cf = D.build_cuckoo_filter(
        _hashes_df(spark, seen), n_shards=8, expected_keys=40_000
    )
    probed = D.probe_seen(_hashes_df(spark, seen[:2000]), cf, n_shards=8)
    assert probed.filter(~F.col("seen_maybe")).count() == 0  # no false neg
    miss = D.probe_seen(_hashes_df(spark, fresh), cf, n_shards=8)
    assert miss.filter(F.col("seen_maybe")).count() <= 5  # fpp tiny

    # incremental insert: new keys land, old keys stay, via the stored
    # tables (one cogroup task per shard)
    cf2 = D.cuckoo_insert(
        cf, _hashes_df(spark, fresh), n_shards=8, expected_per_shard=5_001
    )
    both = np.concatenate([seen[:1000], fresh[:1000]])
    probed2 = D.probe_seen(_hashes_df(spark, both), cf2, n_shards=8)
    assert probed2.filter(~F.col("seen_maybe")).count() == 0


def test_cuckoo_delete_spark(spark):
    rng = np.random.RandomState(11)
    keys = np.unique(rng.randint(-(2**62), 2**62, size=8_000, dtype=np.int64))
    cf = D.build_cuckoo_filter(
        _hashes_df(spark, keys), n_shards=4, expected_keys=16_000
    )
    gone, keep = keys[::2], keys[1::2]
    cf2 = D.cuckoo_delete(cf, _hashes_df(spark, gone), n_shards=4)
    kept = D.probe_seen(_hashes_df(spark, keep), cf2, n_shards=4)
    assert kept.filter(~F.col("seen_maybe")).count() == 0
    dropped = D.probe_seen(_hashes_df(spark, gone), cf2, n_shards=4)
    assert dropped.filter(F.col("seen_maybe")).count() <= 4


def test_dedup_urls_with_cuckoo_filter_exact(spark):
    """dedup_urls with the cuckoo table returns EXACTLY frontier − seen."""
    from dart_xbrl_crawler_spark.functions.urls import with_url_canon

    urls = [f"https://cd.example/p{i}" for i in range(400)]
    frontier = with_url_canon(
        spark.createDataFrame(pd.DataFrame({"url": urls}))
    )
    seen = with_url_canon(
        spark.createDataFrame(pd.DataFrame({"url": urls[:150] + ["https://cd.example/other"]}))
    ).select("url_hash")
    cf = D.build_cuckoo_filter(seen, n_shards=8, expected_keys=1_000)
    out = D.dedup_urls(frontier, seen, cf, n_shards=8, max_confirmed_hint=200)
    got = {r["url"] for r in out.select("url").collect()}
    assert got == set(urls[150:])


def test_frontier_store_cuckoo_end_to_end(spark, tmp_path):
    """FrontierStore: bootstrap → insert dedups exactly; retire_seen
    removes hashes so the same urls re-insert — the expiry/recrawl
    path."""
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore

    store = FrontierStore(
        str(tmp_path / "ck"), n_bloom_shards=4, expected_keys=4_096
    )
    seeds = spark.createDataFrame(
        pd.DataFrame(
            {"url": [f"https://ck.example/s{i}" for i in range(20)],
             "priority": [0.0] * 20}
        )
    )
    store.bootstrap(seeds, RUN_TS)
    batch = spark.createDataFrame(
        pd.DataFrame(
            {"url": [f"https://ck.example/s{i}" for i in range(10, 30)],
             "priority": [0.0] * 20}
        )
    )
    _, n_ins, n_dup = store.insert(spark, batch, RUN_TS)
    assert (n_ins, n_dup) == (10, 10)
    # retire two seed urls from the seen filter → they re-insert
    from dart_xbrl_crawler_spark.functions.urls import with_url_canon

    retire = with_url_canon(
        spark.createDataFrame(
            pd.DataFrame({"url": ["https://ck.example/s0", "https://ck.example/s1"]})
        )
    ).select("url_hash")
    store.retire_seen(spark, retire)
    again = spark.createDataFrame(
        pd.DataFrame(
            {"url": ["https://ck.example/s0", "https://ck.example/s1",
                      "https://ck.example/s2"],
             "priority": [0.0] * 3}
        )
    )
    # NOTE: the frontier TABLE still holds the rows; dedup checks the
    # filter first, then exactly confirms against the table — retiring
    # from the filter alone is not enough to re-insert while the table
    # row exists, so this asserts the FILTER state directly
    cf = store.bloom.read(spark)
    probed = D.probe_seen(retire, cf, n_shards=4)
    assert probed.filter(F.col("seen_maybe")).count() == 0
    del again


# ------------------------------------------- recrawl / expire loop
def _mini_crawl_store(spark, tmp_path):
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore

    pages = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": [f"https://rc.example/p{i}" for i in range(6)],
                "html": [b"<html>x</html>"] * 6,
                "warc_ts": [pd.Timestamp("2026-01-01")] * 6,
            }
        ),
        schema="url string, html binary, warc_ts timestamp",
    )
    robots = spark.createDataFrame(
        [("rc.example", None, 100)],
        schema="host string, disallow_prefix string, crawl_delay_ms long",
    )
    store = FrontierStore(
        str(tmp_path / "rc"), n_bloom_shards=4, expected_keys=4_096
    )
    store.bootstrap(
        spark.createDataFrame(
            pd.DataFrame(
                {"url": [f"https://rc.example/p{i}" for i in range(6)],
                 "priority": [0.0] * 6}
            )
        ),
        RUN_TS,
    )
    store.run_round(spark, pages, robots, RUN_TS, round_id=0, round_ms=100_000)
    return store, pages, robots


def test_recrawl_requeues_stale_rows(spark, tmp_path):
    """Rows fetched before the cutoff flip back to queued (O(|stale|)
    delta); the next round refetches them; lineage stays consistent."""
    store, pages, robots = _mini_crawl_store(spark, tmp_path)
    assert store.state_counts(spark) == {"fetched": 6}
    n = store.recrawl(spark, "2026-02-01 00:00:00")
    assert n == 6
    assert store.state_counts(spark) == {"queued": 6}
    assert store.lineage_counts(spark).get("queued") == 6
    # cutoff BEFORE the fetch: nothing stale
    assert store.recrawl(spark, "2020-01-01 00:00:00") == 0
    # the refetch round works under the normal politeness budget
    store.run_round(
        spark, pages, robots, "2026-03-01 00:00:00", round_id=1,
        round_ms=100_000,
    )
    assert store.state_counts(spark) == {"fetched": 6}
    assert store.lineage_counts(spark).get("queued", 0) == 0


def test_expire_tombstones_and_allows_reinsert(spark, tmp_path):
    """Expired rows tombstone (state='expired'), their hashes leave the
    cuckoo filter, and a rediscovered url re-inserts as a FRESH queued
    row (last-wins resurrection)."""
    store, pages, robots = _mini_crawl_store(spark, tmp_path)
    n = store.expire(spark, "2026-02-01 00:00:00")
    assert n == 6
    assert store.state_counts(spark) == {"expired": 6}
    # lineage: expire is terminal→terminal, queue stays drained
    assert store.lineage_counts(spark).get("queued", 0) == 0
    batch = spark.createDataFrame(
        pd.DataFrame(
            {"url": ["https://rc.example/p0", "https://rc.example/new"],
             "priority": [0.0] * 2}
        )
    )
    _, n_ins, n_dup = store.insert(spark, batch, "2026-03-01 00:00:00")
    assert (n_ins, n_dup) == (2, 0)  # the expired url resurrects
    counts = store.state_counts(spark)
    assert counts == {"expired": 5, "queued": 2}



def test_legacy_bloom_store_rebuilds_once(spark, tmp_path):
    """A store written when the seen filter was a Bloom bitmap (latest
    filter snapshot with a ``bits`` column, plus the old config
    sidecar) reopens without options: the first insert rebuilds a
    cuckoo image once from the non-expired rows, dedup stays exact,
    and a url expired under the Bloom filter resurrects."""
    import json

    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore

    store, _, _ = _mini_crawl_store(spark, tmp_path)
    live = spark.createDataFrame(
        pd.DataFrame({"url": ["https://rc.example/q0"], "priority": [0.0]})
    )
    assert store.insert(spark, live, RUN_TS)[1:] == (1, 0)
    assert store.expire(spark, "2026-02-01 00:00:00", states=("fetched",)) == 6
    # hand-write the legacy layout: a Bloom image (every bit set, so it
    # would flag everything) replaces the whole filter chain
    store.bloom.rewrite(
        spark.createDataFrame(
            [(s, b"\xff" * 64, 512, 7, 7) for s in range(4)],
            schema="shard int, bits binary, m_bits long, k_hashes int, n_keys long",
        ),
        note="legacy bloom",
    )
    with open(store.table_path + "_config.json", "w") as f:
        json.dump({"seen_filter": "bloom"}, f)

    reopened = FrontierStore(store.table_path, n_bloom_shards=4, expected_keys=4_096)
    batch = spark.createDataFrame(
        pd.DataFrame(
            {"url": ["https://rc.example/p0", "https://rc.example/q0",
                      "https://rc.example/new"],
             "priority": [0.0] * 3}
        )
    )
    _, n_ins, n_dup = reopened.insert(spark, batch, "2026-03-01 00:00:00")
    assert (n_ins, n_dup) == (2, 1)  # p0 resurrects, q0 stays deduped
    assert reopened.state_counts(spark) == {"expired": 5, "queued": 3}
    assert "table" in reopened.bloom.read(spark).columns
    # the rebuilt image is durable: a repeat insert dedups without a
    # second rebuild
    _, n_ins, n_dup = reopened.insert(spark, batch, "2026-03-01 00:00:00")
    assert (n_ins, n_dup) == (0, 3)
    notes = [snap["note"] for snap in reopened.bloom.snapshots()]
    assert notes.count("rebuild") == 1


def test_filter_snapshots_are_zstd(spark, tmp_path):
    """The filter table writes zstd (a lifetime-sized cuckoo image is
    mostly empty slots, which snappy barely shrinks); the frontier
    table keeps the session's default codec."""
    import glob

    import pyarrow.parquet as pq

    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore

    store = FrontierStore(str(tmp_path / "z"), n_bloom_shards=4, expected_keys=4_096)
    store.bootstrap(
        spark.createDataFrame(
            pd.DataFrame({"url": ["https://z.example/a"], "priority": [0.0]})
        ),
        RUN_TS,
    )

    def codecs(path):
        out = set()
        for f in glob.glob(f"{path}/snap-*/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                for c in range(md.num_columns):
                    out.add(md.row_group(rg).column(c).compression)
        return out

    assert codecs(str(tmp_path / "z") + "_bloom") == {"ZSTD"}
    assert codecs(str(tmp_path / "z")) == {"SNAPPY"}


def test_filter_chain_bounded(spark, tmp_path):
    """Each insert commits a FULL filter image (≈12 GB at the 10^10
    design point) — the chain must not grow one copy per round.  The
    store keeps ≤ filter_keep_last snapshots on disk while dedup
    exactness is unaffected."""
    import os

    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore

    store = FrontierStore(
        str(tmp_path / "fb"), n_bloom_shards=4, expected_keys=4_096,
        filter_keep_last=3,
    )
    store.bootstrap(
        spark.createDataFrame(
            pd.DataFrame({"url": ["https://fb.example/seed"], "priority": [0.0]})
        ),
        RUN_TS,
    )
    for i in range(6):
        batch = spark.createDataFrame(
            pd.DataFrame(
                {"url": [f"https://fb.example/b{i}-{j}" for j in range(5)],
                 "priority": [0.0] * 5}
            )
        )
        _, n_ins, n_dup = store.insert(spark, batch, RUN_TS)
        assert (n_ins, n_dup) == (5, 0)
    assert len(store.bloom.snapshots()) <= 3
    dirs = [d for d in os.listdir(str(tmp_path / "fb") + "_bloom")
            if d.startswith("snap-")]
    assert len(dirs) <= 3  # old full images GC'd from disk
    # dedup still exact after expiry
    _, n_ins, n_dup = store.insert(
        spark,
        spark.createDataFrame(
            pd.DataFrame({"url": ["https://fb.example/b0-0",
                                   "https://fb.example/freshest"],
                          "priority": [0.0] * 2})
        ),
        RUN_TS,
    )
    assert (n_ins, n_dup) == (1, 1)


def test_recrawl_covers_failed_rows(spark, tmp_path):
    """failed (and robots_blocked) transitions stamp fetch_ts too, so
    the freshness predicates can actually select them — a failed fetch
    retries via recrawl instead of being permanently terminal."""
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore

    pages = spark.createDataFrame(  # only ONE of the two urls has bytes
        pd.DataFrame(
            {
                "url": ["https://fl.example/ok"],
                "html": [b"<html>x</html>"],
                "warc_ts": [pd.Timestamp("2026-01-01")],
            }
        ),
        schema="url string, html binary, warc_ts timestamp",
    )
    robots = spark.createDataFrame(
        [("fl.example", None, 100)],
        schema="host string, disallow_prefix string, crawl_delay_ms long",
    )
    store = FrontierStore(str(tmp_path / "fl"), n_bloom_shards=4)
    store.bootstrap(
        spark.createDataFrame(
            pd.DataFrame(
                {"url": ["https://fl.example/ok", "https://fl.example/missing"],
                 "priority": [0.0] * 2}
            )
        ),
        RUN_TS,
    )
    store.run_round(spark, pages, robots, RUN_TS, round_id=0, round_ms=100_000)
    assert store.state_counts(spark) == {"fetched": 1, "failed": 1}
    n = store.recrawl(spark, "2026-02-01 00:00:00")
    assert n == 2  # the FAILED row requeues along with the fetched one
    assert store.state_counts(spark) == {"queued": 2}
    # failed-only retry: refetch, then requeue just the failures
    store.run_round(
        spark, pages, robots, "2026-03-01 00:00:00", round_id=1,
        round_ms=100_000,
    )
    n2 = store.recrawl(spark, "2026-04-01 00:00:00", states=("failed",))
    assert n2 == 1
    assert store.state_counts(spark) == {"fetched": 1, "queued": 1}

"""The correctness checks pass on a real crawl and fire on corrupted
copies of its store."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from perfbench import checks, gen
from perfbench.crawl import Crawl, Inputs


def _crawl(spark, tmp_path, workload, tables):
    d = str(tmp_path / f"in-{workload}")
    gen.write_inputs(d, tables)
    c = Crawl(spark, Inputs(spark, d, workload), str(tmp_path / f"crawl-{workload}"))
    c.bootstrap()
    c.run()
    c.check(str(tmp_path / f"digest-{workload}"))
    return c


@pytest.fixture(scope="module")
def discover(spark, tmp_path_factory):
    tables = gen.discover_tables(4, dict(gen.DISCOVER, n_pages=400, n_seeds=40))
    return _crawl(spark, tmp_path_factory.mktemp("discover"), "crawl_discover", tables)


@pytest.fixture(scope="module")
def xbrl(spark, tmp_path_factory):
    tables = gen.xbrl_tables(spark, 4, dict(gen.XBRL, n_filings=40))
    return _crawl(spark, tmp_path_factory.mktemp("xbrl"), "crawl_xbrl_extract", tables)


def _copy(c, tmp_path):
    """A FrontierStore over a copy of every path the crawl's store owns."""
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore

    dst = str(tmp_path / "copy" / "frontier")
    os.makedirs(os.path.dirname(dst))
    for suffix in ("", "_host_metrics", "_metrics", "_bloom"):
        shutil.copytree(c.store_path + suffix, dst + suffix)
    shutil.copy(c.store_path + "_config.json", dst + "_config.json")
    return FrontierStore(dst, n_bloom_shards=8)


def test_clean_crawls_pass_every_check(discover, xbrl):
    assert discover.failures == [] and xbrl.failures == []
    assert discover.fetched > 0 and len(discover.summaries) == 2
    assert xbrl.sink_rows == xbrl.fetched > 0


def test_refetched_url_fails_its_round(spark, discover, tmp_path):
    store = _copy(discover, tmp_path)
    assert checks.fetched_once(spark, store) == []
    again = (
        store.table.read(spark).filter(F.col("state") == "fetched").limit(1)
        .localCheckpoint(eager=True)
    )
    store.table.commit_delta(spark, again, note="round=7")
    fails = checks.fetched_once(spark, store)
    assert len(fails) == 1 and fails[0][0] == 7


def test_lineage_drift_fails(spark, discover, tmp_path):
    store = _copy(discover, tmp_path)
    store.metrics.commit(
        spark.createDataFrame(
            [(9, 0, "fetched", 1)],
            "round_id int, partition_id int, state string, n long",
        )
    )
    assert checks.lineage_matches_state(spark, store, store.state_counts(spark)) != []


def test_budget_overrun_fails_its_round(spark, discover, tmp_path):
    store = _copy(discover, tmp_path)
    giant = gen.DISCOVER["giant_host"]
    store.host_metrics.commit(
        spark.createDataFrame([(1, giant, "fetched", 10_000)], "round_id int, host string, state string, n long")
    )
    fails = checks.within_budget(spark, store, discover.inp.budgets)
    assert [r for r, _ in fails] == [1]


def test_digest_mismatch_fails(spark, discover, tmp_path):
    path = str(tmp_path / "digest")
    digest = checks.frontier_digest(spark, discover.store)
    assert checks.digest_matches(path, digest) == []  # recorded
    assert checks.digest_matches(path, digest) == []  # matched
    store = _copy(discover, tmp_path)
    row = store.table.read(spark).filter(F.col("state") == "queued").limit(1)
    store.table.commit_delta(
        spark, row.withColumn("state", F.lit("failed")).localCheckpoint(eager=True), note="tamper"
    )
    assert checks.digest_matches(path, checks.frontier_digest(spark, store)) != []


def test_sink_differing_from_oracle_fails(spark, xbrl, tmp_path):
    pages = os.path.join(xbrl.inp.dir, "pages.parquet")
    sink = str(tmp_path / "sink")
    (
        spark.read.parquet(xbrl.sink)
        .withColumn("text", F.when(F.monotonically_increasing_id() == 0, "x").otherwise(F.col("text")))
        .write.parquet(sink)
    )
    fails, n, _ = checks.sink_matches_oracle(spark, xbrl.store, sink, pages, "2026-01-16 00:00:00")
    assert n == xbrl.sink_rows and any("oracle" in m for _, m in fails)
    short = str(tmp_path / "short")
    spark.read.parquet(xbrl.sink).limit(n - 1).write.parquet(short)
    fails, _, _ = checks.sink_matches_oracle(spark, xbrl.store, short, pages, "2026-01-16 00:00:00")
    assert any("rows" in m for _, m in fails)

#!/usr/bin/env python
"""Dump .explain('formatted') for declared queries + crawl stages into
plans/r06/<name>_<tag>.txt  (tag = before|after, argv[1])."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

TAG = sys.argv[1] if len(sys.argv) > 1 else "before"
ONLY = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(REPO, "plans", "r06")
os.makedirs(OUT, exist_ok=True)

NAMES = [
    "q01_pricing_summary",
    "q02_dim_join_revenue",
    "q05_top5_per_customer",
    "q18_distinct_counts",
    "q21_host_budget_topk",
    "q24_dedup_exact",
    "q28_fingerprint",
    "q30_minhash_lsh",
    "q32_cosine_topk",
]


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    import __spark_entry__ as E
    from dart_xbrl_crawler_spark.plans import bench_support as B
    from dart_xbrl_crawler_spark.session import get_spark

    spark = get_spark(
        "plandump",
        cores=int(os.environ.get("SPARK_GRAFT_CPUS", "8")),
        shuffle_partitions=32,
        extra_conf={"spark.sql.files.maxPartitionBytes": "4m"},
    )
    qs = E.queries()
    for name in ONLY if ONLY else NAMES:
        if name not in qs:
            continue
        with open(os.path.join(OUT, f"{name}_{TAG}.txt"), "w") as f:
            f.write(_plan(qs[name](spark, SF)))
        print("dumped", name)

    # crawl stages at a small quantum (plan shape is quantum-independent)
    if ONLY is None or {"crawl_insert", "crawl_pop", "crawl_extract"} & ONLY:
        from pyspark.sql import functions as F

        bench = B.CrawlBench(spark, 200_000, pop_mult=8)
        from dart_xbrl_crawler_spark.functions.urls import with_url_canon
        from dart_xbrl_crawler_spark.operators import dedup as D
        from dart_xbrl_crawler_spark.operators import politeness as P

        canon = with_url_canon(B._batch_urls(spark, 200_000))
        ins = D.dedup_urls(
            canon.drop("id"), bench.seen, bench.cuckoo, n_shards=64,
            max_confirmed_hint=200_000 // 10 + 1,
        )
        with open(os.path.join(OUT, f"crawl_insert_{TAG}.txt"), "w") as f:
            f.write(_plan(ins))
        pop = P.pop_round(
            bench._pop_frontier(), bench.robots, round_ms=200_000,
            salt_buckets=64, n_hosts_hint=212,
        )
        with open(os.path.join(OUT, f"crawl_pop_{TAG}.txt"), "w") as f:
            f.write(_plan(pop.filter(F.col("selected"))))
        pages_dir = "/dev/shm/bench_pages_15000"
        if os.path.exists(os.path.join(pages_dir, "_SUCCESS")):
            from dart_xbrl_crawler_spark.operators import extract as X

            pages = spark.read.parquet(pages_dir)
            ext = X.extract_text(pages, B.RUN_TS).filter(F.col("parse_ok"))
            with open(os.path.join(OUT, f"crawl_extract_{TAG}.txt"), "w") as f:
                f.write(_plan(ext))
        print("dumped crawl stages")
    spark.stop()


if __name__ == "__main__":
    main()

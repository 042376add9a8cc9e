"""Seeded input generators for the crawl benchmark.

Each workload's inputs are a function of (workload, seed) only: the same
seed gives byte-identical tables, another seed gives other tables of the
same size and shape.  Inputs are generated once per (workload, seed)
into ``<work>/inputs/<workload>-s<seed>/`` before any timing; the engine
only ever sees the parquet files written here.

Tables per workload (engine schemas):
  pages   (url, warc_ts, html)            — the fetch stand-in
  seeds   (url, priority)                 — bootstrap input
  robots  (host, disallow_prefix, crawl_delay_ms)
plus ``rows.json`` with the row count of each.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PAGES_SCHEMA = pa.schema(
    [("url", pa.string()), ("warc_ts", pa.timestamp("us")), ("html", pa.binary())]
)
SEEDS_SCHEMA = pa.schema([("url", pa.string()), ("priority", pa.float64())])
ROBOTS_SCHEMA = pa.schema(
    [
        ("host", pa.string()),
        ("disallow_prefix", pa.string()),
        ("crawl_delay_ms", pa.int64()),
    ]
)

# -- crawl_discover: synthetic link graph --------------------------------
DISCOVER = {
    "n_pages": 12_000,
    "n_seeds": 400,
    "n_small_hosts": 40,
    "giant_share": 0.62,
    "giant_host": "www.giant-news.example",
    "out_degree": 5,
    "dead_share": 0.03,  # links to urls absent from pages → failed
    "trap_share": 0.02,  # /a/b/a/b/... loops → dropped by the trap gate
    "asset_share": 0.03,  # .css/.js/.png → dropped by the asset gate
    "nofollow_page_share": 0.03,  # <meta name=robots content=nofollow>
    "nofollow_link_share": 0.05,  # rel="nofollow" anchors
    "sitemap_share": 0.003,
    "feed_share": 0.003,
    "robots_blocked_hosts": 5,  # small hosts disallowing "/p/9"
    "crawl": {
        "max_rounds": 2,
        "round_ms": 60_000,
        "giant_delay_ms": 300,  # budget 200 / round: binds the giant host
        "small_delay_ms": 2_000,  # budget 30 / round per small host
    },
}

# -- crawl_xbrl_extract: DART XBRL ZIP filings ---------------------------
XBRL = {
    "n_filings": 1_600,
    "crawl": {
        "max_rounds": 2,
        "round_ms": 60_000,
        "giant_delay_ms": 100,  # budget 600 / round for dart.fss.or.kr
        "small_delay_ms": 2_000,  # budget 30 / round per small host
    },
}

WORKLOADS = ("crawl_discover", "crawl_xbrl_extract")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def discover_tables(seed: int, p: dict = DISCOVER) -> dict[str, pa.Table]:
    """Link graph: ~62 % of pages on one giant host, out-degree ~5, with
    dead links, crawl traps, static assets, nofollow pages and anchors,
    and a few sitemap / RSS pages whose entries are links too."""
    rng = _rng(seed, 1)
    n, n_small = p["n_pages"], p["n_small_hosts"]
    small_hosts = np.array([f"site{k:03d}.example" for k in range(n_small)])
    giant = rng.random(n) < p["giant_share"]
    host = np.where(giant, p["giant_host"], small_hosts[rng.integers(0, n_small, n)])
    kind = rng.random(n)
    is_sitemap = kind < p["sitemap_share"]
    is_feed = (kind >= p["sitemap_share"]) & (
        kind < p["sitemap_share"] + p["feed_share"]
    )
    path = np.array(
        [
            f"/sitemap-{i}.xml" if sm else f"/feed-{i}.xml" if fd else f"/p/{i}.html"
            for i, sm, fd in zip(range(n), is_sitemap, is_feed)
        ],
        dtype=object,
    )
    urls = np.array([f"https://{h}{q}" for h, q in zip(host, path)], dtype=object)
    nofollow_page = rng.random(n) < p["nofollow_page_share"]

    def target(i: int) -> str:
        """One outgoing link of page i, in one of several url forms."""
        r = rng.random()
        h = host[i]
        if r < p["dead_share"]:
            return f"https://{h}/gone/{rng.integers(0, 10**9)}.html"
        r -= p["dead_share"]
        if r < p["trap_share"]:
            return f"https://{h}/a/b/a/b/a/b/a/b/x{rng.integers(0, 10**6)}.html"
        r -= p["trap_share"]
        if r < p["asset_share"]:
            ext = ("css", "js", "png")[int(rng.integers(0, 3))]
            return f"https://{h}/static/s{rng.integers(0, 500)}.{ext}"
        j = int(rng.integers(0, n))
        form = rng.random()
        if form < 0.08:  # case + fragment variant of the same canonical url
            return f"HTTPS://{host[j].upper()}{path[j]}#top"
        if form < 0.14:  # explicit default port
            return f"https://{host[j]}:443{path[j]}"
        if form < 0.30 and host[j] == h:  # relative, same host
            return str(path[j])
        return str(urls[j])

    html = []
    for i in range(n):
        deg = int(rng.poisson(p["out_degree"]))
        links = [target(i) for _ in range(deg)]
        if is_sitemap[i]:
            body = "".join(
                f"<url><loc>{u if u.startswith('http') else 'https://' + host[i] + u}"
                f"</loc><lastmod>2026-01-0{1 + k % 9}</lastmod></url>"
                for k, u in enumerate(links)
            )
            doc = (
                '<?xml version="1.0"?><urlset xmlns='
                f'"http://www.sitemaps.org/schemas/sitemap/0.9">{body}</urlset>'
            )
        elif is_feed[i]:
            body = "".join(
                f"<item><title>t{k}</title><link>"
                f"{u if u.startswith('http') else 'https://' + host[i] + u}"
                "</link><pubDate>Fri, 16 Jan 2026 00:00:00 GMT</pubDate></item>"
                for k, u in enumerate(links)
            )
            doc = f'<?xml version="1.0"?><rss><channel>{body}</channel></rss>'
        else:
            meta = (
                '<meta name="robots" content="nofollow">' if nofollow_page[i] else ""
            )
            anchors = "".join(
                f'<a rel="nofollow" href="{u}">n</a>'
                if rng.random() < p["nofollow_link_share"]
                else f'<a href="{u}">l{k}</a>'
                for k, u in enumerate(links)
            )
            doc = (
                f"<html><head><title>page {i}</title>{meta}</head><body>"
                f"<p>synthetic page {i} on {host[i]}</p>{anchors}</body></html>"
            )
        html.append(doc.encode())

    pages = pa.table(
        {"url": urls.tolist(), "warc_ts": [None] * n, "html": html},
        schema=PAGES_SCHEMA,
    )
    seed_ids = rng.choice(n, size=p["n_seeds"], replace=False)
    seeds = pa.table(
        {
            "url": urls[seed_ids].tolist(),
            "priority": np.round(rng.random(p["n_seeds"]), 6),
        },
        schema=SEEDS_SCHEMA,
    )
    c = p["crawl"]
    blocked = set(small_hosts[: p["robots_blocked_hosts"]].tolist())
    robots_hosts = [p["giant_host"], *small_hosts.tolist()]
    robots = pa.table(
        {
            "host": robots_hosts,
            "disallow_prefix": ["/p/9" if h in blocked else None for h in robots_hosts],
            "crawl_delay_ms": [
                c["giant_delay_ms"] if h == p["giant_host"] else c["small_delay_ms"]
                for h in robots_hosts
            ],
        },
        schema=ROBOTS_SCHEMA,
    )
    return {"pages": pages, "seeds": seeds, "robots": robots}


def xbrl_tables(spark, seed: int, p: dict = XBRL) -> dict[str, pa.Table]:
    """DART XBRL ZIP filings from ``plans.bench_support.synth_pages``:
    the seed picks which ``n_filings`` of twice as many generated
    filings are crawled, and their seed priorities.  Every filing is a
    seed; the pages carry no links."""
    from pyspark.sql import functions as F

    from dart_xbrl_crawler_spark.plans.bench_support import synth_pages

    n = p["n_filings"]
    rows = (
        synth_pages(spark, 2 * n, 4)
        .select("url", "html")
        .withColumn("_k", F.xxhash64(F.lit(int(seed)), F.col("url")))
        .orderBy("_k")
        .limit(n)
        .toPandas()
        .sort_values("url", kind="stable")
    )
    urls = rows["url"].tolist()
    pages = pa.table(
        {"url": urls, "warc_ts": [None] * n, "html": rows["html"].map(bytes).tolist()},
        schema=PAGES_SCHEMA,
    )
    rng = _rng(seed, 2)
    seeds = pa.table(
        {"url": urls, "priority": np.round(rng.random(n), 6)}, schema=SEEDS_SCHEMA
    )
    c = p["crawl"]
    hosts = sorted({u.split("/")[2] for u in urls})
    robots = pa.table(
        {
            "host": hosts,
            "disallow_prefix": [None] * len(hosts),
            "crawl_delay_ms": [
                c["giant_delay_ms"] if h == "dart.fss.or.kr" else c["small_delay_ms"]
                for h in hosts
            ],
        },
        schema=ROBOTS_SCHEMA,
    )
    return {"pages": pages, "seeds": seeds, "robots": robots}


def crawl_params(workload: str) -> dict:
    """How a workload calls run_crawl (inputs aside).  Discovery stays
    on (the default) for both: the filings carry no links, so their
    rounds pay only the empty-insert cost."""
    c = (DISCOVER if workload == "crawl_discover" else XBRL)["crawl"]
    return {
        "max_rounds": c["max_rounds"],
        "round_ms": c["round_ms"],
        "text_out": workload == "crawl_xbrl_extract",
    }


def ensure_inputs(work: str, workload: str, seed: int, spark=None) -> str:
    """Generate a workload's inputs once per (workload, seed); returns
    the input directory.  A ``DONE`` marker makes a half-written
    directory from a killed run regenerate instead of being read."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    d = os.path.join(work, "inputs", f"{workload}-s{seed}")
    if os.path.exists(os.path.join(d, "DONE")):
        return d
    if workload == "crawl_discover":
        tables = discover_tables(seed)
    else:
        tables = xbrl_tables(spark, seed)
    write_inputs(d, tables)
    return d


def write_inputs(d: str, tables: dict[str, pa.Table]) -> None:
    """Write the tables, their row counts (``rows.json``) and, last, the
    ``DONE`` marker into a fresh directory ``d``."""
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(d, f"{name}.parquet"), compression="snappy")
    with open(os.path.join(d, "rows.json"), "w") as f:
        json.dump({name: t.num_rows for name, t in tables.items()}, f)
    open(os.path.join(d, "DONE"), "w").close()

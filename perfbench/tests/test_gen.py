"""Input generators: deterministic for a seed, different across seeds."""

import os

from perfbench import gen

SMALL = dict(gen.DISCOVER, n_pages=300, n_seeds=20)


def test_discover_same_seed_same_tables():
    a, b = gen.discover_tables(7, SMALL), gen.discover_tables(7, SMALL)
    assert all(a[k].equals(b[k]) for k in ("pages", "seeds", "robots"))


def test_discover_seeds_differ_in_content_not_size():
    a, b = gen.discover_tables(7, SMALL), gen.discover_tables(8, SMALL)
    assert a["pages"].num_rows == b["pages"].num_rows == 300
    assert a["seeds"].num_rows == b["seeds"].num_rows == 20
    assert not a["pages"].equals(b["pages"])
    assert not a["seeds"].equals(b["seeds"])


def test_discover_graph_shape():
    t = gen.discover_tables(3, dict(gen.DISCOVER, n_pages=2000, n_seeds=20))
    urls = t["pages"].column("url").to_pylist()
    html = b"".join(t["pages"].column("html").to_pylist())
    giant = sum(u.split("/")[2] == gen.DISCOVER["giant_host"] for u in urls) / len(urls)
    assert 0.55 < giant < 0.70
    for marker in (b"/gone/", b"/a/b/a/b/", b"/static/", b'rel="nofollow"',
                   b'content="nofollow"', b"<urlset", b"<rss>", b"#top", b":443/"):
        assert marker in html, marker
    robots = t["robots"].to_pydict()
    assert len(set(robots["host"])) == len(robots["host"])  # one rule row per host
    assert set(u.split("/")[2] for u in urls) <= set(robots["host"])


def test_ensure_inputs_writes_once(tmp_path, monkeypatch):
    calls = []
    real = gen.discover_tables
    monkeypatch.setattr(gen, "discover_tables", lambda seed: calls.append(seed) or real(seed, SMALL))
    d1 = gen.ensure_inputs(str(tmp_path), "crawl_discover", 5)
    d2 = gen.ensure_inputs(str(tmp_path), "crawl_discover", 5)
    assert d1 == d2 and calls == [5]
    assert sorted(os.listdir(d1)) == [
        "DONE", "pages.parquet", "robots.parquet", "rows.json", "seeds.parquet"
    ]


def test_xbrl_same_seed_same_tables(spark):
    p = dict(gen.XBRL, n_filings=12)
    a, b, c = (gen.xbrl_tables(spark, s, p) for s in (1, 1, 2))
    assert all(a[k].equals(b[k]) for k in ("pages", "seeds", "robots"))
    assert a["pages"].num_rows == c["pages"].num_rows == 12
    assert a["pages"].column("url") != c["pages"].column("url")
    assert all(h[:2] == b"PK" for h in a["pages"].column("html").to_pylist())

"""Round-6 optimization-round regression tests: every optimization that
changed an operator's internals gets an equivalence gate here.

* with_url_canon must produce exactly canonicalize_one's values on
  adversarial spellings (line terminators, ipv6, whitespace, userinfo,
  %-escapes) and keep NULL urls as rows;
* pop_round's regime-prefilter restructure must keep the selected set
  and host_rank values identical to a straightforward recomputation;
* the fast in-memory ZIP reader must defer every irregular archive to
  zipfile, and the charset sniff's even-length head clamp is pinned on
  odd-length short payloads.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dart_xbrl_crawler_spark.functions.urls import canonicalize_one, with_url_canon

# Mixed corpus: bench-shaped, fixture trap spellings, general-path
# oddities (userinfo, %-escapes, ipv6, whitespace, multi-'=', odd
# ports, queries without paths, empty paths, fragments with '#').
ADVERSARIAL_URLS = [
    "https://DART.FSS.OR.KR/api/doc?b=3&a=17#frag",
    "https://host7.example/api/doc?b=0&a=100",
    "http://h.example:80/",
    "https://h.example:443/p?x=",
    "https://h.example:8080/p?x=",
    "https://h.example:080/p",
    "https://h.example",
    "https://h.example#frag",
    "https://h.example?x=1",  # query without path → general parser
    "https://H.example/p?a=b=c",  # '=' in value → general parser
    "https://h.example/p?a=%20x",  # percent escape
    "https://h.example/p%20x/y",  # percent in path
    "https://h.example/p?b=2&a=1&b=0",
    "https://user:pw@h.example/p",  # userinfo
    "https://h.example:bad/p",  # invalid port
    "https://h.example/p?&&a=1&",
    "https://h.example/p?a",
    "https://h.example/p?",
    "https://h.example/p#a#b?c",  # '#' and '?' inside fragment
    "  https://h.example/p  ",  # whitespace → strip in general path
    "https://h.example/pa th",  # space in path
    "ftp://h.example:80/p",  # non-http scheme keeps :80
    "HtTpS://UPPER.HOST:443/Path/UPPER?Z=9&a=1",
    "https://[2001:db8::1]/p",  # ipv6
    "https://h.example/p?a-x=c&a=b",  # '-' in key sorts before '='
    "https://h.example/p?a=2&a=10",  # value tie-break is lexicographic
    "no-scheme-at-all",
    "://missing.scheme/p",
    "https://h.example/p?~x=.&_y=-",
    "https://h.example/a//b///c",
    "https://h.example/p?k" + "&k=" ,  # duplicate key w/ and w/o '='
    "https://h.example/p\n",  # trailing line terminators
    "https://h.example/p?a=1\r\n",
    "https://h.example\n",
    "https://h.example/p#frag\n",
]


def test_split_matches_udf_on_adversarial(spark):
    """with_url_canon equals canonicalize_one row by row, and keeps
    every row."""
    df = spark.createDataFrame(
        pd.DataFrame({"url": ADVERSARIAL_URLS, "tag": range(len(ADVERSARIAL_URLS))}),
        schema="url string, tag long",
    )
    rows = with_url_canon(df).collect()
    assert len(rows) == len(ADVERSARIAL_URLS)
    got = {r["tag"]: (r["url_canon"], r["host"]) for r in rows}
    for i, u in enumerate(ADVERSARIAL_URLS):
        c, h = canonicalize_one(u)
        assert got[i][0] == c, f"url_canon mismatch for {u!r}: {got[i][0]!r} != {c!r}"
        assert got[i][1] == h, f"host mismatch for {u!r}"


def test_split_keeps_null_urls(spark):
    """A NULL url stays a row, with NULL url_canon and host — never
    dropped."""
    urls = ["https://h.example/p", None, "https://user@h.example/q", None]
    df = spark.createDataFrame(
        pd.DataFrame({"url": urls, "tag": range(len(urls))}),
        schema="url string, tag long",
    )
    canon = with_url_canon(df)
    assert canon.count() == len(urls)
    nulls = canon.filter(F.col("url").isNull())
    assert nulls.count() == 2
    assert (
        nulls.filter(F.col("url_canon").isNotNull() | F.col("host").isNotNull()).count()
        == 0
    )


@pytest.mark.parametrize("round_ms", [1_000, 10_000])
def test_pop_round_regime_prefilter_equivalence(spark, fixture_bundle, round_ms):
    """pop_round after the regime-prefilter restructure: selected sets
    and host_rank values must match on a mixed bypass/exact workload."""
    from dart_xbrl_crawler_spark.operators import politeness as P
    from dart_xbrl_crawler_spark.schemas import PAGES, ROBOTS

    pages, _, _, robots = fixture_bundle
    frontier = (
        with_url_canon(spark.createDataFrame(pages, schema=PAGES).select("url"))
        .withColumn("priority", F.lit(0.0))
        .withColumn("discovered_ts", F.to_timestamp(F.lit("2026-01-16")))
    )
    robots_df = spark.createDataFrame(robots, schema=ROBOTS)
    out = P.pop_round(
        frontier, robots_df, round_ms=round_ms, salt_buckets=4,
        exact_rank_max=2,  # force some hosts into the quota regime
    ).select("url_hash", "selected", "host_rank", "robots_blocked").collect()
    got = {r["url_hash"]: (r["selected"], r["host_rank"]) for r in out}

    # oracle: naive per-host recomputation in pandas
    gated = P.apply_robots(frontier, robots_df).toPandas()
    budget = (round_ms // gated["crawl_delay_ms"].clip(lower=1)).astype(int)
    gated = gated.assign(_budget=budget)
    want: dict[int, tuple] = {}
    for host, g in gated.groupby("host"):
        cand = g[~g["robots_blocked"]]
        b = int(g["_budget"].iloc[0])
        for _, r in g[g["robots_blocked"]].iterrows():
            want[r["url_hash"]] = (False, None)
        if len(cand) <= b:
            for _, r in cand.iterrows():
                want[r["url_hash"]] = (True, None)
            continue
        cand = cand.sort_values(
            ["priority", "discovered_ts", "url_hash"],
            ascending=[False, True, True],
        ).reset_index()
        if b > 2:  # quota regime (exact_rank_max=2)
            quota = {s: b // 4 + (1 if s < b % 4 else 0) for s in range(4)}
            seen_per_salt: dict[int, int] = {}
            for _, r in cand.iterrows():
                s = int(r["url_hash"] % 4)
                if s < 0:
                    s += 4
                k = seen_per_salt.get(s, 0) + 1
                seen_per_salt[s] = k
                want[r["url_hash"]] = (k <= quota[s], None)
        else:
            for rank, (_, r) in enumerate(cand.iterrows(), start=1):
                # exact regime: global top-b selected with host_rank
                sel = rank <= b
                want[r["url_hash"]] = (sel, rank if rank <= b * 4 else None)

    for h, (sel, rank) in want.items():
        assert got[h][0] == sel, f"selected mismatch for hash {h}"
    # exact-regime survivor ranks match where the oracle computed them
    for h, (sel, rank) in want.items():
        if rank is not None and sel:
            assert got[h][1] == rank, f"host_rank mismatch for hash {h}"


# ---------------------------------------------------------------- plans
def _fmt_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_pop_round_regime_filter_below_window(spark, fixture_bundle):
    """r6 shape guard: the quota/exact regime predicate must sit BELOW
    each ranking window's Exchange (scan side), not above the Window —
    the pre-r6 shape filtered after ranking and every union branch
    shuffled+sorted the full candidate set.  Detected structurally: in
    the formatted plan tree, every Window's own subtree must contain
    the exact_rank_max literal (either regime polarity)."""
    import re

    from dart_xbrl_crawler_spark.functions.urls import with_url_canon
    from dart_xbrl_crawler_spark.operators import politeness as P
    from dart_xbrl_crawler_spark.schemas import PAGES, ROBOTS

    pages, _, _, robots = fixture_bundle
    frontier = (
        with_url_canon(spark.createDataFrame(pages, schema=PAGES).select("url"))
        .withColumn("priority", F.lit(0.0))
        .withColumn("discovered_ts", F.to_timestamp(F.lit("2026-01-16")))
    )
    robots_df = spark.createDataFrame(robots, schema=ROBOTS)
    marker = 7777  # unique literal so the assertion can't false-match
    plan = _fmt_plan(
        P.pop_round(frontier, robots_df, round_ms=10_000, exact_rank_max=marker)
    )
    tree = plan.split("\n\n")[0]  # the indented operator tree
    lines = tree.splitlines()
    windows = [
        (i, len(l) - len(l.lstrip(" :+-")))
        for i, l in enumerate(lines)
        if re.search(r"\bWindow\b", l)
    ]
    assert windows, "pop plan lost its ranking windows"
    for i, indent in windows:
        # subtree = following lines with strictly deeper indentation
        block = []
        for l in lines[i + 1 :]:
            d = len(l) - len(l.lstrip(" :+-"))
            if d <= indent:
                break
            block.append(l)
        ids = re.findall(r"\((\d+)\)", "\n".join(block))
        detail = "\n".join(
            seg for seg in plan.split("\n\n") if re.match(r"\(\d+\)", seg)
            and seg[1 : seg.index(")")] in ids
        )
        assert str(marker) in detail, (
            "regime predicate not below this Window's subtree:\n"
            + lines[i]
        )


def test_minhash_candidates_single_signature_pipeline(spark):
    """r6 shape guard: q30's banded self-join must read the signature
    table from a checkpoint (Scan ExistingRDD), never re-derive it from
    the shingle explode on both sides — the shingle expression must not
    appear in the final query plan at all."""
    import __spark_entry__ as E

    plan = _fmt_plan(E.queries()["q30_minhash_lsh"](spark, "/root/testdata/sf0.01"))
    assert "Scan ExistingRDD" in plan
    assert "array_distinct(transform(sequence(" not in plan.replace(" ", "")


def test_simhash_pairs_filters_before_pair_dedup(spark):
    """r6 shape guard: the hamming filter and narrow projection must
    run BEFORE the (a_id, b_id) dedup, so the dedup never shuffles raw
    signatures.  Structural check on the optimized logical plan: no
    Deduplicate/Aggregate node may output a_sig/b_sig columns."""
    import __spark_entry__ as E

    df = E.queries()["q43_simhash_pairs"](spark, "/root/testdata/sf0.01")
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    for line in logical.splitlines():
        s = line.strip().lstrip("+-: ")
        if s.startswith(("Deduplicate", "Aggregate")):
            assert "a_sig" not in s and "b_sig" not in s, s


# ------------------------------------------ fast ZIP reader vs zipfile
def _stdlib_parse(data: bytes):
    """parse_document with the fast reader switched off."""
    from unittest import mock

    from dart_xbrl_crawler_spark import doc_parsers

    with mock.patch.object(doc_parsers, "_zip_entries_fast", return_value=None):
        return doc_parsers.parse_document(data)


def test_fast_zip_reader_defers_crafted_archives():
    """A local header whose name differs from the central directory's,
    or a central-directory uncompressed size that disagrees with the
    inflated member, sends the archive to zipfile, which alone decides
    (the fast reader used to accept both)."""
    import random
    import struct

    from dart_xbrl_crawler_spark import doc_parsers, fixtures

    doc = fixtures._mk_doc(random.Random(0), 2025, 3)
    good = fixtures.build_mini_xbrl_zip("00000001", "2025-03-31", doc)
    assert doc_parsers._zip_entries_fast(good) is not None
    corp, parsed = doc_parsers.parse_document(good)
    assert corp == "00000001" and parsed is not None
    assert _stdlib_parse(good) == (corp, parsed)

    loc = good.index(b"PK\x03\x04")
    renamed = good[: loc + 30] + b"X" + good[loc + 31 :]
    cen = good.index(b"PK\x01\x02")
    (usize,) = struct.unpack("<L", good[cen + 24 : cen + 28])
    longer, shorter = (
        good[: cen + 24] + struct.pack("<L", usize + d) + good[cen + 28 :]
        for d in (1, -1)
    )
    for crafted in (renamed, longer, shorter):
        assert doc_parsers._zip_entries_fast(crafted) is None
        assert doc_parsers.parse_document(crafted) == _stdlib_parse(crafted)
    # zipfile rejects the name mismatch and the truncating size (its
    # CRC then fails); the overstated size still reads to a valid CRC
    assert doc_parsers.parse_document(renamed) == (None, None)
    assert doc_parsers.parse_document(shorter) == (None, None)
    assert doc_parsers.parse_document(longer) == (corp, parsed)


# -------------------------------- charset sniff on odd-length payloads
def test_sniff_charset_odd_length_short_payloads():
    """The NUL-stripe test reads an even-length head, so an odd trailing
    byte never counts: a lone NUL is UTF-8 (it was utf-16-be before the
    clamp), and truncated BOM-less UTF-16 keeps its byte order."""
    from dart_xbrl_crawler_spark.functions.charset import sniff_charset

    assert sniff_charset(b"\x00") == "utf-8"
    assert sniff_charset(b"\x00\x00\x00") == "utf-8"
    assert sniff_charset("hello".encode("utf-16-be")[:-1]) == "utf-16-be"
    assert sniff_charset("hello".encode("utf-16-le")[:-1]) == "utf-16-le"
    assert sniff_charset(b"\x00a\x00") == "utf-16-be"
    assert sniff_charset(b"a\x00b") == "utf-16-le"

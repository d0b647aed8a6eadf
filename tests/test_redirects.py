"""Redirect (3xx) crawl semantics — engine ≡ simulator on a crafted web.

A crawler must NOT auto-follow redirects: the Location target lives on an
arbitrary host whose politeness budget and robots rules apply, so the
engine logs the source "redirected" and re-enqueues the target through the
normal discovery pipeline (canonicalize → robots → seen/frontier dedup),
inheriting the source's priority and depth unchanged (a redirect is the
same document at a new address, not a deeper link). Loops and
self-redirects terminate via the seen set. Reference parity note: the
reference's sequential crawler delegates redirect following to its HTTP
library (/root/reference/data_extraction/crawl_articles.py uses
newspaper's fetch); a distributed frontier has to schedule the target
explicitly — this is the engine's from-scratch semantics for that.

The crafted corpus exercises: a same-host chain, a cross-host redirect, a
two-node loop, a self-redirect, a robots-disallowed target, and the
priority/depth inheritance rule (pinned directly on the mid-crawl
frontier of both engine and simulator).
"""

from __future__ import annotations

import pytest

from news_crawler_slm_spark import schemas
from news_crawler_slm_spark.crawl.rounds import run_crawl, synthetic_fetcher
from news_crawler_slm_spark.crawl.semantics import CrawlParams
from news_crawler_slm_spark.crawl.simulator import simulate
from news_crawler_slm_spark.sources.tables import SnapshotCatalog
from tests.crawl_shared import _crawl_log

A = "https://a.example.com"
B = "https://b.example.com"
HTML = (
    b"<html><head><title>t</title></head>"
    b"<body><p>hello world article body content here</p></body></html>"
)

# (url, html, out_links, fetch_ok, lang, publisher, redirect_to)
WEB = [
    (
        f"{A}/start",
        HTML,
        [f"{A}/r1", f"{A}/r2", f"{A}/rloop", f"{A}/rdis", f"{A}/rself"],
        True,
        "en",
        "PubA",
        None,
    ),
    (f"{A}/r1", None, None, True, None, None, f"{A}/page1"),
    (f"{A}/page1", HTML, [], True, "en", "PubA", None),
    (f"{A}/r2", None, None, True, None, None, f"{B}/page2"),
    (f"{B}/page2", HTML, [], True, "en", "PubB", None),
    (f"{A}/rloop", None, None, True, None, None, f"{A}/rloop2"),
    (f"{A}/rloop2", None, None, True, None, None, f"{A}/rloop"),
    (f"{A}/rself", None, None, True, None, None, f"{A}/rself"),
    (f"{A}/rdis", None, None, True, None, None, f"{B}/private"),
    (f"{B}/private", HTML, [], True, "en", "PubB", None),
]
SEEDS = [(f"{A}/start", "a.example.com", "PubA", 1, False, 1.0)]
ROBOTS = [
    ("a.example.com", [], [], None),
    ("b.example.com", ["/private"], [], None),
]
PARAMS = CrawlParams(round_budget=6.0, max_articles=12, max_rounds=8)


def _frames(spark):
    return (
        spark.createDataFrame(WEB, schemas.WEB_REDIRECTS),
        spark.createDataFrame(SEEDS, schemas.SEEDS),
        spark.createDataFrame(ROBOTS, schemas.ROBOTS),
    )


@pytest.fixture(scope="module")
def sim_full():
    return simulate(SEEDS, ROBOTS, WEB, PARAMS)


@pytest.fixture(scope="module")
def engine_run(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("redirect_crawl") / "cat")
    web, seeds, robots = _frames(spark)
    state = run_crawl(spark, root, seeds, robots, synthetic_fetcher(web), PARAMS)
    return state, SnapshotCatalog(spark, root)


def test_engine_matches_simulator_with_redirects(engine_run, sim_full):
    _state, catalog = engine_run
    assert _crawl_log(catalog) == sim_full.crawl_log
    got_seen = {r["url"] for r in catalog.read_table("seen").collect()}
    assert got_seen == sim_full.seen
    got_pages = {r["url"] for r in catalog.read_table("pages").collect()}
    assert got_pages == set(sim_full.pages)


def test_url_alias_table(engine_run, sim_full):
    """Every redirect leaves a (round, source, canonical target) row in
    the url_aliases append table — the provenance the crawl_log's bare
    "redirected" status lacks (recorded even when robots/seen gates drop
    the target from the frontier, e.g. the disallowed /private hop)."""
    _state, catalog = engine_run
    got = {
        (r["round"], r["source_url"], r["target_url"])
        for r in catalog.read_table("url_aliases").collect()
    }
    assert got == sim_full.aliases
    assert (2, f"{A}/rdis", f"{B}/private") in got


def test_redirect_semantics_in_the_log(sim_full):
    by_status: dict[str, set[str]] = {}
    for _r, _s, _h, url, status in sim_full.crawl_log:
        by_status.setdefault(status, set()).add(url)
    # every redirect page is logged redirected, never fetched/failed
    assert by_status["redirected"] == {
        f"{A}/r1", f"{A}/r2", f"{A}/rloop", f"{A}/rloop2", f"{A}/rself", f"{A}/rdis"
    }
    assert by_status["fetched"] == {f"{A}/start", f"{A}/page1", f"{B}/page2"}
    # redirect sources never produce pages; targets do
    assert set(sim_full.pages) == {f"{A}/start", f"{A}/page1", f"{B}/page2"}
    # the loop, the self-redirect, and the disallowed target died: frontier
    # drained and /private was never scheduled
    assert sim_full.frontier == {}
    assert f"{B}/private" not in sim_full.seen


def test_target_inherits_priority_and_depth(spark, tmp_path):
    """After round 2 (seed fetched, redirect pages popped) the pending
    targets must carry the SOURCE's priority and depth — priority 0.0 and
    depth 1, not the child_priority/-depth+1 a plain href would get — in
    both engines."""
    two = CrawlParams(round_budget=6.0, max_articles=12, max_rounds=2)
    sim2 = simulate(SEEDS, ROBOTS, WEB, two)
    assert sim2.frontier[f"{A}/page1"] == ("a.example.com", 0.0, 1, 2)
    assert sim2.frontier[f"{B}/page2"] == ("b.example.com", 0.0, 1, 2)

    web, seeds, robots = _frames(spark)
    root = str(tmp_path / "cat2")
    run_crawl(spark, root, seeds, robots, synthetic_fetcher(web), two)
    catalog = SnapshotCatalog(spark, root)
    rows = {
        r["url"]: (r["host"], r["priority"], r["depth"], r["discovered_round"])
        for r in catalog.read_table("frontier").collect()
    }
    assert rows[f"{A}/page1"] == ("a.example.com", 0.0, 1, 2)
    assert rows[f"{B}/page2"] == ("b.example.com", 0.0, 1, 2)
    assert set(rows) == set(sim2.frontier)


def test_redirect_counters(engine_run):
    _state, catalog = engine_run
    per_round = {
        s.counters["round"]: s.counters
        for s in catalog.lineage()
        if "round" in s.counters
    }
    # round 2 pops the five redirect pages discovered from the seed; round
    # 3 pops the loop's second hop (plus the two real targets)
    assert per_round[2]["redirected"] == 5
    assert per_round[3]["redirected"] == 1
    assert per_round[2]["failed"] == 0 and per_round[3]["failed"] == 0
    assert per_round[3]["fetched"] == 2


def test_http_fetcher_redirects_match_simulator(spark, tmp_path, sim_full):
    """The REAL HTTP form: the gateway serves the redirect rows as genuine
    301 + Location responses, http_fetcher captures them WITHOUT following
    (http.client never auto-follows; the target must wait for its own
    host's politeness slot), and the committed crawl state is identical to
    the synthetic-join fetcher and the sequential simulator — redirect
    handling is fetcher-implementation-independent."""
    from loopback_gateway import Gateway

    from news_crawler_slm_spark.crawl.httpfetch import http_fetcher

    gw = Gateway(WEB)
    try:
        _web, seeds, robots = _frames(spark)
        fetcher = http_fetcher(gw.url, crawl_delays={}, timeout_s=5.0, max_retries=2)
        root = str(tmp_path / "http_redirect_cat")
        run_crawl(spark, root, seeds, robots, fetcher, PARAMS)
        catalog = SnapshotCatalog(spark, root)

        assert _crawl_log(catalog) == sim_full.crawl_log
        assert {
            r["url"] for r in catalog.read_table("seen").collect()
        } == sim_full.seen
        assert {
            r["url"] for r in catalog.read_table("pages").collect()
        } == set(sim_full.pages)
        # the redirect exchanges really happened over the wire: each 3xx
        # source was requested exactly once and never re-fetched
        reqs = [f"https://{h}{p}" for h, _t, p in gw.request_log]
        for u in (f"{A}/r1", f"{A}/r2", f"{A}/rloop", f"{A}/rloop2", f"{A}/rself"):
            assert reqs.count(u) == 1, u
        # the disallowed target was never requested (robots gated it out of
        # the frontier, so no politeness slot was ever spent on it)
        assert f"{B}/private" not in reqs
    finally:
        gw.close()


def test_resolve_aliases_chains_cycles_and_latest_round(spark):
    """Pointer-doubling closure over url_aliases: chains land on their
    terminal url, cycle members stay non-terminal, and a source whose
    redirect target CHANGED across rounds resolves through the latest
    round's edge."""
    from news_crawler_slm_spark.crawl.rounds import resolve_aliases

    rows = [
        # 3-hop chain: a -> b -> c -> PAGE
        (1, "https://h/a", "https://h/b"),
        (1, "https://h/b", "https://h/c"),
        (2, "https://h/c", "https://h/page"),
        # 2-cycle: x <-> y
        (1, "https://h/x", "https://h/y"),
        (1, "https://h/y", "https://h/x"),
        # self-cycle
        (1, "https://h/self", "https://h/self"),
        # target changed across rounds: old edge to /dead, round-3 edge wins
        (1, "https://h/moved", "https://h/dead-end"),
        (3, "https://h/moved", "https://h/page"),
    ]
    df = spark.createDataFrame(
        rows, "round long, source_url string, target_url string"
    )
    got = {
        r["source_url"]: (r["final_url"], r["terminal"])
        for r in resolve_aliases(df).collect()
    }
    assert got["https://h/a"] == ("https://h/page", True)
    assert got["https://h/b"] == ("https://h/page", True)
    assert got["https://h/c"] == ("https://h/page", True)
    assert got["https://h/moved"] == ("https://h/page", True)
    assert not got["https://h/x"][1] and not got["https://h/y"][1]
    assert got["https://h/self"] == ("https://h/self", False)
    # cycle members resolve within the cycle, never escape it
    assert got["https://h/x"][0] in {"https://h/x", "https://h/y"}


def test_live_pages_resolved_serves_content_through_the_chain(engine_run):
    """live_pages_resolved must answer a content lookup by a REDIRECTED
    address: the crawled corpus's chain r1 -> r2 -> page1 gives r1 and r2
    rows serving page1's exact stored text (via_alias=true), while direct
    page rows pass through unchanged; cycle urls (rloop, rself) get no
    row — there is nothing terminal to serve."""
    from news_crawler_slm_spark.crawl.rounds import (
        live_pages,
        live_pages_resolved,
    )

    _state, catalog = engine_run
    lp = {r["url"]: r["text"] for r in live_pages(catalog).collect()}
    res = {
        r["url"]: (r["text"], r["via_alias"])
        for r in live_pages_resolved(catalog).collect()
    }
    # direct rows intact
    for u, t in lp.items():
        assert res[u] == (t, False)
    # the chain: both hops serve page1's bytes
    assert res[f"{A}/r1"] == (lp[f"{A}/page1"], True)
    assert res[f"{A}/r2"] == (lp[f"{A}/page1"], True)
    # cycles and the robots-blocked hop resolve to nothing servable
    for u in (f"{A}/rloop", f"{A}/rloop2", f"{A}/rself", f"{A}/rdis"):
        assert u not in res


def test_resolve_aliases_random_functional_graphs(spark):
    """Randomized closure check: 30 seeded random functional graphs (each
    node redirects to one pseudo-random node, self-loops and long chains
    included) resolved in ONE Spark pass over their disjoint union must
    match a python pointer-chase with cycle detection, node for node."""
    import random

    from news_crawler_slm_spark.crawl.rounds import resolve_aliases

    rows, want = [], {}
    for case in range(30):
        rng = random.Random(1000 + case)
        n = 2 + rng.randrange(12)
        nodes = [f"https://g{case}/n{i}" for i in range(n)]
        # each node aliases ONE target; ~30% of nodes are terminal pages
        # (no outgoing alias row), the rest point at a random node
        edges = {}
        for u in nodes:
            if rng.random() < 0.7:
                edges[u] = nodes[rng.randrange(n)]
        for rnd_no, (u, v) in enumerate(sorted(edges.items())):
            rows.append((rnd_no % 3 + 1, u, v))
        for u in edges:
            seen, cur = [], u
            while cur in edges and cur not in seen:
                seen.append(cur)
                cur = edges[cur]
            if cur in seen or (cur in edges):  # walked into a cycle
                want[u] = None  # non-terminal: final url unspecified
            else:
                want[u] = cur

    df = spark.createDataFrame(rows, "round long, source_url string, target_url string")
    got = {
        r["source_url"]: (r["final_url"], r["terminal"])
        for r in resolve_aliases(df).collect()
    }
    assert set(got) == set(want)
    for u, final in want.items():
        if final is None:
            assert not got[u][1], (u, got[u])
        else:
            assert got[u] == (final, True), (u, got[u], final)

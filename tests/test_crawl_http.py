"""Crawl-engine tests for the real-HTTP fetch channel (SURVEY.md §5.2):

1. loopback-HTTP fetcher (keep-alive, retries, politeness pacing) commits
   the IDENTICAL state as the synthetic-join fetcher and the simulator;
2. the HTTP fetcher runs once per round: one GET per popped URL, and its
   persisted output is released when the round commits;
3. RFC 9110 conditional revalidation (If-None-Match / 304) round-trip,
   incl. change-rate freshness weighting;
4. Retry-After server backoff paces the retry;
5. cuckoo-filter retirement deletes fingerprints in place.

Split from test_crawl.py so the two crawl e2e families can run in
separate pytest processes (scripts/shard_tests.py) — shared
PARAMS/SCALE/helpers live in crawl_shared.py, so the files cannot drift.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawl_shared import PARAMS, SCALE, _crawl_log, _retire_twin

from news_crawler_slm_spark.crawl.rounds import run_crawl, synthetic_fetcher
from news_crawler_slm_spark.crawl.simulator import simulate
from news_crawler_slm_spark.sources.synthetic_web import generate_web, web_dataframes
from news_crawler_slm_spark.sources.tables import SnapshotCatalog


@pytest.fixture(scope="module")
def corpus():
    return generate_web(SCALE)


@pytest.fixture(scope="module")
def sim_result(corpus):
    return simulate(corpus["seeds"], corpus["robots"], corpus["web"], PARAMS)


def test_http_fetcher_matches_simulator(spark, tmp_path, corpus, sim_result):
    """S2's REAL form: a full crawl through the loopback-HTTP mapInPandas
    fetcher (keep-alive connection reuse, per-row timeout, 503-retry,
    in-batch politeness pacing) must produce the IDENTICAL crawl log
    (ordering), seen set and page bytes as the synthetic-join fetcher and
    the sequential simulator — the engine's committed state is
    fetcher-implementation-independent. Also asserts the politeness spacing
    actually happened (server-side arrival gaps) and that the transient-
    error retry path really ran (flaky URLs got a 503 first). The fetch
    runs once per round with default params: every popped URL's requests
    are one fetch's worth, and no persisted RDD outlives the crawl."""
    from collections import Counter

    from loopback_gateway import Gateway

    from news_crawler_slm_spark.crawl.httpfetch import http_fetcher

    # two URLs the crawl really fetches that 503 once before succeeding:
    # the retry path must absorb them with no trace in the committed state
    fetched_urls = [u for _r, _s, _h, u, st in sim_result.crawl_log if st == "fetched"]
    flaky = fetched_urls[:2]
    gw = Gateway(corpus["web"], flaky_urls=flaky)
    try:
        dfs = web_dataframes(spark, SCALE)
        # pacing delays scaled 1/20 from the robots values so the test runs
        # in seconds; the BUDGET semantics (ordering) still use robots as-is
        delays = {r[0]: r[3] / 20.0 for r in corpus["robots"]}
        max_retries = 2
        fetcher = http_fetcher(
            gw.url, crawl_delays=delays, timeout_s=5.0, max_retries=max_retries
        )
        root = str(tmp_path / "http_cat")
        persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
        run_crawl(spark, root, dfs["seeds"], dfs["robots"], fetcher, PARAMS)
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
        catalog = SnapshotCatalog(spark, root)

        assert _crawl_log(catalog) == sim_result.crawl_log
        assert {r["url"] for r in catalog.read_table("seen").collect()} == sim_result.seen
        got_pages = {
            r["url"]: (r["text"], r["lang"], r["publisher"])
            for r in catalog.read_table("pages").collect()
        }
        assert got_pages == sim_result.pages

        # politeness: consecutive same-host arrivals spaced >= the host's
        # crawl delay. The CLIENT enforces exact send spacing; the server
        # sees send + transit/thread-scheduling jitter, so the per-gap
        # floor is loose (0.3x) and the per-host MEAN carries the real
        # assertion (jitter cancels in the mean). At least one host must
        # have been paced more than once inside a round.
        times = gw.per_host_request_times()
        tight = 0
        for host, ts in times.items():
            gaps = [b - a for a, b in zip(ts, ts[1:])]
            assert all(g >= delays[host] * 0.3 for g in gaps), (host, gaps)
            if gaps:
                assert sum(gaps) / len(gaps) >= delays[host] * 0.7, (host, gaps)
            tight += sum(1 for g in gaps if g < 2.0)
        assert tight > 0  # intra-round pacing was actually exercised

        # one fetch per popped url: a fetched url took one GET, a flaky one
        # a 503 then a 200, and a failed one (the gateway answers 503 for
        # every request) 1 + max_retries GETs
        expected = Counter({
            u: 2 if u in flaky else 1 if st == "fetched" else 1 + max_retries
            for _r, _s, _h, u, st in sim_result.crawl_log
        })
        assert Counter(f"https://{h}{p}" for h, _t, p in gw.request_log) == expected
    finally:
        gw.close()


def test_retire_with_cuckoo_incremental_deletes(spark, tmp_path, corpus, sim_result):
    """The cuckoo fallback's raison d'être: retirement DELETES fingerprints
    in place (no bucket rebuild). Survivors must all still probe maybe-seen
    (zero false negatives), retired urls must overwhelmingly probe
    definitely-new (only 16-bit fp collisions may linger), and the
    continued crawl stays consistent."""
    from news_crawler_slm_spark.crawl.frontier import BloomStore
    from news_crawler_slm_spark.crawl.rounds import retire_and_requeue
    from news_crawler_slm_spark.functions import urls as U

    dfs = web_dataframes(spark, SCALE)
    fetcher = synthetic_fetcher(dfs["web"])
    root = str(tmp_path / "retire_cuckoo_cat")
    run_crawl(spark, root, dfs["seeds"], dfs["robots"], fetcher, PARAMS,
              seen_filter="cuckoo")
    catalog = SnapshotCatalog(spark, root)
    rounds_run = sim_result.rounds_run

    ttl = rounds_run - 2
    retired, requeued, _hc = _retire_twin(sim_result, corpus["robots"], ttl)
    n = retire_and_requeue(
        spark, root, dfs["robots"], PARAMS, ttl_rounds=ttl,
        requeue_priority=5.0, seen_filter="cuckoo",
    )
    assert n == len(retired)

    store = BloomStore(root, PARAMS, filter_kind="cuckoo")
    probed = store.probe(catalog.read_table("seen"), rounds_run)
    assert probed.where(~F.col("maybe_seen")).count() == 0

    # the deletes really happened: retired fingerprints now probe new
    rdf = spark.createDataFrame([(u,) for u in sorted(retired)], "url string").select(
        U.host_bucket(U.host_of(F.col("url")), PARAMS.n_buckets).alias("bucket"),
        F.xxhash64(F.col("url")).alias("url_hash"),
    )
    still_maybe = store.probe(rdf, rounds_run).where(F.col("maybe_seen")).count()
    assert still_maybe <= max(1, len(retired) // 10), (still_maybe, len(retired))

    # continued crawl under the cuckoo filter re-fetches and stays exact
    run_crawl(spark, root, dfs["seeds"], dfs["robots"], fetcher, PARAMS,
              max_rounds=2, seen_filter="cuckoo")
    later = {
        r["url"]
        for r in catalog.read_table("crawl_log").collect()
        if r["round"] > rounds_run
    }
    assert later & requeued
    # every url the continuation popped re-entered seen exactly once
    seen_rows = catalog.read_table("seen").groupBy("url").count()
    assert seen_rows.where(F.col("count") > 1).count() == 0


def test_conditional_revalidation_roundtrip(spark, tmp_path, corpus, sim_result):
    """HTTP conditional revalidation (RFC 9110 If-None-Match / 304): after a
    full crawl through the loopback gateway, retire EVERY seen url and
    recrawl with validators from live_pages. Unchanged pages must come back
    as 304s — logged ``revalidated``, counted in the round counters, with NO
    new pages append (live_pages keeps the original bytes) — while a page
    mutated between crawls must come back 200 with fresh bytes and a new
    ETag. This is the TTL-recrawl fast path: most of a re-crawl costs a
    header exchange, not a body + extraction."""
    from loopback_gateway import Gateway

    from news_crawler_slm_spark.crawl.httpfetch import http_fetcher
    from news_crawler_slm_spark.crawl.rounds import live_pages, retire_and_requeue
    from news_crawler_slm_spark.functions.html_clean import clean_html

    gw = Gateway(corpus["web"])
    try:
        dfs = web_dataframes(spark, SCALE)
        delays = {r[0]: r[3] / 20.0 for r in corpus["robots"]}
        root = str(tmp_path / "reval_cat")
        fetcher = http_fetcher(gw.url, crawl_delays=delays, timeout_s=5.0, max_retries=2)
        run_crawl(spark, root, dfs["seeds"], dfs["robots"], fetcher, PARAMS)
        catalog = SnapshotCatalog(spark, root)
        rounds_run = sim_result.rounds_run

        # every stored page carries the validator the gateway served
        lp0 = {r["url"]: (r["text"], r["etag"]) for r in live_pages(catalog).collect()}
        assert lp0 and all(e for _t, e in lp0.values())

        # mutate one fetched page between crawls: new body, new ETag
        mutated = sorted(lp0)[0]
        new_html = b"<html><body><p>updated body after edit.</p></body></html>"
        gw.mutate(mutated, new_html)

        # retire EVERYTHING seen; requeue through today's robots gate
        validators = live_pages(catalog).select("url", "etag")
        n = retire_and_requeue(
            spark, root, dfs["robots"], PARAMS, ttl_rounds=0, requeue_priority=5.0
        )
        assert n == len(sim_result.seen)

        fetcher2 = http_fetcher(
            gw.url, crawl_delays=delays, timeout_s=5.0, max_retries=2,
            validators=validators,
        )
        run_crawl(
            spark, root, dfs["seeds"], dfs["robots"], fetcher2, PARAMS, max_rounds=8
        )

        later = [
            (r["url"], r["status"])
            for r in catalog.read_table("crawl_log").collect()
            if r["round"] > rounds_run
        ]
        revalidated = {u for u, s in later if s == "revalidated"}
        refetched = {u for u, s in later if s == "fetched"}
        assert mutated in refetched
        # every re-popped url with an unchanged stored copy was a 304
        assert revalidated and revalidated <= set(lp0) - {mutated}
        # the gateway really saw conditional requests + 304 answers
        cond = {(u, st) for u, _inm, st in gw.conditional_log}
        assert all((u, 304) in cond for u in revalidated)
        assert (mutated, 200) in cond

        # pages chain: 304 urls keep exactly their original single row;
        # the mutated url holds two copies and live_pages picks the new one
        counts = {
            r["url"]: r["count"]
            for r in catalog.read_table("pages").groupBy("url").count().collect()
        }
        lp1 = {r["url"]: (r["text"], r["fetch_round"], r["etag"]) for r in live_pages(catalog).collect()}
        for u in revalidated:
            assert counts[u] == 1, u
            assert lp1[u][0] == lp0[u][0], u
        assert counts[mutated] == 2
        text, fr, etag1 = lp1[mutated]
        assert fr > rounds_run
        assert text == clean_html(new_html.decode("utf-8"))
        assert etag1 != lp0[mutated][1]

        # the revalidations landed in the committed round counters
        total_reval = sum(
            int(s.counters.get("revalidated", 0))
            for s in catalog.lineage()
            if int(s.counters.get("round", 0)) > rounds_run
        )
        assert total_reval == sum(1 for _u, s in later if s == "revalidated")

        # ---- freshness signal: full re-fetch = change, 304 = no change
        from news_crawler_slm_spark.crawl.rounds import change_rates

        rates = {
            r["url"]: (r["revisits"], r["changes"])
            for r in change_rates(catalog).collect()
        }
        assert rates[mutated][0] >= 1 and rates[mutated][1] >= 1
        for u in revalidated:
            assert rates[u][1] == 0 and rates[u][0] >= 1, u

        # ---- freshness-weighted requeue: the changed page re-enters the
        # frontier ABOVE the unchanged ones (recrawl what moves)
        n2 = retire_and_requeue(
            spark, root, dfs["robots"], PARAMS, ttl_rounds=0,
            requeue_priority=1.0, freshness_weight=10.0,
        )
        assert n2 > 0
        front = {
            r["url"]: r["priority"]
            for r in catalog.read_table("frontier").collect()
        }
        assert front[mutated] == 1.0 + 10.0 * rates[mutated][1] / rates[mutated][0]
        for u in revalidated:
            if u in front:
                assert front[u] == 1.0, u
                assert front[mutated] > front[u]
    finally:
        gw.close()


def test_retry_after_paces_the_retry(spark):
    """On a 503 with Retry-After, the fetcher waits the server-named
    backoff before retrying (RFC 9110 §10.2.3) — the server-driven
    complement to client-side politeness; without the header, retries are
    immediate (politeness-gap only)."""
    from loopback_gateway import Gateway

    from news_crawler_slm_spark.crawl.httpfetch import http_fetcher
    from news_crawler_slm_spark.crawl.semantics import host_of, path_of

    url = "https://ra.example.com/page"
    rows = [(url, b"<html><body><p>hello.</p></body></html>", [], True, "en", "pubx")]

    def one_fetch(gw):
        fetcher = http_fetcher(
            gw.url, crawl_delays={"ra.example.com": 0.0}, timeout_s=5.0, max_retries=2
        )
        popped = spark.createDataFrame(
            [("ra.example.com", url, 1)], "host string, url string, seq long"
        )
        fetched = fetcher(popped)
        out = fetched.collect()
        fetched.unpersist()
        assert len(out) == 1 and out[0]["fetch_ok"]
        ts = [t for h, t, p in gw.request_log if p == path_of(url)]
        assert len(ts) == 2  # one 503, one 200
        return ts[1] - ts[0]

    gw = Gateway(rows, flaky_urls=[url], retry_after=0.8)
    try:
        gap_with = one_fetch(gw)
    finally:
        gw.close()
    gw2 = Gateway(rows, flaky_urls=[url])
    try:
        gap_without = one_fetch(gw2)
    finally:
        gw2.close()
    # loose wall-clock floors (shared box): the named backoff dominates
    assert gap_with >= 0.5, gap_with
    assert gap_without < 0.5, gap_without
    assert gap_with > gap_without


def test_if_modified_since_revalidation_roundtrip(spark, tmp_path):
    """The weak-validator twin of the If-None-Match roundtrip (RFC 9110
    §13.1.3): hosts that serve NO ETag — a large slice of the real web —
    must still revalidate via If-Modified-Since from the stored
    Last-Modified. Unchanged pages come back 304/``revalidated`` with no
    pages append; a page mutated between crawls (advanced Last-Modified)
    comes back 200 with fresh bytes; hosts WITH ETags keep using the
    strong validator (their conditional requests carry If-None-Match,
    never If-Modified-Since)."""
    from loopback_gateway import Gateway

    from news_crawler_slm_spark.crawl.rounds import live_pages, retire_and_requeue
    from news_crawler_slm_spark.crawl.httpfetch import http_fetcher
    from news_crawler_slm_spark.sources.synthetic_web import WebScale

    scale = WebScale(n_hosts=4, pages_per_host_max=8, links_per_page=3, seed=11)
    corpus = generate_web(scale)
    no_etag = {"news0.example.com", "news2.example.com"}
    gw = Gateway(corpus["web"], no_etag_hosts=no_etag)
    try:
        dfs = web_dataframes(spark, scale)
        delays = {r[0]: r[3] / 100.0 for r in corpus["robots"]}
        root = str(tmp_path / "ims_cat")
        fetcher = http_fetcher(gw.url, crawl_delays=delays, timeout_s=5.0, max_retries=2)
        state = run_crawl(spark, root, dfs["seeds"], dfs["robots"], fetcher, PARAMS)
        catalog = SnapshotCatalog(spark, root)
        rounds_run = state.round

        lp0 = {
            r["url"]: (r["text"], r["etag"], r["last_modified"])
            for r in live_pages(catalog).collect()
        }
        weak = {u for u in lp0 if u.split("/")[2] in no_etag}
        strong = set(lp0) - weak
        assert weak and strong
        # no-etag hosts: Last-Modified only; etag hosts: both validators
        assert all(lp0[u][1] is None and lp0[u][2] for u in weak)
        assert all(lp0[u][1] and lp0[u][2] for u in strong)

        mutated = sorted(weak)[0]
        gw.mutate(mutated, b"<html><body><p>edited since last crawl.</p></body></html>")

        validators = live_pages(catalog).select("url", "etag", "last_modified")
        retire_and_requeue(
            spark, root, dfs["robots"], PARAMS, ttl_rounds=0, requeue_priority=5.0
        )
        fetcher2 = http_fetcher(
            gw.url, crawl_delays=delays, timeout_s=5.0, max_retries=2,
            validators=validators,
        )
        run_crawl(
            spark, root, dfs["seeds"], dfs["robots"], fetcher2, PARAMS, max_rounds=8
        )

        later = [
            (r["url"], r["status"])
            for r in catalog.read_table("crawl_log").collect()
            if r["round"] > rounds_run
        ]
        revalidated = {u for u, s in later if s == "revalidated"}
        refetched = {u for u, s in later if s == "fetched"}
        assert mutated in refetched
        assert revalidated & weak  # weak-validator 304s actually happened
        assert revalidated <= set(lp0) - {mutated}

        # the conditional channel each host class used, from the wire log
        ims_304 = {u for u, v, st in gw.conditional_log if v.startswith("IMS ") and st == 304}
        inm_304 = {u for u, v, st in gw.conditional_log if not v.startswith("IMS ") and st == 304}
        assert revalidated & weak <= ims_304
        assert revalidated & strong <= inm_304
        assert not (ims_304 & strong)  # strong hosts never fell back to IMS
        assert any(u == mutated and v.startswith("IMS ") and st == 200
                   for u, v, st in gw.conditional_log)

        # pages chain: 304 urls keep their single row; the mutated url has
        # two and live_pages serves the new bytes + advanced Last-Modified
        counts = {
            r["url"]: r["count"]
            for r in catalog.read_table("pages").groupBy("url").count().collect()
        }
        lp1 = {
            r["url"]: (r["text"], r["etag"], r["last_modified"])
            for r in live_pages(catalog).collect()
        }
        for u in revalidated:
            assert counts[u] == 1 and lp1[u][0] == lp0[u][0], u
        assert counts[mutated] == 2
        assert lp1[mutated][0] != lp0[mutated][0]
        assert lp1[mutated][2] != lp0[mutated][2]  # Last-Modified advanced
    finally:
        gw.close()

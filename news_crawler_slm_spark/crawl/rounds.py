"""Crawl round loop: Structured-Streaming-style micro-batches over the
frontier, committed as snapshots, resumable from any checkpoint.

Each round (reference analog: one publisher's crawl of ≤ max_articles,
crawl_articles.py:93-100 — here all hosts advance concurrently):

  pop (W5, politeness budget) → fetch → extract (clean_html Arrow UDF)
  → discover links → bloom+exact seen dedup → commit snapshot(round)

State shape per round:
- frontier, host_counts: rewritten (content churns, both bounded).
- seen, pages, crawl_log: append-only deltas — the snapshot manifest chains
  delta files (Iceberg append pattern). Writing O(round) not O(history) is
  what keeps a 10^10-URL crawl's commit cost flat.
- one counting action per round: ``popped.count()`` materializes the
  cached pop and is the stop condition; fetched/failed counters ride the
  crawl-log delta write as an ``Observation`` (no extra job).

A snapshot commits atomically or not at all; ``run_crawl`` with the same
catalog root resumes from the latest committed snapshot and produces
byte-identical state to an uninterrupted run (tested in test_crawl.py).
Exact ordering equivalence with the sequential simulator rules out async
triggers — rounds are deterministic batch jobs driven from here
(SURVEY.md §2.9).
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import clean_html_udf
from ..session import cache_scope, scoped
from ..sources.tables import SnapshotCatalog
from .frontier import (
    BloomStore,
    attach_seq,
    dedup_new_urls,
    discover_links,
    frontier_from_seeds,
    pop_round_raw,
)
from .semantics import CrawlParams

# A fetcher maps the popped batch to the same rows plus (html, out_links,
# fetch_ok, lang, publisher). build_round may evaluate its plan twice per
# round, so a fetcher with side effects (a live HTTP GET) returns its output
# ``scoped``; the round's cache scope releases it when the round commits.
Fetcher = Callable[[DataFrame], DataFrame]


def synthetic_fetcher(web: DataFrame) -> Fetcher:
    """Offline fetch backend: join the deterministic web table by canonical
    url. A real deployment swaps this for a mapInPandas HTTP stage with
    per-task timeouts (config.json:6 analog) — same contract: adds html,
    out_links, fetch_ok, lang, publisher.

    Join shape matters at scale: the popped batch is small (one round's
    budget) while the web/html side is the heavy one, so the hot path is an
    INNER join broadcasting the popped side (an outer join can't build on
    the preserved side) plus a pruned-column anti-join for misses — html
    bytes never shuffle, stay in their scan/cache partitions, and the
    downstream Arrow extract stage keeps full partition parallelism (north
    rule: no raw-URL/html shuffles; SURVEY.md §4.3)."""

    def fetch(popped: DataFrame) -> DataFrame:
        # the optional redirect channel rides through when the web table
        # declares it (a 3xx row: fetch_ok=true, html null, redirect_to set)
        has_rd = "redirect_to" in web.columns
        cols = ["html", "out_links", "fetch_ok", "lang", "publisher"] + (
            ["redirect_to"] if has_rd else []
        )
        w = web.select(F.col("url").alias("w_url"), *cols)
        # hot path: inner broadcast-hash join, build side = popped (small),
        # stream side = web scan — html stays in its scan/cache partitions.
        hits = w.join(F.broadcast(popped), popped.url == w.w_url, "inner").drop("w_url")
        # misses (404 analog): tiny anti-join on the pruned url column only.
        misses = popped.join(
            F.broadcast(w.select("w_url")), popped.url == F.col("w_url"), "left_anti"
        ).select(
            "*",
            F.lit(None).cast("binary").alias("html"),
            F.lit(None).cast("array<string>").alias("out_links"),
            F.lit(False).alias("fetch_ok"),
            F.lit(None).cast("string").alias("lang"),
            F.lit(None).cast("string").alias("publisher"),
            *([F.lit(None).cast("string").alias("redirect_to")] if has_rd else []),
        )
        return hits.unionByName(misses)

    return fetch


@dataclass
class CrawlState:
    """Loop state. pages/crawl_log stay on disk during the loop (they are
    write-only for the crawl); read them via the catalog afterwards."""

    round: int
    frontier: DataFrame
    seen: DataFrame
    host_counts: DataFrame
    # adaptive politeness only (params.adaptive_politeness): (host,
    # delay_eff) — None when the feature is off, so the default crawl's
    # state shape (and its snapshots) are byte-identical to before
    host_delays: DataFrame | None = None


@dataclass
class RoundDeltas:
    frontier: DataFrame  # full rewrite
    host_counts: DataFrame  # full rewrite
    seen_delta: DataFrame
    pages_delta: DataFrame
    log_delta: DataFrame
    host_delays: DataFrame | None = None  # full rewrite (adaptive politeness)
    # append: (round, source_url, target_url) per redirect observed this
    # round — the provenance the crawl_log's bare "redirected" status
    # lacks. None when the fetcher has no redirect channel.
    aliases_delta: DataFrame | None = None


def _empty(spark: SparkSession, ddl: str) -> DataFrame:
    return spark.createDataFrame([], ddl)


def init_state(
    spark: SparkSession, seeds: DataFrame, robots: DataFrame, params: CrawlParams
) -> CrawlState:
    return CrawlState(
        round=0,
        frontier=frontier_from_seeds(seeds, robots, params),
        seen=_empty(spark, "bucket int, url_hash long, url string"),
        host_counts=_empty(spark, "host string, fetched long"),
        host_delays=(
            _empty(spark, "host string, delay_eff double")
            if params.adaptive_politeness
            else None
        ),
    )


def build_round(
    state: CrawlState,
    robots: DataFrame,
    fetcher: Fetcher,
    params: CrawlParams,
    bloom: BloomStore | None = None,
) -> tuple[RoundDeltas, DataFrame, DataFrame, int, float]:
    """Assemble one round's plan. Returns (deltas, popped, fetched_slim,
    n_popped, pop_latency_s); popped/fetched_slim are ``scoped`` caches, so
    build and consume a round inside one ``cache_scope()``.

    The pop is materialized HERE (cache + count): the count is the round's
    stop condition AND the measured frontier-pop latency, and knowing the
    popped size lets attach_seq pick the cheapest correct fetch-sequence
    implementation (single window over the cached rows at test/bench sizes,
    distributed rank at 10^6-page rounds — frontier.py:SEQ_RANK_THRESHOLD).

    Memory shape: only an html-FREE slim projection of the fetch result is
    cached (log/discovery/counters reuse it). The heavy html column streams
    from the fetch stage into the Arrow clean_html UDF at pages-write time —
    at 100 TB, caching or shuffling raw html per round would dominate
    everything. So the fetch plan may be EVALUATED TWICE per round (slim
    action + pages write): a re-scan for the synthetic fetcher, whose output
    is a pure function of its input. A fetcher with side effects persists
    its own output (httpfetch.http_fetcher), so it runs once per round and
    pages can never desynchronize from the crawl log."""
    rnd = state.round + 1

    popped_raw = scoped(
        pop_round_raw(state.frontier, robots, state.host_counts, params, state.host_delays),
        StorageLevel.MEMORY_AND_DISK_DESER,
    )
    t_pop = time.monotonic()
    n_popped = popped_raw.count()
    pop_latency = time.monotonic() - t_pop
    popped = attach_seq(popped_raw, n_popped)
    fetched_full = fetcher(popped)
    fetched_slim = scoped(fetched_full.drop("html"), StorageLevel.MEMORY_AND_DISK_DESER)
    ok_slim = fetched_slim.where(F.col("fetch_ok"))

    # Conditional-revalidation channel (httpfetch.py validators): a fetcher
    # may add (etag, not_modified). A 304 row is a successful fetch whose
    # content is UNCHANGED — logged "revalidated", budget re-occupied, but
    # no pages append (live_pages keeps serving the stored copy) and no
    # re-extraction. Fetchers without the channel behave as before.
    has_reval = "not_modified" in fetched_full.columns
    nm = F.col("not_modified") if has_reval else F.lit(False)
    etag_col = F.col("etag") if has_reval else F.lit(None).cast("string")
    lm_col = (
        F.col("last_modified")
        if "last_modified" in fetched_full.columns
        else F.lit(None).cast("string")
    )

    # Redirect channel (3xx, not auto-followed — politeness must apply to
    # the TARGET host too): a fetcher may add `redirect_to` (the
    # canonicalizable Location of a 301/302/307/308; null otherwise). A
    # redirect row is a successful exchange with no body: logged
    # "redirected", no pages append, no article-budget charge; the target
    # re-enters the crawl through the NORMAL discovery pipeline below
    # (canonicalize -> robots -> seen/frontier dedup), inheriting the
    # source's priority and depth unchanged — a redirect is the same
    # document at a new address, not a deeper link. Loops (a->b->a) and
    # self-redirects terminate via the seen set: every popped URL is seen
    # exactly once, so a chain of n distinct URLs resolves in <= n rounds
    # and cycles die at their first revisit. Fetchers without the column
    # behave exactly as before.
    has_redirect = "redirect_to" in fetched_full.columns
    rd = F.col("redirect_to") if has_redirect else F.lit(None).cast("string")

    log_delta = fetched_slim.select(
        F.lit(rnd).alias("round"),
        "seq",
        "host",
        "url",
        F.when(~F.col("fetch_ok"), "failed")
        .when(rd.isNotNull(), "redirected")
        .when(nm, "revalidated")
        .otherwise("fetched")
        .alias("status"),
    )
    pages_delta = fetched_full.where(F.col("fetch_ok") & ~nm & rd.isNull()).select(
        "url",
        clean_html_udf(F.col("html")).alias("text"),
        "lang",
        "publisher",
        F.lit(rnd).alias("fetch_round"),
        etag_col.alias("etag"),
        lm_col.alias("last_modified"),
    )

    frontier_rest = state.frontier.join(
        popped_raw.select("url_hash"), "url_hash", "left_anti"
    )
    links_in = ok_slim.select("url", "priority", "depth", "out_links")
    if has_redirect:
        # redirect targets ride the SAME discovery pipeline as hrefs, with
        # the parent's priority/depth pre-compensated (+1.0 / -1) so
        # discover_links' order-free max(priority)-1 / min(depth)+1 merge
        # yields priority = parent's, depth = parent's for them — and the
        # natural max/min when the same URL is also an href target
        links_in = ok_slim.select(
            "url",
            F.when(rd.isNotNull(), F.col("priority") + 1.0)
            .otherwise(F.col("priority"))
            .alias("priority"),
            F.when(rd.isNotNull(), F.col("depth") - 1)
            .otherwise(F.col("depth"))
            .alias("depth"),
            F.when(rd.isNotNull(), F.array(rd))
            .otherwise(F.col("out_links"))
            .alias("out_links"),
        )
    candidates = discover_links(links_in, robots, params, rnd)
    novel = dedup_new_urls(
        candidates,
        state.seen,
        frontier_rest,
        bloom,
        state.round if (bloom is not None and state.round > 0) else None,
    ).select(
        "bucket", "salt", "host", "url", "url_hash", "priority", "depth", "discovered_round"
    )
    novel = novel.join(popped_raw.select("url_hash"), "url_hash", "left_anti")

    # redirects occupy their round's politeness slot (they consumed a
    # request) but are not articles — they never charge the per-host
    # article cap
    counts_new = (
        state.host_counts.unionByName(
            ok_slim.where(rd.isNull())
            .groupBy("host")
            .agg(F.count("*").alias("fetched"))
        )
        .groupBy("host")
        .agg(F.sum("fetched").alias("fetched"))
    )

    delays_new = None
    if params.adaptive_politeness and state.host_delays is not None:
        from .frontier import aimd_delay_col

        # one row per host touched this round: did ANY fetch fail?
        outcomes = fetched_slim.groupBy("host").agg(
            (F.sum(F.when(F.col("fetch_ok"), 0).otherwise(1)) > 0).alias("had_fail")
        )
        # full-outer merge with current delays: touched hosts step by the
        # AIMD rule, untouched hosts carry their delay unchanged (recovery
        # only happens on rounds the host actually served)
        delays_new = (
            state.host_delays.join(outcomes, "host", "full_outer")
            .join(F.broadcast(robots.select("host", "crawl_delay")), "host", "left")
            .select(
                "host",
                F.when(
                    F.col("had_fail").isNull(), F.col("delay_eff")
                )
                .otherwise(
                    aimd_delay_col(
                        F.col("delay_eff"), F.col("crawl_delay"), F.col("had_fail")
                    )
                )
                .alias("delay_eff"),
            )
        )

    aliases_delta = None
    if has_redirect:
        from ..functions import urls as U

        # the alias FACT is the redirect itself — recorded for every 3xx
        # row regardless of whether robots/seen gates later drop the
        # target from the frontier; target stored CANONICALIZED so it
        # joins the engine's url identity everywhere else
        aliases_delta = fetched_slim.where(rd.isNotNull()).select(
            F.lit(rnd).alias("round"),
            F.col("url").alias("source_url"),
            U.canonical_url(rd).alias("target_url"),
        )

    deltas = RoundDeltas(
        frontier=frontier_rest.unionByName(novel),
        host_counts=counts_new,
        seen_delta=popped_raw.select("bucket", "url_hash", "url"),
        pages_delta=pages_delta,
        log_delta=log_delta,
        host_delays=delays_new,
        aliases_delta=aliases_delta,
    )
    return deltas, popped_raw, fetched_slim, n_popped, pop_latency


def run_crawl(
    spark: SparkSession,
    catalog_root: str,
    seeds: DataFrame,
    robots: DataFrame,
    fetcher: Fetcher,
    params: CrawlParams = CrawlParams(),
    use_bloom: bool = True,
    seen_filter: str = "bloom",
    max_rounds: int | None = None,
    output_partitions: int | None = 1,
    on_round: Callable[[int, dict, float, float], None] | None = None,
    compact_every: int | None = None,
    expire_keep: int | None = None,
) -> CrawlState:
    """Run (or resume) a crawl; one snapshot per round.

    Resume: if ``catalog_root`` holds a committed snapshot, state loads from
    it and the loop continues at the next round — the reference analog is
    the finished_publishers.txt skip (crawl_articles.py:61-70) but with
    atomic round granularity instead of whole-publisher truncate-on-rerun.

    ``output_partitions=1`` suits test-scale states; pass None at scale to
    keep natural partitioning.

    ``compact_every=K`` rewrites each append-chain table (seen, pages,
    crawl_log) into a single data directory after every K-th round
    (SnapshotCatalog.compact — maintenance snapshots in the reserved high
    id range, so a later resume's round ids can never collide). Without it
    a 10^4-round crawl accrues 10^4 delta dirs per chain and every
    seen-anti-join/page read pays a 10^4-way union of small scans — the
    read amplification compaction exists to fix. The loop re-reads state
    after compacting, so the very next round's plans already scan the
    single compacted directory. Resume across a compaction boundary is
    byte-identical to an uninterrupted run (tests/test_crawl.py).

    ``expire_keep=N`` runs the retention GC (SnapshotCatalog.
    expire_snapshots) after every round: only the newest N snapshots stay
    time-travelable, unreferenced data dirs are collected. N >= 2 keeps
    the resume guarantee and a fresh compaction's parent intact; resume
    across an expiry boundary equals an uninterrupted run
    (tests/test_snapshot_catalog.py).
    """
    catalog = SnapshotCatalog(spark, catalog_root)
    bloom = (
        BloomStore(catalog_root, params, filter_kind=seen_filter)
        if use_bloom
        else None
    )

    snap = catalog.snapshot()
    if snap is not None:
        state = CrawlState(
            round=int(snap.counters["round"]),
            frontier=catalog.read_table("frontier"),
            seen=catalog.read_table("seen"),
            host_counts=catalog.read_table("host_counts"),
            host_delays=(
                catalog.read_table("host_delays")
                if params.adaptive_politeness and "host_delays" in snap.tables
                else _empty(spark, "host string, delay_eff double")
                if params.adaptive_politeness
                else None
            ),
        )
    else:
        state = init_state(spark, seeds, robots, params)

    rounds_left = max_rounds if max_rounds is not None else params.max_rounds - state.round
    for _ in range(max(0, rounds_left)):
        t_round = time.monotonic()
        # the round's caches (pop, a fetcher's own, slim) live until its
        # commit: the scope releases them, dependents first, even if the
        # commit raises
        with cache_scope():
            # build_round materializes the pop (cache + count, no fetch): the
            # count is the stop condition, its duration the true frontier-pop
            # latency, and the known size picks the seq implementation.
            # fetched/failed counters ride the crawl_log write inside the
            # commit via an Observation — no separate fetch-materializing
            # counting action per round.
            deltas, popped, _slim, n_popped, pop_latency = build_round(
                state, robots, fetcher, params, bloom
            )
            rnd = state.round + 1
            if n_popped == 0:
                break

            if bloom is not None:
                bloom.update(deltas.seen_delta, state.round if state.round > 0 else None, rnd)

            from pyspark.sql import Observation

            obs = Observation(f"round-{rnd}")
            log_observed = deltas.log_delta.observe(
                obs,
                F.count(F.when(F.col("status") == "fetched", 1)).alias("fetched"),
                F.count(F.when(F.col("status") == "revalidated", 1)).alias(
                    "revalidated"
                ),
                F.count(F.when(F.col("status") == "redirected", 1)).alias(
                    "redirected"
                ),
                F.count("*").alias("n"),
            )

            def counters_fn() -> dict:
                # evaluated by commit() AFTER the table writes (the crawl_log
                # write fires the observation), BEFORE the manifest swap — so
                # the counters land in the same atomic snapshot.
                got = obs.get
                return {
                    "round": rnd,
                    "popped": n_popped,
                    "fetched": int(got["fetched"]),
                    "revalidated": int(got["revalidated"]),
                    "redirected": int(got["redirected"]),
                    "failed": int(
                        got["n"]
                        - got["fetched"]
                        - got["revalidated"]
                        - got["redirected"]
                    ),
                }

            rewrite_tables = {
                "frontier": deltas.frontier,
                "host_counts": deltas.host_counts,
            }
            if deltas.host_delays is not None:
                rewrite_tables["host_delays"] = deltas.host_delays
            if params.host_hll_p is not None:
                # per-host distinct-URL HLL riding the round commit: register
                # rows for this round's popped urls (the exact seen-delta
                # universe), max-merged into the committed table — idempotent,
                # so crash/replay/resume cannot double-count; O(hosts x 2^p)
                # rows total, never the url universe. Batch-equality contract:
                # tests/test_hll.py::test_crawl_host_hll_matches_batch.
                from ..operators.hll import hll_registers_by

                new_regs = hll_registers_by(
                    popped.select("host", "url"), ["host"], "url", p=params.host_hll_p
                )
                try:
                    prev_regs = catalog.read_table("host_url_hll")
                    new_regs = (
                        prev_regs.unionByName(new_regs)
                        .groupBy("host", "register")
                        .agg(F.max("rank").alias("rank"))
                    )
                except KeyError:
                    pass  # first round: no committed register table yet
                rewrite_tables["host_url_hll"] = new_regs
            appends = {
                "seen": deltas.seen_delta,
                "pages": deltas.pages_delta,
                "crawl_log": log_observed,
            }
            if deltas.aliases_delta is not None:
                appends["url_aliases"] = deltas.aliases_delta
            snap = catalog.commit(
                rnd,
                tables=rewrite_tables,
                appends=appends,
                counters=counters_fn,
                output_partitions=output_partitions,
                # frontier/seen live bucket-partitioned on disk: per-bucket scans
                # are co-located and prunable (SURVEY.md §4.3 partitioning)
                partition_by={"frontier": ["bucket"], "seen": ["bucket"]},
                # pages (python-UDF-heavy) writes alone first; the small
                # JVM-only state writes then overlap each other (tables.py)
                serial_first=("pages",),
            )
        counters = snap.counters
        if compact_every is not None and rnd % compact_every == 0:
            for t in ("seen", "pages", "crawl_log"):
                catalog.compact(
                    t,
                    output_partitions=output_partitions,
                    partition_by={"seen": ["bucket"]} if t == "seen" else None,
                )
        # retention GC after the round (and after any compaction): without
        # it a 10^4-round crawl keeps every frontier/host_counts rewrite
        # ever committed. expire_keep >= 2 preserves the resume guarantee
        # AND the parent round a just-committed compaction points at.
        if expire_keep is not None:
            catalog.expire_snapshots(keep_last=expire_keep)
        # re-read committed state: truncates lineage; every round is a pure
        # function of durable snapshots
        state = CrawlState(
            round=rnd,
            frontier=catalog.read_table("frontier"),
            seen=catalog.read_table("seen"),
            host_counts=catalog.read_table("host_counts"),
            host_delays=(
                catalog.read_table("host_delays")
                if deltas.host_delays is not None
                else None
            ),
        )
        if on_round is not None:
            on_round(rnd, counters, time.monotonic() - t_round, pop_latency)
    return state


def live_pages(
    catalog: SnapshotCatalog, snapshot_id: int | None = None
) -> DataFrame:
    """Latest fetch per url over the append-only pages chain (time-travel
    to ``snapshot_id`` when given — "the web as we knew it then").

    After TTL recrawls (retire_and_requeue) a url can legitimately hold
    several pages rows — history is immutable, the recrawl APPENDS. Readers
    that want "the current copy of the web" take the max-fetch_round row per
    url: one shuffle on url, per-group work O(recrawl count) — tiny groups,
    scale-safe at 10^10 urls."""
    from pyspark.sql import Window

    p = catalog.read_table("pages", snapshot_id)
    w = Window.partitionBy("url").orderBy(F.desc("fetch_round"))
    return p.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


def resolve_aliases(aliases: DataFrame, max_hops: int = 16) -> DataFrame:
    """Transitive closure of the ``url_aliases`` provenance table: for
    every url that ever redirected, the FINAL url its chain lands on —
    (source_url, final_url, terminal), where ``terminal`` is false for
    urls trapped in a redirect cycle (a → b → a never lands anywhere).

    Semantics: a source that redirected to different targets across
    rounds takes its LATEST round's target (the web's current opinion).
    Chains resolve by POINTER DOUBLING — f := f∘f per step — so a chain
    of length ``max_hops`` needs only ceil(log2(max_hops)) self-joins of
    the alias table, never a per-hop loop: the alias table is
    O(#redirects) — orders of magnitude under the corpus — and each
    doubling is one alias-sized join, so the closure costs ~4 small joins
    at the default 16-hop bound (HTTP clients cap chains far lower).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("source_url").orderBy(F.desc("round"))
    f = (
        aliases.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(F.col("source_url").alias("src"), F.col("target_url").alias("dst"))
    )
    hops = 1
    while hops < max_hops:
        nxt = f.select(F.col("src").alias("m_src"), F.col("dst").alias("m_dst"))
        f = f.join(nxt, f.dst == nxt.m_src, "left").select(
            "src", F.coalesce("m_dst", "dst").alias("dst")
        )
        hops *= 2
    # terminal = the landing url is not itself an alias source (cycle
    # members keep pointing inside the cycle and stay non-terminal)
    srcs = f.select(F.col("src").alias("t_src")).distinct()
    return f.join(srcs, f.dst == srcs.t_src, "left").select(
        F.col("src").alias("source_url"),
        F.col("dst").alias("final_url"),
        F.col("t_src").isNull().alias("terminal"),
    )


def live_pages_resolved(catalog: SnapshotCatalog) -> DataFrame:
    """``live_pages`` extended through redirect provenance: every alias
    SOURCE url gains a row serving its terminal target's current page (a
    content lookup by any historical address — 'the canonical copy for
    url X, even though X now redirects'). Alias rows carry
    ``via_alias=true``; direct rows pass through untouched. The alias
    mapping is redirect-sized and broadcasts; the corpus never
    re-shuffles."""
    lp = live_pages(catalog)
    try:
        aliases = catalog.read_table("url_aliases")
    except (KeyError, FileNotFoundError):
        return lp.withColumn("via_alias", F.lit(False))
    res = resolve_aliases(aliases).where(F.col("terminal"))
    via = (
        F.broadcast(res)
        .join(lp, res.final_url == lp.url, "inner")
        .drop("url", "final_url", "terminal")
        .withColumnRenamed("source_url", "url")
        .withColumn("via_alias", F.lit(True))
    )
    direct = lp.withColumn("via_alias", F.lit(False))
    return direct.unionByName(via.select(*direct.columns))


def corpus_drift_ks(
    catalog: SnapshotCatalog,
    snapshot_a: int,
    snapshot_b: int | None = None,
) -> DataFrame:
    """Distribution drift of the crawled corpus between two snapshots:
    the exact two-sample KS statistic (operators/drift.py) over the
    text-length distributions of ``live_pages`` at snapshot_a vs
    snapshot_b (default: current) — "did this recrawl change what our
    corpus looks like, or just refresh it". Returns the 1-row
    (n0, n1, d_scaled, ks_micro) frame; n0 is the older snapshot's side.

    Scale shape: two time-travel pages scans → one union → the KS core's
    support-sized aggregation + dim-sized CDF window; nothing driver-side
    beyond the 1-row result."""
    from pyspark.sql import functions as F

    from ..operators.drift import ks_statistic

    a = live_pages(catalog, snapshot_a).select(
        F.length("text").alias("len"), F.lit(0).alias("__g")
    )
    b = live_pages(catalog, snapshot_b).select(
        F.length("text").alias("len"), F.lit(1).alias("__g")
    )
    return ks_statistic(a.unionByName(b), "__g", "len")


def change_rates(catalog: SnapshotCatalog) -> DataFrame:
    """Per-url freshness estimate from crawl history — the signal a
    Cho/Garcia-Molina-style recrawl scheduler runs on. Among a url's
    SUCCESSFUL visits (status fetched or revalidated), the first fetch is
    the baseline; every later visit is a REVISIT, and a revisit that came
    back ``fetched`` means the content CHANGED — with conditional
    revalidation in use (httpfetch validators), an unchanged page comes
    back ``revalidated``, so a full body re-fetch IS the change signal.

    Returns (url, host, revisits, changes) as exact BIGINTs; divide
    downstream (changes/revisits is each url's observed change rate).
    One groupBy over the crawl_log append chain — compact it first on a
    long crawl; no driver-side data.
    """
    log = catalog.read_table("crawl_log")
    ok = log.where(F.col("status").isin("fetched", "revalidated"))
    return ok.groupBy("url").agg(
        F.first("host").alias("host"),
        (F.count("*") - 1).cast("long").alias("revisits"),
        F.greatest(
            F.lit(0).cast("long"),
            (F.sum((F.col("status") == "fetched").cast("long")) - 1).cast("long"),
        ).alias("changes"),
    )


def retire_and_requeue(
    spark: SparkSession,
    catalog_root: str,
    robots: DataFrame,
    params: CrawlParams = CrawlParams(),
    ttl_rounds: int = 10,
    requeue_priority: float = 0.0,
    freshness_weight: float = 0.0,
    use_bloom: bool = True,
    seen_filter: str = "bloom",
    output_partitions: int | None = 1,
) -> int:
    """TTL recrawl maintenance: retire every seen url whose LAST fetch
    attempt is ``ttl_rounds`` or more rounds old, and requeue it into the
    frontier so the next rounds fetch a fresh copy. Returns the retired
    count (0 = no-op, nothing committed).

    Reference analog: the reference re-runs a finished publisher only by
    deleting it from finished_publishers.txt and truncating its file
    (crawl_articles.py:61-79 — whole-publisher granularity, destructive).
    Here retirement is per-url and append-preserving: pages/crawl_log
    history stays immutable (``live_pages`` picks the newest copy), only
    the mutable state tables (seen / frontier / host_counts) are rewritten
    in ONE atomic maintenance snapshot (reserved high id range, same
    discipline as compaction — a resumed crawl can never collide with it).

    Semantics (deterministic, oracle-twinned in tests/test_crawl.py):
    - retired  = {url in seen : max(crawl_log.round for url) <= round-ttl}
    - seen     -> seen MINUS retired (exact url_hash anti-join)
    - frontier -> frontier UNION requeued, where requeued = retired urls
      that still pass today's robots gate (rules may have changed since the
      original crawl), at (requeue_priority, depth 0, discovered_round =
      current round); urls already re-discovered into the frontier are
      anti-joined out.
    - host_counts.fetched -= per-host count of retired urls whose last
      status was "fetched" (the per-host max_articles cap counts LIVE
      articles, so retirement frees budget for the recrawl), floored at 0.
    - the seen-filter blobs drop the retired fingerprints
      (BloomStore.retire): incremental per-entry deletes for "cuckoo" —
      the reason that fallback exists — or an exact rebuild of affected
      buckets for "bloom". Blob retirement runs AFTER the snapshot commit;
      a crash between leaves the filter over-approximating seen, which is
      always safe (no-false-negative invariant), and a re-invocation
      recomputes retired from the already-rewritten seen so fingerprints
      are never double-deleted (the cuckoo collision-safety condition).

    Scale shape: everything keys on (bucket, url_hash) — raw urls ride
    along in their partitions but never key a shuffle; the crawl_log scan
    is one groupBy(url_hash) over the append chain (compact it first on a
    long crawl); no driver-side data, one count action.
    """
    catalog = SnapshotCatalog(spark, catalog_root)
    snap = catalog.snapshot()
    if snap is None:
        raise ValueError("retire_and_requeue: catalog has no committed snapshot")
    rnd = int(snap.counters["round"])
    cutoff = rnd - ttl_rounds

    seen = catalog.read_table("seen")
    frontier = catalog.read_table("frontier")
    host_counts = catalog.read_table("host_counts")
    log = catalog.read_table("crawl_log")

    # last attempt per url: url popped at most once per round, so max_by is
    # tie-free; key the join on url_hash (the engine-wide url identity) —
    # the url string itself never keys a shuffle.
    last = log.groupBy("url").agg(
        F.max("round").alias("last_round"),
        F.max_by("status", "round").alias("last_status"),
    )
    # `retired` is read by the commit AND the filter retirement after it;
    # the scope releases it once both ran (or either raised)
    with cache_scope():
        retired = scoped(
            seen.join(
                last.select(
                    F.xxhash64("url").alias("url_hash"), "last_round", "last_status"
                ),
                "url_hash",
            )
            .where(F.col("last_round") <= F.lit(cutoff))
            .select("bucket", "url_hash", "url", "last_status")
        )
        n_retired = retired.count()
        if n_retired == 0:
            return 0

        seen_after = seen.join(retired.select("url_hash"), "url_hash", "left_anti")

        from .frontier import disallowed_col
        from ..functions import urls as U

        # Freshness-driven recrawl priority (opt-in): urls whose revisit
        # history shows content CHANGES re-enter the frontier above the flat
        # requeue_priority, proportional to their observed change rate — the
        # scheduler recrawls what actually moves (Cho & Garcia-Molina). With
        # weight 0 the plan and priorities are bit-identical to before.
        prio: F.Column = F.lit(requeue_priority).cast("double")
        base = retired.withColumn("host", U.host_of(F.col("url")))
        if freshness_weight:
            rates = change_rates(catalog).select(
                F.xxhash64("url").alias("url_hash"),
                (
                    F.lit(freshness_weight)
                    * F.col("changes")
                    / F.greatest(F.col("revisits"), F.lit(1)).cast("double")
                ).alias("__fresh_bonus"),
            )
            base = base.join(rates, "url_hash", "left")
            prio = prio + F.coalesce(F.col("__fresh_bonus"), F.lit(0.0))
        requeued = (
            base
            .join(F.broadcast(robots.select("host", "disallow", "allow")), "host", "left")
            .where(~disallowed_col(F.col("url"), F.col("disallow"), F.col("allow")))
            .select(
                "bucket",
                U.url_salt(F.col("url"), params.n_salts).alias("salt"),
                "host",
                "url",
                "url_hash",
                prio.alias("priority"),
                F.lit(0).alias("depth"),
                F.lit(rnd).alias("discovered_round"),
            )
            .join(frontier.select("url_hash"), "url_hash", "left_anti")
        )
        frontier_after = frontier.unionByName(requeued)

        dec = (
            # a url whose last visit was a 304 revalidation holds live budget
            # exactly like a fresh fetch — retiring either frees the slot
            retired.where(F.col("last_status").isin("fetched", "revalidated"))
            .withColumn("host", U.host_of(F.col("url")))
            .groupBy("host")
            .agg(F.count("*").alias("n_retired"))
        )
        hc_after = host_counts.join(dec, "host", "left").select(
            "host",
            F.greatest(
                F.lit(0).cast("long"),
                F.col("fetched") - F.coalesce(F.col("n_retired"), F.lit(0)),
            ).alias("fetched"),
        )

        from ..sources.tables import COMPACTION_ID_BASE

        counters = dict(snap.counters)
        counters["retired"] = int(counters.get("retired", 0)) + n_retired
        catalog.commit(
            catalog.next_snapshot_id(floor=COMPACTION_ID_BASE),
            tables={"frontier": frontier_after, "seen": seen_after, "host_counts": hc_after},
            counters=counters,
            output_partitions=output_partitions,
            partition_by={"frontier": ["bucket"], "seen": ["bucket"]},
        )

        if use_bloom:
            store = BloomStore(catalog_root, params, filter_kind=seen_filter)
            # read seen from the NEW snapshot: single rewritten dir, and the
            # bloom-kind bucket rebuild must see exactly the post-retire truth
            store.retire(retired.select("bucket", "url_hash"), catalog.read_table("seen"), rnd)
    return n_retired

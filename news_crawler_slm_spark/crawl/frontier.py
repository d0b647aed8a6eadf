"""Distributed frontier operations: pop (salted two-phase top-k under the
politeness budget), robots gating, link discovery, and the bloom-prefiltered
exact seen-set update.

Column-expression twins of ``crawl/semantics.py`` — the two files must stay
in lockstep (equivalence is asserted against the sequential simulator in
tests/test_crawl.py at multiple parallelism levels).

Scale design (SURVEY.md §4.3):
- frontier/seen shuffle on (bucket, url_hash, priority) — raw URLs stay in
  their partition files; nothing here shuffles html.
- hot hosts are salted: phase 1 takes the per-(host,salt) top-b, phase 2
  reduces to the exact per-host top-b — associative, exact, and the skew
  lands on S× more shuffle partitions.
- the per-round global fetch sequence is a single-partition window over the
  *popped set only* (bounded by Σ host budgets per round, orders of
  magnitude smaller than the frontier).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import urls as U
from ..operators.rank import with_global_rank
from ..operators.topk import salted_top_k_per_group
from ..session import scoped
from . import semantics as SEM
from .bloom import BloomFilter, CuckooFilter
from .semantics import DEFAULT_CRAWL_DELAY, CrawlParams

# --------------------------------------------------------------------------
# Column twins of semantics.py helpers
# --------------------------------------------------------------------------

def path_col(url: F.Column) -> F.Column:
    """Path component incl. leading slash ('/' for bare host)."""
    rest = F.regexp_replace(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", "")
    return F.when(rest == "", "/").otherwise(
        F.when(rest.startswith("/"), rest).otherwise(F.concat(F.lit("/"), rest))
    )


def is_fetchable_col(url: F.Column) -> F.Column:
    return url.startswith("http://") | url.startswith("https://")


def is_trap_col(url: F.Column) -> F.Column:
    """Column twin of semantics.is_trap (crawler-trap heuristics): over-long
    URL, path deeper than TRAP_MAX_SEGMENTS, a path segment repeated 3+
    times consecutively, or more than TRAP_MAX_QUERY_PARAMS query params.
    Pure codegen string ops (slash/ampersand counts via regexp_replace
    length deltas; one backreference rlike) — no UDF, no shuffle."""
    no_q = F.regexp_replace(url, r"\?.*$", "")
    q = F.regexp_extract(url, r"\?(.*)$", 1)
    p = path_col(no_q)
    n_seg = F.length(p) - F.length(F.regexp_replace(p, "/", ""))
    n_params = F.when(q == "", F.lit(0)).otherwise(
        F.length(q) - F.length(F.regexp_replace(q, "&", "")) + 1
    )
    return (
        (F.length(url) > SEM.TRAP_MAX_URL_LEN)
        | (n_seg > SEM.TRAP_MAX_SEGMENTS)
        | p.rlike(r"(/[^/]+)\1{2,}")
        | (n_params > SEM.TRAP_MAX_QUERY_PARAMS)
    )


def disallowed_col(url: F.Column, disallow: F.Column, allow: F.Column | None = None) -> F.Column:
    """RFC 9309 longest-match precedence (Column twin of
    semantics.is_disallowed): blocked iff the longest-rule matching
    Disallow is longer than the longest-rule matching Allow (Allow wins
    ties). Rules with the RFC's optional wildcards — ``*`` and trailing
    ``$`` — are regex-translated per element (escape regex specials,
    ``*`` → ``.*``, re-anchor the stripped ``$``); plain rules keep the
    cheap codegen startswith. Only wildcard-bearing rules pay the dynamic
    rlike — rare in the wild, and robots arrays are 1-5 entries."""
    p = path_col(url)

    def rule_matches(r: F.Column) -> F.Column:
        has_wild = r.contains("*") | r.endswith("$")
        anchor = r.endswith("$")
        body = F.regexp_replace(r, r"\$$", "")
        esc = F.regexp_replace(body, "([.^$+?(){}\\[\\]|\\\\])", "\\\\$1")
        esc = F.regexp_replace(esc, "\\*", ".*")
        pattern = F.concat(
            F.lit("^"), esc, F.when(anchor, F.lit("$")).otherwise(F.lit(""))
        )
        return F.when(has_wild, F.rlike(p, pattern)).otherwise(p.startswith(r))

    def best_len(rules: F.Column) -> F.Column:
        return F.aggregate(
            rules,
            F.lit(0),
            lambda acc, r: F.when(
                rule_matches(r) & (F.length(r) > acc), F.length(r)
            ).otherwise(acc),
        )

    best_dis = F.when(disallow.isNull(), F.lit(0)).otherwise(best_len(disallow))
    if allow is None:
        best_allow = F.lit(0)
    else:
        best_allow = F.when(allow.isNull(), F.lit(0)).otherwise(best_len(allow))
    return best_dis > best_allow


def budget_col(crawl_delay: F.Column, round_budget: float, remaining: F.Column) -> F.Column:
    delay = F.when(
        crawl_delay.isNull() | (crawl_delay <= 0), F.lit(DEFAULT_CRAWL_DELAY)
    ).otherwise(crawl_delay)
    b = F.greatest(F.lit(1).cast("long"), F.floor(F.lit(round_budget) / delay))
    return F.greatest(F.lit(0).cast("long"), F.least(b, remaining))


def aimd_delay_col(cur: F.Column, base: F.Column, had_fail: F.Column) -> F.Column:
    """Column twin of semantics.aimd_delay (adaptive politeness): failure
    rounds double the host's effective delay up to ADAPTIVE_DELAY_MAX,
    all-success rounds recover it toward the robots base (never below)."""
    from .semantics import ADAPTIVE_BACKOFF, ADAPTIVE_DELAY_MAX, ADAPTIVE_RECOVER

    b = F.when(base.isNull() | (base <= 0), F.lit(DEFAULT_CRAWL_DELAY)).otherwise(base)
    c = F.when(cur.isNull() | (cur <= 0), b).otherwise(cur)
    return F.when(
        had_fail, F.least(F.lit(ADAPTIVE_DELAY_MAX), c * ADAPTIVE_BACKOFF)
    ).otherwise(F.greatest(b, c / F.lit(ADAPTIVE_RECOVER)))


# --------------------------------------------------------------------------
# Frontier construction / insertion
# --------------------------------------------------------------------------

def frontier_from_seeds(seeds: DataFrame, robots: DataFrame, params: CrawlParams) -> DataFrame:
    """Init: skip deprecated (P3), canonicalize (F16), robots gate at insert,
    dedup by canonical url keeping max priority."""
    s = (
        seeds.where(~F.coalesce(F.col("deprecated"), F.lit(False)))
        .select(
            U.canonical_url(F.col("url")).alias("url"),
            F.col("priority").cast("double").alias("priority"),
        )
        .where(is_fetchable_col(F.col("url")))
        .withColumn("host", U.host_of(F.col("url")))
    )
    if params.trap_filter:
        s = s.where(~is_trap_col(F.col("url")))
    s = s.join(
        F.broadcast(robots.select("host", "disallow", "allow")), "host", "left"
    ).where(~disallowed_col(F.col("url"), F.col("disallow"), F.col("allow")))
    return (
        s.groupBy("url", "host")
        .agg(F.max("priority").alias("priority"))
        .select(
            U.host_bucket(F.col("host"), params.n_buckets).alias("bucket"),
            U.url_salt(F.col("url"), params.n_salts).alias("salt"),
            "host",
            "url",
            F.xxhash64(F.col("url")).alias("url_hash"),
            "priority",
            F.lit(0).alias("depth"),
            F.lit(0).alias("discovered_round"),
        )
    )


# --------------------------------------------------------------------------
# Pop
# --------------------------------------------------------------------------

# Above this popped-set size the distributed rank (operators/rank.py) wins;
# below it, a single-task sort of the (already cached) pop is cheaper than
# the rank's ~3 extra stage waves (range-sampling job + offsets agg +
# broadcast — measured ~0.3 s fixed at local bench scale). At 10^6-page
# rounds the SinglePartition sort is the scale hazard, so the rank is the
# default whenever the size is unknown.
SEQ_RANK_THRESHOLD = 65536


def pop_round_raw(
    frontier: DataFrame,
    robots: DataFrame,
    host_counts: DataFrame,
    params: CrawlParams,
    host_delays: DataFrame | None = None,
) -> DataFrame:
    """W5 — per-host top-budget pop WITHOUT the global sequence.

    Returns columns: url, url_hash, bucket, host, priority, depth (+ the
    pop bookkeeping columns). ``attach_seq`` adds the deterministic fetch
    sequence; callers that materialize the pop first (rounds.build_round)
    pass the known count so the seq implementation can be chosen by size.

    With ``host_delays`` (adaptive politeness, (host, delay_eff) — bounded
    like host_counts and broadcast the same way), the budget divides by
    the GREATER of the robots delay and the adaptive delay: backoff can
    only slow a host down, never undercut its declared politeness.
    """
    per_host = (
        frontier.select("host")
        .distinct()
        .join(F.broadcast(robots.select("host", "crawl_delay")), "host", "left")
        .join(F.broadcast(host_counts), "host", "left")
    )
    delay = F.col("crawl_delay")
    if host_delays is not None:
        per_host = per_host.join(F.broadcast(host_delays), "host", "left")
        delay = F.greatest(
            F.coalesce(F.col("crawl_delay"), F.lit(DEFAULT_CRAWL_DELAY)),
            F.coalesce(F.col("delay_eff"), F.lit(0.0)),
        )
    budgets = (
        per_host.select(
            "host",
            budget_col(
                delay,
                params.round_budget,
                F.lit(params.max_articles).cast("long")
                - F.coalesce(F.col("fetched"), F.lit(0)).cast("long"),
            ).alias("budget"),
        )
        .where(F.col("budget") > 0)
    )

    cand = frontier.join(F.broadcast(budgets), "host")

    # salted two-phase exact top-budget per host — spreads hot hosts over S
    # partitions in phase 1, exact reduce in phase 2 (operators/topk.py).
    order = [F.desc("priority"), F.asc("discovered_round"), F.asc("url")]
    return salted_top_k_per_group(cand, ["host"], order, F.col("budget"), "salt")


def attach_seq(popped: DataFrame, n_popped: int | None = None) -> DataFrame:
    """Add the global deterministic fetch sequence ``seq`` = rank in
    (priority DESC, host, url).

    Implementation is chosen by size: with a known small count (the caller
    already materialized the pop), a single window over the cached rows is
    cheapest; otherwise — unknown size, or a 10^6-page round — the
    range-partitioned distributed rank (operators/rank.py), which never
    funnels the popped data through one task."""
    cols = ["seq", "url", "url_hash", "bucket", "host", "priority", "depth"]
    if n_popped is not None and n_popped <= SEQ_RANK_THRESHOLD:
        w_global = Window.orderBy(F.desc("priority"), F.asc("host"), F.asc("url"))
        # cast matches the rank path's LongType: crawl_log deltas from
        # rounds on either side of the threshold must share one parquet
        # type, or read_table's manifest schema (latest commit wins) breaks
        # on older delta files
        return popped.select(
            (F.row_number().over(w_global) - 1).cast("long").alias("seq"),
            *cols[1:],
        )
    ranked = with_global_rank(
        popped, [F.desc("priority"), F.asc("host"), F.asc("url")], "seq"
    )
    return ranked.select(*cols)


def pop_round(
    frontier: DataFrame,
    robots: DataFrame,
    host_counts: DataFrame,
    params: CrawlParams,
) -> DataFrame:
    """W5 — per-host top-budget pop with global deterministic sequence
    (scale-safe distributed rank; see attach_seq for the size-aware form).

    Returns columns: seq, url, url_hash, bucket, host, priority, depth.
    """
    return attach_seq(pop_round_raw(frontier, robots, host_counts, params))


# --------------------------------------------------------------------------
# Discovery
# --------------------------------------------------------------------------

def discover_links(fetched: DataFrame, robots: DataFrame, params: CrawlParams, rnd: int) -> DataFrame:
    """New frontier candidates from this round's successful fetches.

    fetched needs: url, priority, depth, out_links. Order-free semantics:
    child priority = max(parent)-1, depth = min(parent)+1 (semantics.py).
    Result NOT yet deduplicated against seen/frontier.
    """
    links = fetched.select(
        F.col("priority").alias("parent_priority"),
        F.col("depth").alias("parent_depth"),
        F.explode_outer("out_links").alias("raw"),
    ).where(F.col("raw").isNotNull())
    links = links.select(
        U.canonical_url(F.col("raw")).alias("url"), "parent_priority", "parent_depth"
    ).where(is_fetchable_col(F.col("url")))
    if params.trap_filter:
        links = links.where(~is_trap_col(F.col("url")))
    links = links.withColumn("host", U.host_of(F.col("url")))
    links = links.join(
        F.broadcast(robots.select("host", "disallow", "allow")), "host", "left"
    ).where(~disallowed_col(F.col("url"), F.col("disallow"), F.col("allow")))
    return (
        links.groupBy("url", "host")
        .agg(
            (F.max("parent_priority") - 1.0).alias("priority"),
            (F.min("parent_depth") + 1).alias("depth"),
        )
        .select(
            U.host_bucket(F.col("host"), params.n_buckets).alias("bucket"),
            U.url_salt(F.col("url"), params.n_salts).alias("salt"),
            "host",
            "url",
            F.xxhash64(F.col("url")).alias("url_hash"),
            "priority",
            "depth",
            F.lit(rnd).alias("discovered_round"),
        )
    )


def reprioritize_frontier(
    frontier: DataFrame, fetched: DataFrame, weight: float = 1.0
) -> DataFrame:
    """OPIC-lite frontier re-prioritization: blend observed in-degree into
    queue priorities — new_priority = priority + weight * ln(1 + indeg),
    where indeg counts in-links to each canonical URL across the fetched
    pages' out_links. The seed/sitemap priorities say what we *planned* to
    value; in-degree says what the web we actually crawled values (the
    signal OPIC/PageRank-orderings approximate) — heavily-linked URLs
    rise toward the front of their host's queue.

    Scale shape: explode + canonicalize + count is one shuffle keyed on
    url (uniform hash key); the frontier join is url-keyed and co-keyed
    with that aggregation, so AQE plans at most one more exchange on the
    (far smaller) count side. Monotone (weight >= 0 never demotes), pure
    column math, schema-preserving — callers re-snapshot the result like
    any frontier delta. ln is float, but priorities only ORDER the pop —
    they never cross an oracle hash (the crawl contract is vs the
    sequential simulator, which uses the same formula in its twin test).
    """
    indeg = (
        fetched.select(F.explode_outer("out_links").alias("raw"))
        .where(F.col("raw").isNotNull())
        .select(U.canonical_url(F.col("raw")).alias("url"))
        .where(is_fetchable_col(F.col("url")))
        .groupBy("url")
        .agg(F.count("*").alias("indeg"))
    )
    cols = frontier.columns
    return (
        frontier.join(indeg, "url", "left")
        .withColumn(
            "priority",
            F.col("priority")
            + F.lit(float(weight)) * F.log1p(F.coalesce(F.col("indeg"), F.lit(0))),
        )
        .select(*cols)
    )


# --------------------------------------------------------------------------
# Bloom store: per-bucket blobs on shared storage, executor-side update/probe
# --------------------------------------------------------------------------

class BloomStore:
    """Per-bucket bloom blobs under <root>/bloom/snap-<id>/bucket-<i>.bin.

    update(): incremental — each bucket's blob is loaded, new url_hashes
    OR-ed in, written to the new snapshot dir, all inside applyInPandas on
    executors (no driver collect of blobs). Unchanged buckets are carried
    over. probe(): mapInPandas with a per-worker blob cache keyed by path —
    a partition only ever loads the buckets present in its own batch.
    """

    def __init__(
        self,
        root: str,
        params: CrawlParams,
        bits_per_bucket: int = 1 << 20,
        filter_kind: str = "bloom",
    ):
        """``filter_kind``: "bloom" (default hot path) or "cuckoo" — the
        north-rule fallback, same no-false-negative prefilter contract plus
        per-entry deletes (recrawl-after-TTL retirement). Both kinds share
        the serialize/add_many/contains_many interface; a cuckoo bucket
        that exhausts its kick budget saturates to always-maybe (never a
        false negative — see bloom.CuckooFilter). Memory parity: the
        cuckoo's entry budget is bits_per_bucket/16 (16-bit fingerprints)."""
        if filter_kind not in ("bloom", "cuckoo"):
            raise ValueError(f"unknown filter_kind {filter_kind!r}")
        self.root = root
        self.params = params
        self.bits = bits_per_bucket
        self.filter_kind = filter_kind

    def _new_filter(self):
        if self.filter_kind == "cuckoo":
            return CuckooFilter(n_expected=self.bits // 16)
        return BloomFilter(n_expected=1, m_bits=self.bits)

    def _from_bytes(self, blob: bytes):
        cls = CuckooFilter if self.filter_kind == "cuckoo" else BloomFilter
        return cls.from_bytes(blob)

    def _dir(self, snap: int) -> str:
        return os.path.join(self.root, "bloom", f"snap-{snap}")

    def update(self, new_seen: DataFrame, prev_snap: int | None, snap: int) -> None:
        prev_dir = self._dir(prev_snap) if prev_snap is not None else None
        new_dir = self._dir(snap)
        os.makedirs(new_dir, exist_ok=True)
        new_filter, from_bytes = self._new_filter, self._from_bytes

        def build(key, pdf):
            (bucket,) = key
            prev_path = (
                os.path.join(prev_dir, f"bucket-{bucket}.bin") if prev_dir else None
            )
            if prev_path and os.path.exists(prev_path):
                with open(prev_path, "rb") as f:
                    bf = from_bytes(f.read())
            else:
                bf = new_filter()
            bf.add_many(pdf["url_hash"].to_numpy(dtype=np.int64))
            tmp = os.path.join(new_dir, f".bucket-{bucket}.tmp")
            with open(tmp, "wb") as f:
                f.write(bf.to_bytes())
            os.replace(tmp, os.path.join(new_dir, f"bucket-{bucket}.bin"))
            return pd.DataFrame({"bucket": [bucket], "n": [len(pdf)]})

        (
            new_seen.select("bucket", "url_hash")
            .groupBy("bucket")
            .applyInPandas(build, "bucket int, n long")
            .collect()  # action: drives the executor-side writes
        )
        # carry over untouched buckets
        if prev_dir and os.path.isdir(prev_dir):
            for fn in os.listdir(prev_dir):
                dst = os.path.join(new_dir, fn)
                if fn.endswith(".bin") and not os.path.exists(dst):
                    with open(os.path.join(prev_dir, fn), "rb") as fsrc, open(dst, "wb") as fdst:
                        fdst.write(fsrc.read())

    def retire(self, retired: DataFrame, seen_after: DataFrame, snap: int) -> None:
        """Remove retired url fingerprints from snapshot ``snap``'s filter
        blobs (the TTL-recrawl maintenance step; rounds.retire_and_requeue).

        - ``cuckoo``: INCREMENTAL per-fingerprint delete — the reason the
          cuckoo fallback exists; no scan of the surviving seen set.
        - ``bloom``: bits cannot be unset, so each AFFECTED bucket is
          rebuilt exactly from the post-retirement seen table (a
          partition-pruned scan of just those buckets — correct, but
          O(bucket) instead of O(retired), which is the trade the cuckoo
          removes at 10^10-URL scale with recurring recrawls).

        Either way the no-false-negative invariant (filter ⊇ seen) holds
        by construction; retirement never needs to be "undone" in the
        filter because a filter over-approximating seen is always safe.
        Executor-side per bucket, same as update()."""
        snap_dir = self._dir(snap)
        from_bytes, new_filter = self._from_bytes, self._new_filter

        if self.filter_kind == "cuckoo":

            def drop(key, pdf):
                (bucket,) = key
                path = os.path.join(snap_dir, f"bucket-{bucket}.bin")
                if os.path.exists(path):
                    with open(path, "rb") as f:
                        cf = from_bytes(f.read())
                    for h in pdf["url_hash"].to_numpy(dtype=np.int64).tolist():
                        cf.delete(int(h))
                    tmp = os.path.join(snap_dir, f".bucket-{bucket}.retire.tmp")
                    with open(tmp, "wb") as f:
                        f.write(cf.to_bytes())
                    os.replace(tmp, path)
                return pd.DataFrame({"bucket": [bucket], "n": [len(pdf)]})

            work = retired.select("bucket", "url_hash")
        else:

            def drop(key, pdf):
                (bucket,) = key
                bf = new_filter()
                keep = pdf[~pdf["retired"]]
                bf.add_many(keep["url_hash"].to_numpy(dtype=np.int64))
                tmp = os.path.join(snap_dir, f".bucket-{bucket}.retire.tmp")
                with open(tmp, "wb") as f:
                    f.write(bf.to_bytes())
                os.replace(tmp, os.path.join(snap_dir, f"bucket-{bucket}.bin"))
                return pd.DataFrame({"bucket": [bucket], "n": [len(pdf)]})

            affected = retired.select("bucket").distinct()
            work = (
                seen_after.select("bucket", "url_hash")
                .withColumn("retired", F.lit(False))
                .unionByName(
                    retired.select("bucket", "url_hash").withColumn(
                        "retired", F.lit(True)
                    )
                )
                .join(F.broadcast(affected), "bucket", "left_semi")
            )

        work.groupBy("bucket").applyInPandas(drop, "bucket int, n long").collect()

    def probe(self, candidates: DataFrame, snap: int) -> DataFrame:
        """Adds ``maybe_seen`` boolean. Zero false negatives by construction
        (property-tested)."""
        snap_dir = self._dir(snap)
        schema = T.StructType(
            candidates.schema.fields + [T.StructField("maybe_seen", T.BooleanType())]
        )

        from_bytes = self._from_bytes

        def run(batches):
            cache: dict[int, object | None] = {}
            for pdf in batches:
                out = np.zeros(len(pdf), dtype=bool)
                for bucket, idx in pdf.groupby("bucket").groups.items():
                    if bucket not in cache:
                        path = os.path.join(snap_dir, f"bucket-{bucket}.bin")
                        if os.path.exists(path):
                            with open(path, "rb") as f:
                                cache[bucket] = from_bytes(f.read())
                        else:
                            cache[bucket] = None
                    bf = cache[bucket]
                    if bf is not None:
                        sel = pdf.loc[idx, "url_hash"].to_numpy(dtype=np.int64)
                        out[pdf.index.get_indexer(idx)] = bf.contains_many(sel)
                pdf = pdf.copy()
                pdf["maybe_seen"] = out
                yield pdf

        return candidates.repartition("bucket").mapInPandas(run, schema)

    def health_report(self, spark, snap: int) -> DataFrame:
        """Per-bucket filter health at snapshot ``snap``: fill ratio,
        entry/FPP estimates, and the saturation flag — the operational
        signal that a bucket outgrew its sizing. At 10^10 URLs a bloom
        bucket drifting toward fill 1.0 silently stops prefiltering (every
        candidate pays the exact anti-join) and a saturated cuckoo answers
        maybe-for-everything; this report is what an operator alerts on to
        resize/rebuild BEFORE that happens. Blob bytes never reach the
        driver: the driver lists O(B) file names, executors load + count
        via mapInPandas (same placement discipline as update/probe)."""
        snap_dir = self._dir(snap)
        rows = sorted(
            (int(fn[len("bucket-") : -len(".bin")]), os.path.join(snap_dir, fn))
            for fn in os.listdir(snap_dir)
            if fn.startswith("bucket-") and fn.endswith(".bin")
        )
        from_bytes = self._from_bytes
        out_schema = (
            "bucket int, kind string, capacity long, occupied long, "
            "fill_ratio double, est_entries double, est_fpp double, "
            "saturated boolean"
        )
        cols = [
            "bucket", "kind", "capacity", "occupied",
            "fill_ratio", "est_entries", "est_fpp", "saturated",
        ]

        def run(batches):
            for pdf in batches:
                recs = []
                for b, path in zip(pdf["bucket"], pdf["path"]):
                    with open(path, "rb") as f:
                        st = from_bytes(f.read()).stats()
                    recs.append([int(b)] + [st[c] for c in cols[1:]])
                yield pd.DataFrame(recs, columns=cols)

        paths = spark.createDataFrame(rows, "bucket int, path string")
        n_parts = max(1, min(len(rows), 32))
        return paths.repartition(n_parts).mapInPandas(run, out_schema)


def dedup_new_urls(
    candidates: DataFrame,
    seen: DataFrame,
    frontier: DataFrame,
    bloom: BloomStore | None,
    bloom_snap: int | None,
) -> DataFrame:
    """J6 — exact seen-set dedup with bloom prefilter.

    definitely-new (bloom says no) skip the anti-join entirely; maybe-seen
    go through the exact url_hash anti-join (FPs survive correctly). Always
    anti-joined against the current frontier (already-enqueued URLs)."""
    if bloom is not None and bloom_snap is not None:
        probed = bloom.probe(candidates, bloom_snap)
        fresh = probed.where(~F.col("maybe_seen")).drop("maybe_seen")
        maybe = probed.where(F.col("maybe_seen")).drop("maybe_seen")
        confirmed_new = maybe.join(
            seen.select("url_hash").distinct(), "url_hash", "left_anti"
        )
        novel = fresh.unionByName(confirmed_new)
    else:
        novel = candidates.join(seen.select("url_hash").distinct(), "url_hash", "left_anti")
    return novel.join(frontier.select("url_hash").distinct(), "url_hash", "left_anti")


def reprioritize_frontier_pagerank(
    frontier: DataFrame, fetched: DataFrame, weight: float = 1.0, iters: int = 5
) -> DataFrame:
    """PageRank-blended frontier re-prioritization — the fixed-point
    upgrade of ``reprioritize_frontier``'s raw in-degree: build the link
    graph from the fetched pages' out_links (canonicalized, fetchable
    endpoints only), run the exact-integer PageRank operator over it, and
    blend each frontier URL's rank RELATIVE TO UNIFORM into its priority:

        new_priority = priority + weight * ln(1 + rank_micro * n / 1e6)

    (rank_micro * n / 1e6 is ~1 for an average page, >1 for endorsed
    pages, so unlinked/average URLs are barely moved while genuinely
    popular ones rise). Monotone for weight >= 0, schema-preserving, and
    deterministic end-to-end: the rank trajectory is pure integer
    arithmetic (operators/pagerank.py), n rides a broadcast 1-row
    aggregate, and ln only ORDERS the pop — priorities never cross an
    oracle hash.

    Scale shape: edge build is one explode + canonicalize projection; the
    PageRank loop is the operator's two-shuffle-per-iteration plan; the
    blend joins the (nodes-sized) rank table to the frontier on url —
    co-keyed with the frontier's own url-keyed maintenance joins.

    Cache contract: eager — the blended frontier is ``scoped`` and
    materialized here, the PageRank cache is released before returning,
    and the RETURNED frame is the single surviving cache.
    """
    from ..operators.pagerank import MICRO, pagerank

    src = U.canonical_url(F.col("url"))
    edges = (
        fetched.select(src.alias("src"), F.explode_outer("out_links").alias("raw"))
        .where(F.col("raw").isNotNull())
        .select("src", U.canonical_url(F.col("raw")).alias("dst"))
        .where(is_fetchable_col(F.col("dst")))
    )
    ranks = pagerank(edges, iters=iters)
    n = ranks.agg(F.count("*").cast("double").alias("n_nodes"))
    boost = ranks.crossJoin(F.broadcast(n)).select(
        F.col("node").alias("url"),
        (F.col("rank_micro") * F.col("n_nodes") / F.lit(float(MICRO))).alias("rel"),
    )
    cols = frontier.columns
    out = (
        frontier.join(boost, "url", "left")
        .withColumn(
            "priority",
            F.col("priority")
            + F.lit(float(weight)) * F.log1p(F.coalesce(F.col("rel"), F.lit(0.0))),
        )
        .select(*cols)
    )
    # cache contract (ADVICE r05): materialize the blended frontier, then
    # release the pagerank cache — this maintenance pass leaves exactly
    # ONE persisted frame, the returned frontier
    out = scoped(out)
    out.count()
    ranks.unpersist()
    return out

#!/usr/bin/env python
"""Per-round benchmark for the driver (BENCH_r{N}.json) and the BASELINE.json
metric set: headline query latencies at $SPARK_GRAFT_SF_DIR, crawl throughput
(pages/sec) + frontier-pop latency on the deterministic synthetic web, and
N→4N scaling efficiency (evidenced as local[N] vs local[4N] on identical
input, interleaved best-of-repeats — no real cluster in this sandbox; see
BASELINE.md notes and the CORES_N comment below for why N=CPUS/8).

Prints exactly ONE JSON line:
  {"metric": "pages_per_sec", "value": ..., "unit": "pages/sec",
   "queries": {name: sec, ...}, "sf": ...,
   "query_total_s": ..., "frontier_pop_latency_s": ...,
   "scaling": {"cores_n": 4, "cores_4n": 16, "pps_n": ..., "pps_4n": ...,
               "efficiency": ..., "headline_cores": 32, ...}}

Env knobs:
  SPARK_GRAFT_SF_DIR   parquet dir for SQL queries (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     headline core count (default 32)
  SPARK_GRAFT_BENCH_SCALE_N  scaling-pair N (default CPUS//8; pair = N, 4N)
  SPARK_GRAFT_BENCH_SCALING  "0" to skip the scaling-pair crawl runs
  SPARK_GRAFT_BENCH_BIGROUND "0" to skip the 4x-round-size amortization run
  SPARK_GRAFT_BENCH_HOSTS / _PAGES  synthetic-web size (default 64 / 192)
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql.functions import col as F_col
from pyspark.sql.functions import percentile_approx as F_percentile_approx
from pyspark.sql.functions import size as F_size
from pyspark.sql.functions import split as F_split
from pyspark.sql.functions import sum as F_sum
from pyspark.sql.functions import trim as F_trim

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# Scaling pair N -> 4N. Default N = CPUS/8 (4 -> 16 on the 32-vCPU sandbox):
# at 4N = CPUS the measurement saturates every vCPU of a shared-tenancy box,
# so it measures the HOST's saturation artifacts (hypervisor steal, one
# memory bus, python workers + JVM threads oversubscribed) on top of the
# engine; N=CPUS/8 -> 4N=CPUS/2 leaves headroom so the ratio isolates the
# ENGINE's scaling. Full-saturation throughput is still reported as the
# headline `value`, and the same-moment hardware ceiling is measured and
# reported alongside (cpu_scaling_ceiling).
CORES_N = int(os.environ.get("SPARK_GRAFT_BENCH_SCALE_N", str(max(1, CPUS // 8))))
CORES_4N = 4 * CORES_N
DO_SCALING = os.environ.get("SPARK_GRAFT_BENCH_SCALING", "1") != "0"
DO_BIGROUND = os.environ.get("SPARK_GRAFT_BENCH_BIGROUND", "1") != "0"
BENCH_HOSTS = int(os.environ.get("SPARK_GRAFT_BENCH_HOSTS", "64"))
BENCH_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "192"))
BENCH_PARAS = int(os.environ.get("SPARK_GRAFT_BENCH_PARAS", "800"))
CRAWL_ROUNDS = int(os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", "2"))
# best-of-N per core count: this VM's hypervisor steal varies minute-to-
# minute by 2-3x (BASELINE.md), so a single sample is nearly meaningless
CRAWL_REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2"))
# per-query timed passes (interleaved across the whole headline list, best-of)
QUERY_REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_QUERY_REPEATS", "3"))

# Headline queries: one per operator family (scan+agg, join, window, anti-join,
# dedup sketches, ANN, text analysis, crawl primitives). Names must exist in
# the plans REGISTRY.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "top_customers_per_nation",
    "orders_without_lineitems",
    "skewed_hot_key_join",
    "hourly_event_counts",
    "sessionization",
    "token_filter",
    "shrink_first_n",
    "exact_dedup",
    "minhash_lsh_candidates",
    "substring_dup_stats",
    "simhash_fingerprints",
    "ann_cosine_topk",
    "quality_features",
    "unigram_perplexity",
    "bigram_perplexity",
    "doc_fingerprints_rolling",
    "token_budget_packing",
    "training_shuffle",
    "benchmark_decontamination",
    "frontier_pop_topk",
    "seen_anti_join",
    # r04 session-2 additions: the quality-gate scan (shuffle-free — its
    # number is close to pure scan throughput) and the search top-k
    "gopher_quality_flags",
    "tfidf_search",
    # r04 session-5 additions: the data-selection flagships — DSIR's
    # broadcast-dim scoring pass and CCNet's per-language tertile rank —
    # plus the five-leg composite gate (the most join-heavy new plan) and
    # the backoff LM scorer (two LM dims + a coalesce join)
    "dsir_importance_weights",
    "ccnet_perplexity_buckets",
    "composite_quality_gate",
    "stupid_backoff_scores",
    # r05 additions: BM25 (same pruned-explode shape as tfidf_search plus
    # the per-doc length normalization riding the scan) and the two
    # cardinality/frequency sketches whose shuffles are bounded by sketch
    # width, not key universe — their numbers should track scan throughput
    "bm25_search",
    "hll_distinct_tokens",
    "cms_token_frequency",
    # r06 additions: the PRODUCTION-shape sketch probes (no exact-answer
    # branch — their delta vs the self-evaluating twins above is the
    # measured cost of the accuracy branch the 100 TB plan drops), the
    # grouped per-source HLL, the LSH signature-Jaccard verify stage, and
    # the size-aware per-source weighted sampler
    "hll_distinct_tokens_probe",
    "cms_token_frequency_probe",
    "hll_distinct_tokens_by_source",
    "minhash_jaccard_estimates",
    "weighted_sample_by_source",
    # r06 wave 2: the broadcast-sketch heavy-hitter semi-filter (its number
    # should sit near 2x the CMS probe — two token-stream scans, zero
    # vocabulary shuffles) and the two real codec roundtrips, whose numbers
    # are per-doc Arrow-batch decode throughput (no shuffle carries blobs)
    "cms_heavy_hitters",
    "image_resize_png",
    "audio_decode_wav",
    # r06 wave 4: context-window chunking — map-only (scan → sequence/
    # explode → project, zero Exchange), so its number is the ceiling on
    # any "split the corpus into training sequences" pass — and the
    # Kneser-Ney LM, whose delta vs bigram_perplexity is the measured
    # cost of the three dim-sized KN statistic windows
    "doc_token_chunks",
    "kn_bigram_perplexity",
    "stupid_backoff_trigram_scores",
]


def _session(cores: int, app: str, html_heavy: bool = False):
    from news_crawler_slm_spark.session import get_spark

    # moderate heap: measured 2-4x slower end-to-end with a 48g heap (GC /
    # allocation behavior of the single local JVM); 16g fits 32 concurrent
    # ~100 KB-row Arrow tasks comfortably
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    extra = {}
    if html_heavy:
        # ~100 KB rows × 32 concurrent python workers: measured sweep
        # (BASELINE.md) — batch 128 halves both the first-stage page-fault
        # storm (worker arenas growing under concurrent first-touch) and the
        # steady-state time vs batch 2048/256. Per-executor setting on a
        # real cluster (SURVEY.md §4.2 Arrow row).
        extra["spark.sql.execution.arrow.maxRecordsPerBatch"] = "128"
    return get_spark(app, cores=cores, shuffle_partitions=cores, extra_conf=extra)


def _burn(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i % 7
    return x


def cpu_scaling_ceiling(n_procs: int, m_procs: int, work: int = 6_000_000) -> float:
    """The VM's own parallel-scaling ceiling, measured with plain python
    processes (no Spark): aggregate throughput efficiency going n -> m
    processes. On this shared-tenancy sandbox (10-20%% steal time observed)
    even embarrassingly-parallel CPU work does not scale linearly; the job
    efficiency is reported raw AND normalized by this ceiling."""
    agg = {}
    for k in (n_procs, m_procs):
        with multiprocessing.Pool(k) as p:
            t0 = time.monotonic()
            p.map(_burn, [work] * k)
            agg[k] = k * work / (time.monotonic() - t0)
    return agg[m_procs] / agg[n_procs] / (m_procs / n_procs)


def _run_to_noop(df) -> None:
    """Execute the full plan without driver-side collection cost."""
    df.write.format("noop").mode("overwrite").save()


def bench_queries(spark) -> dict[str, float]:
    """Interleaved best-of-N per query: one warm-up pass over the whole
    headline list (codegen JIT + file-index caches + OS page cache), then
    QUERY_REPEATS timed passes, each covering every query before any query
    repeats.  Steal weather on this box varies 2-3x minute-to-minute, so a
    single sample per query made numbers round-incomparable (round-2's
    phantom q1/q3/q5 'regressions'); interleaving puts every query through
    the same weather and best-of keeps the least-disturbed sample."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    dfs = {name: qs[name](spark, SF_DIR) for name in HEADLINE}
    for name in HEADLINE:
        _run_to_noop(dfs[name])  # warm-up pass
    best: dict[str, float] = {name: float("inf") for name in HEADLINE}
    for _ in range(QUERY_REPEATS):
        for name in HEADLINE:
            t0 = time.monotonic()
            _run_to_noop(dfs[name])
            best[name] = min(best[name], time.monotonic() - t0)
    return {name: round(best[name], 4) for name in HEADLINE}



def bench_bucketed(spark) -> dict:
    """Bucketed-vs-shuffled pair for the orders×lineitem anti-join
    (the ``orders_without_lineitems`` headline shape): persist both facts
    bucketed+sorted on the join key once (sources/bucketed.py), then time
    the IDENTICAL query over the plain parquet layout vs the bucketed
    layout, interleaved best-of-QUERY_REPEATS. Auto-broadcast is disabled
    for both variants: at 100 TB neither fact side broadcasts, so the pair
    isolates exactly what the storage layout buys — the fact shuffle.
    The bucketed plan is asserted Exchange-free AT BENCH SCALE (exchange
    counts for both variants ship in the result)."""
    from pyspark.sql import functions as F

    from news_crawler_slm_spark.sources.bucketed import write_bucketed

    def q(o, li):
        oo = o.where(F_col("o_orderstatus") == "F")
        ll = li.where(F_col("l_quantity") > 45).select("l_orderkey").distinct()
        return oo.join(ll, oo.o_orderkey == ll.l_orderkey, "left_anti").select(
            F_col("o_orderkey").alias("orderkey")
        )

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_orderstatus"
    )
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    spark.sql("DROP TABLE IF EXISTS bench_orders_b")
    spark.sql("DROP TABLE IF EXISTS bench_lineitem_b")
    t0 = time.monotonic()
    write_bucketed(orders, "bench_orders_b", "o_orderkey", CPUS)
    write_bucketed(lineitem, "bench_lineitem_b", "l_orderkey", CPUS)
    write_s = time.monotonic() - t0

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        variants = {
            "shuffled": q(orders, lineitem),
            "bucketed": q(spark.table("bench_orders_b"), spark.table("bench_lineitem_b")),
        }
        best = {k: float("inf") for k in variants}
        exchanges = {}
        for name, df in variants.items():  # warm-up + capture final plans
            _run_to_noop(df)
            plan = df._jdf.queryExecution().executedPlan().toString()
            exchanges[name] = plan.count("Exchange ") + plan.count("Exchange\n")
        for _ in range(QUERY_REPEATS):
            for name, df in variants.items():
                t0 = time.monotonic()
                _run_to_noop(df)
                best[name] = min(best[name], time.monotonic() - t0)
        return {
            "query": "orders_without_lineitems (fact-fact, no broadcast)",
            "shuffled_s": round(best["shuffled"], 4),
            "bucketed_s": round(best["bucketed"], 4),
            "speedup": round(best["shuffled"] / best["bucketed"], 3),
            "n_exchanges_shuffled": exchanges["shuffled"],
            "n_exchanges_bucketed": exchanges["bucketed"],
            "bucketed_write_s": round(write_s, 3),
            "zero_exchange_plan": exchanges["bucketed"] == 0,
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        spark.sql("DROP TABLE IF EXISTS bench_orders_b")
        spark.sql("DROP TABLE IF EXISTS bench_lineitem_b")


def bench_quantile_pair(spark) -> dict:
    """Exact-vs-sketch quantile pair: the EXACT value-at-position quantiles
    (operators/rank.py — two passes over the sort key) against
    percentile_approx (Spark's single-pass mergeable Greenwald-Khanna-style
    sketch — at 100 TB the one-shuffle path when rank-error tolerance is
    acceptable), same probabilities, interleaved best-of-QUERY_REPEATS.
    Also measures the sketch's actual worst-case RANK error against the
    bound it promises (error <= 1/accuracy of the true rank fraction) —
    a bench leg that times an approximation without checking it would be
    measuring garbage speed."""
    from news_crawler_slm_spark.plans import REGISTRY

    probs = [0.25, 0.5, 0.75, 0.95, 0.99]
    accuracy = 10000
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    tc = docs.select(
        F_col("doc_id"),
        F_size(F_split(F_trim(F_col("text")), r"\s+")).alias("tc"),
    )
    exact_df = REGISTRY["token_count_quantiles"][0](spark, SF_DIR)
    approx_df = tc.agg(
        F_percentile_approx("tc", probs, accuracy).alias("qs")
    )
    variants = {"exact": exact_df, "approx_gk": approx_df}
    for df in variants.values():  # warm-up
        _run_to_noop(df)
    best = {k: float("inf") for k in variants}
    for _ in range(QUERY_REPEATS):
        for name, df in variants.items():
            t0 = time.monotonic()
            _run_to_noop(df)
            best[name] = min(best[name], time.monotonic() - t0)

    # measured rank error of each approx value vs its target quantile.
    # A returned VALUE occupies the whole rank interval
    # [count(< v) + 1, count(<= v)] when the column has ties (token counts
    # are massively tied), so the sketch's promise is that the TARGET rank
    # falls within that interval ± n/accuracy — measuring against either
    # endpoint alone would report the tie-run width as sketch error.
    vals = approx_df.collect()[0]["qs"]
    import math as _math

    n = tc.count()
    ranks = tc.agg(
        *[
            agg
            for i, v in enumerate(vals)
            for agg in (
                F_sum((F_col("tc") < int(v)).cast("long")).alias(f"lt{i}"),
                F_sum((F_col("tc") <= int(v)).cast("long")).alias(f"le{i}"),
            )
        ]
    ).collect()[0]

    def rank_err(i, p):
        lo, hi = ranks[f"lt{i}"] + 1, ranks[f"le{i}"]
        target = _math.ceil(p * n)
        if lo <= target <= hi:
            return 0.0
        return min(abs(target - lo), abs(target - hi)) / n

    max_rank_err = max(rank_err(i, p) for i, p in enumerate(probs))
    return {
        "probs": probs,
        "exact_s": round(best["exact"], 4),
        "approx_gk_s": round(best["approx_gk"], 4),
        "speedup": round(best["exact"] / best["approx_gk"], 3),
        "accuracy": accuracy,
        "max_rank_error": round(max_rank_err, 6),
        "rank_error_bound_met": max_rank_err <= 1.0 / accuracy + 1.0 / n,
    }


def bench_corpus_prep(spark) -> dict:
    """The composed-lifecycle leg (VERDICT r05 #5): crawl rounds ->
    current web copy -> step_02→06 preprocess -> composite-gated training
    prep (plans/corpus.py:corpus_from_crawl), reported as corpus-prep
    docs/sec. The crawl populates the catalog OUTSIDE the timed region;
    the timed region is exactly the corpus materialization — the plan a
    daily corpus refresh runs over the accumulated pages table.

    Corpus: the ARTICLE-shaped generator (web_dataframes — mixed language
    hosts, varied sentences), NOT the crawl-bench filler corpus — the
    filler pages' tiny per-lang vocab makes the repetition leg reject
    every document (measured: repetition_keep = 0.0), which would leave
    the dedup/shuffle/pack stages with zero work and the docs/sec number
    meaningless. On the article corpus the composite gate fires
    non-vacuously (some docs pass, some fail — the same corpus shape the
    sequential-oracle pipeline test pins)."""
    from news_crawler_slm_spark.crawl.rounds import run_crawl, synthetic_fetcher
    from news_crawler_slm_spark.crawl.semantics import CrawlParams
    from news_crawler_slm_spark.plans.corpus import corpus_from_crawl, current_pages
    from news_crawler_slm_spark.plans.pipeline import PreprocessParams
    from news_crawler_slm_spark.plans.training import TrainingPrepParams
    from news_crawler_slm_spark.session import cache_scope
    from news_crawler_slm_spark.sources.synthetic_web import WebScale, web_dataframes
    from news_crawler_slm_spark.sources.tables import SnapshotCatalog

    hosts = int(os.environ.get("SPARK_GRAFT_BENCH_CORPUS_HOSTS", str(BENCH_HOSTS)))
    pages = int(os.environ.get("SPARK_GRAFT_BENCH_CORPUS_PAGES", str(BENCH_PAGES)))
    dfs = web_dataframes(
        spark,
        WebScale(n_hosts=hosts, pages_per_host_max=pages, links_per_page=6, seed=11),
    )
    corpus_dir = tempfile.mkdtemp(prefix="bench_corpusprep_")
    web_path = os.path.join(corpus_dir, "web.parquet")
    dfs["web"].write.parquet(web_path)
    web = spark.read.parquet(web_path)
    root = os.path.join(corpus_dir, "cat")
    params = CrawlParams(
        round_budget=float(pages), max_articles=100_000, n_buckets=16
    )
    try:
        run_crawl(
            spark, root, dfs["seeds"], dfs["robots"], synthetic_fetcher(web),
            params, max_rounds=2, output_partitions=None,
        )
        catalog = SnapshotCatalog(spark, root)
        docs_in = current_pages(catalog.read_table("pages")).count()
        pp = PreprocessParams(token_threshold=10**9, cap_n=10**9)
        tp = TrainingPrepParams(token_budget=4096, gate="composite")
        t0 = time.monotonic()
        with cache_scope():  # releases the pipeline's internal caches
            res = corpus_from_crawl(catalog, pp, tp)
            packed = res.training.count()
            wall = time.monotonic() - t0
        return {
            "docs_in": docs_in,
            "packed_docs": packed,
            "wall_s": round(wall, 3),
            "docs_per_sec": round(docs_in / wall, 2),
            "gate": "composite",
        }
    finally:
        shutil.rmtree(corpus_dir, ignore_errors=True)


def _drain_and_stop(spark) -> None:
    """Stop a session without the late-accumulator stack trace: jobs that
    short-circuit (limit/take) leave canceled straggler tasks whose
    completion events hit the Python accumulator socket after stop() closes
    it (harmless 'Broken pipe' ERROR spam in stderr). Cancel + a short
    drain first."""
    try:
        spark.sparkContext.cancelAllJobs()
        time.sleep(2)
    except Exception:
        pass
    spark.stop()
    time.sleep(1)


def bench_crawl(cores: int, rounds: int, corpus_dir: str | None = None) -> dict[str, float]:
    """Run the crawl at `cores` on the identical deterministic web corpus.

    Returns total pages/sec, STEADY-STATE pages/sec (the big round — round 1
    pops only the seeds, so total throughput under-reports the engine at any
    scale where rounds amortize), and mean frontier-pop latency. The corpus
    is generated executor-side once and shared between core counts via
    parquet so both runs read byte-identical input."""
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        _drain_and_stop(active)

    spark = _session(cores, f"nc-slm-bench-crawl-{cores}", html_heavy=True)
    try:
        from news_crawler_slm_spark.crawl.rounds import run_crawl, synthetic_fetcher
        from news_crawler_slm_spark.crawl.semantics import CrawlParams
        from news_crawler_slm_spark.sources.synthetic_web import bench_web_dataframes

        dfs = bench_web_dataframes(
            spark,
            n_hosts=BENCH_HOSTS,
            pages_per_host=BENCH_PAGES,
            body_paras=BENCH_PARAS,
            seed=7,
        )
        # The corpus always lives on parquet and is read UNCACHED: an
        # on-heap .cache() of the html column melts down once the corpus
        # outgrows the JVM heap (measured at 64x768 pages / 16g heap:
        # eviction re-runs the python generator lineage every fetch, steady
        # throughput halves; with parquet + OS page cache the same corpus
        # runs at full speed and per-page cost stays flat with round size).
        if corpus_dir is None:
            corpus_dir = tempfile.mkdtemp(prefix="bench_corpus_")
        web_path = os.path.join(corpus_dir, "web.parquet")
        if not os.path.exists(web_path):
            dfs["web"].write.parquet(web_path)
        web = spark.read.parquet(web_path)
        n_web = web.count()  # materialize the corpus outside the timed region

        # Warm the python workers with a representative extract slice: the
        # first heavy Arrow stage of a fresh worker pool pays a concurrent
        # first-touch page-fault storm (measured 2-4x at 32 workers; a real
        # long-running cluster amortizes this once per executor lifetime).
        from news_crawler_slm_spark.functions.udfs import clean_html_udf

        (
            web.sample(fraction=0.12, seed=1)
            .select(clean_html_udf(F_col("html")).alias("t"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

        # identical logical job at both core counts: same buckets/salts, only
        # the executor-thread count differs (the N vs 4N surrogate)
        params = CrawlParams(
            round_budget=float(BENCH_PAGES), max_articles=100_000, n_buckets=16
        )
        root = tempfile.mkdtemp(prefix=f"bench_crawl_{cores}_")
        stats: dict = {"rounds": [], "pop_lat": []}

        def on_round(rnd, counters, round_s, pop_s):
            stats["rounds"].append((counters["fetched"], round_s))
            stats["pop_lat"].append(pop_s)

        t0 = time.monotonic()
        run_crawl(
            spark,
            root,
            dfs["seeds"],
            dfs["robots"],
            synthetic_fetcher(web),
            params,
            max_rounds=rounds,
            output_partitions=None,
            on_round=on_round,
        )
        wall = time.monotonic() - t0
        shutil.rmtree(root, ignore_errors=True)
        fetched = sum(f for f, _ in stats["rounds"])
        big_f, big_s = max(stats["rounds"], key=lambda r: r[0], default=(0, 1.0))
        pop_lat = sum(stats["pop_lat"]) / max(1, len(stats["pop_lat"]))
        return {
            "pages_per_sec": round(fetched / wall, 2),
            "steady_pages_per_sec": round(big_f / big_s, 2),
            "fetched": fetched,
            "wall_s": round(wall, 2),
            "pop_latency_s": round(pop_lat, 3),
            "web_pages": n_web,
        }
    finally:
        _drain_and_stop(spark)


def main() -> None:
    spark = _session(CPUS, "nc-slm-bench-queries")
    queries = bench_queries(spark)
    query_total = round(sum(queries.values()), 3)

    # Degrade gracefully: a transient failure in one crawl leg (OOM under
    # external load, steal spike killing a timeout) must not swallow the
    # WHOLE bench line — report what succeeded, mark what didn't.
    errors: dict[str, str] = {}
    bucketed = None
    if os.environ.get("SPARK_GRAFT_BENCH_BUCKETED", "1") != "0":
        try:
            bucketed = bench_bucketed(spark)
        except Exception as exc:  # noqa: BLE001
            errors["bucketed"] = f"{type(exc).__name__}: {exc}"[:300]
    quantile_pair = None
    if os.environ.get("SPARK_GRAFT_BENCH_QUANTILES", "1") != "0":
        try:
            quantile_pair = bench_quantile_pair(spark)
        except Exception as exc:  # noqa: BLE001
            errors["quantile_pair"] = f"{type(exc).__name__}: {exc}"[:300]
    corpus_prep = None
    if os.environ.get("SPARK_GRAFT_BENCH_CORPUS", "1") != "0":
        try:
            corpus_prep = bench_corpus_prep(spark)
        except Exception as exc:  # noqa: BLE001
            errors["corpus_prep"] = f"{type(exc).__name__}: {exc}"[:300]
    crawl_full = {"pages_per_sec": None, "steady_pages_per_sec": None,
                  "pop_latency_s": None}
    corpus_dir = tempfile.mkdtemp(prefix="bench_corpus_")
    try:
        try:
            crawl_full = max(
                (bench_crawl(CPUS, CRAWL_ROUNDS, corpus_dir) for _ in range(CRAWL_REPEATS)),
                key=lambda r: r["steady_pages_per_sec"],
            )
        except Exception as exc:  # noqa: BLE001
            errors["crawl"] = f"{type(exc).__name__}: {exc}"[:300]

        scaling = None
        runs_n: list = []
        runs_4n: list = []
        if DO_SCALING and "crawl" not in errors:
            # INTERLEAVE the N / 4N runs so hypervisor-steal weather (varies
            # 2-3x minute-to-minute on this box) hits both core counts
            # comparably; best-of-REPEATS each side.
            try:
                for _ in range(CRAWL_REPEATS):
                    runs_n.append(bench_crawl(CORES_N, CRAWL_ROUNDS, corpus_dir))
                    runs_4n.append(bench_crawl(CORES_4N, CRAWL_ROUNDS, corpus_dir))
            except Exception as exc:  # noqa: BLE001
                errors["scaling"] = f"{type(exc).__name__}: {exc}"[:300]
                runs_n, runs_4n = [], []
        if runs_n and runs_4n:
            crawl_n = max(runs_n, key=lambda r: r["steady_pages_per_sec"])
            crawl_4n = max(runs_4n, key=lambda r: r["steady_pages_per_sec"])
            eff = (
                crawl_4n["steady_pages_per_sec"]
                / crawl_n["steady_pages_per_sec"]
                / (CORES_4N / CORES_N)
            )
            hw_eff = cpu_scaling_ceiling(CORES_N, CORES_4N)
            scaling = {
                "cores_n": CORES_N,
                "cores_4n": CORES_4N,
                "pps_n": crawl_n["steady_pages_per_sec"],
                "pps_4n": crawl_4n["steady_pages_per_sec"],
                "total_pps_n": crawl_n["pages_per_sec"],
                "total_pps_4n": crawl_4n["pages_per_sec"],
                "efficiency": round(eff, 3),
                "hw_ceiling_efficiency": round(hw_eff, 3),
                "normalized_efficiency": round(min(1.0, eff / hw_eff), 3),
                "headline_cores": CPUS,
                "headline_pps": crawl_full["steady_pages_per_sec"],
                "note": "same job, same parquet input, local[N] vs local[4N], "
                "interleaved best-of-%d (no real cluster in sandbox; N=CPUS/8 "
                "so the pair is not confounded by full-box saturation "
                "artifacts — steal/one memory bus; full-saturation "
                "throughput = headline value; steady-state = biggest round; "
                "see BASELINE.md)" % CRAWL_REPEATS,
            }
        round_size_scaling = None
        if DO_BIGROUND and "crawl" not in errors:
            # fixed-cost amortization evidence: same config, 4x the pages in
            # the big round — per-page throughput should hold or improve
            # (per-round constants amortize; extract/discovery are linear).
            # INTERLEAVED small/big pairs, best-of each (ADVICE r03: the old
            # big-vs-earlier-crawl_full comparison re-exposed the ratio to
            # the minute-scale steal variance the query protocol fixed —
            # BASELINE recorded 0.77 from that path vs 0.93 re-measured
            # interleaved), same protocol as the N/4N scaling leg.
            global BENCH_PAGES
            small_pages = BENCH_PAGES
            big_dir = tempfile.mkdtemp(prefix="bench_corpus_big_")
            try:
                smalls, bigs = [crawl_full], []
                for _ in range(CRAWL_REPEATS):
                    smalls.append(bench_crawl(CPUS, CRAWL_ROUNDS, corpus_dir))
                    BENCH_PAGES = small_pages * 4
                    bigs.append(bench_crawl(CPUS, CRAWL_ROUNDS, big_dir))
                    BENCH_PAGES = small_pages
                small = max(smalls, key=lambda r: r["steady_pages_per_sec"])
                big = max(bigs, key=lambda r: r["steady_pages_per_sec"])
                round_size_scaling = {
                    "pages_small": small["fetched"],
                    "steady_pps_small": small["steady_pages_per_sec"],
                    "pages_big": big["fetched"],
                    "steady_pps_big": big["steady_pages_per_sec"],
                    "per_page_ratio_big_over_small": round(
                        big["steady_pages_per_sec"] / small["steady_pages_per_sec"],
                        3,
                    ),
                }
            except Exception as exc:  # noqa: BLE001
                errors["round_size"] = f"{type(exc).__name__}: {exc}"[:300]
            finally:
                BENCH_PAGES = small_pages
                shutil.rmtree(big_dir, ignore_errors=True)
    finally:
        shutil.rmtree(corpus_dir, ignore_errors=True)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        "metric": "pages_per_sec",
        "value": crawl_full["pages_per_sec"],
        "unit": "pages/sec",
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "query_total_s": query_total,
        "frontier_pop_latency_s": crawl_full["pop_latency_s"],
        "crawl": crawl_full,
        "scaling": scaling,
        "round_size_scaling": round_size_scaling,
        "bucketed_join": bucketed,
        "quantile_pair": quantile_pair,
        "corpus_prep": corpus_prep,
        "errors": errors or None,
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()

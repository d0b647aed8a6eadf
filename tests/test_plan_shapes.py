"""Physical-plan invariants for the crawl's 100 TB design rules
(SURVEY.md §4.3 / BASELINE.json north_rule):

1. html bytes NEVER shuffle — the fetch join broadcasts the popped side;
   no Exchange in the pages-delta plan carries the html column.
2. the frontier pop's per-group top-k compiles to a window group-limit
   (no global sort of the frontier).
3. the seen-set dedup anti-join shuffles only (bucket, url_hash)-shaped
   columns, never raw html.
"""

from __future__ import annotations

import re

import pytest

from news_crawler_slm_spark.crawl.rounds import build_round, init_state, synthetic_fetcher
from news_crawler_slm_spark.crawl.semantics import CrawlParams
from news_crawler_slm_spark.session import cache_scope
from news_crawler_slm_spark.sources.synthetic_web import WebScale, web_dataframes


@pytest.fixture(autouse=True)
def _clear_cache(spark):
    """Drop what a test persisted even when it fails, so the next test's
    scan counts never read a leftover cache."""
    yield
    spark.catalog.clearCache()


def _round_plans(spark):
    dfs = web_dataframes(spark, WebScale(n_hosts=8, pages_per_host_max=12))
    params = CrawlParams(round_budget=6.0, n_buckets=4)
    state = init_state(spark, dfs["seeds"], dfs["robots"], params)
    deltas, popped, slim, _n, _lat = build_round(
        state, dfs["robots"], synthetic_fetcher(dfs["web"]), params, None
    )
    return deltas, popped, slim


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_fetch_join_broadcasts_popped_and_html_never_shuffles(spark):
    with cache_scope():
        deltas, _popped, _slim = _round_plans(spark)
        plan = _plan(deltas.pages_delta)
    assert "BroadcastHashJoin" in plan
    # every Exchange block must be free of the html column: html flows
    # scan -> broadcast-probe -> clean UDF without crossing a shuffle
    for ex in re.finditer(r"Exchange [^\n]*\n", plan):
        assert "html" not in ex.group(0), ex.group(0)


def test_frontier_pop_no_global_frontier_sort(spark):
    """Per-host budget is a COLUMN, so Catalyst's WindowGroupLimit rewrite
    cannot apply — the scalable invariant is instead: every sort over the
    frontier is partition-LOCAL (windows partitioned by host/salt).  The
    raw pop (what build_round returns/caches) has NO single-partition
    exchange at all; the seq assignment on top is size-aware (attach_seq)
    and its scale path is plan-checked in test_crawl.py."""
    with cache_scope():
        _deltas, popped, _slim = _round_plans(spark)
        plan = _plan(popped)
    # "Sort [...], true, 0" would be a global sort of the frontier
    assert not re.search(r"Sort \[[^\]]*\], true,", plan), "global sort found"
    assert "Exchange SinglePartition" not in plan


def test_seen_dedup_exchanges_carry_no_html(spark):
    with cache_scope():
        deltas, _popped, _slim = _round_plans(spark)
        plan = _plan(deltas.frontier)
    for ex in re.finditer(r"Exchange [^\n]*\n", plan):
        assert "html" not in ex.group(0), ex.group(0)


def test_gopher_quality_flags_is_shuffle_free(spark):
    """Quality gating must never cost a per-token shuffle: the whole Gopher
    rule set compiles to a single codegen'd projection — no generate/
    explode node anywhere.  r07 allows exactly ONE exchange: the adaptive
    input spread (catalog._spread) that hash-repartitions the (doc_id,
    text) scan of a row-group-limited input across the cores; it carries
    only the scan columns and is a no-op on any already-split input, so
    the 100 TB plan remains Exchange-free."""
    import re as _re

    from news_crawler_slm_spark.plans import REGISTRY

    df = REGISTRY["gopher_quality_flags"][0](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "Generate" not in plan
    exchanges = _re.findall(r"Exchange [^\n]*", plan)
    assert len(exchanges) <= 1, exchanges
    for ex in exchanges:
        assert "hashpartitioning(doc_id" in ex, ex


def test_top_ngram_single_shuffle_no_doc_join_back(spark):
    """The repetition rule's plan budget: the gram count shuffles once on
    (doc_id, chars, gram) and the per-doc argmax is an AGGREGATE
    (min(struct(-c, g)), r07 — not a window, which would sort every gram
    row and could not partial-fold map-side) — and there is NO join back
    to the documents table (the char denominator rides the rows), so
    exactly one scan, zero join nodes, zero window nodes."""
    from news_crawler_slm_spark.plans import REGISTRY

    df = REGISTRY["top_ngram_char_fraction"][0](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("Scan parquet") == 1


def test_keeper_rules_are_censuses_not_hash_windows(spark):
    """The first-occurrence keeper rules (r07): a window partitioned by a
    content hash cannot split a hot key — one boilerplate unit shared by
    millions of docs funnels through one task — so the keeper must be a
    partial-aggregatable census joined back. Pins: no Window node in the
    plan, and the persisted unit table keeps the per-execution corpus
    scans at <= 1."""
    from news_crawler_slm_spark.plans import REGISTRY

    for name in ("substring_dup_stats", "paragraph_dedup"):
        df = REGISTRY[name][0](spark, "/root/testdata/sf0.001")
        assert "Window" not in _plan(df), name
        n = _count_file_scans(df._jdf.queryExecution().executedPlan())
        assert n <= 1, f"{name}: {n} per-execution scans"


def test_ann_lsh_band_table_is_persisted_and_spread(spark):
    """ann_lsh_topk (r07): the bands x bits interpreted hyperplane folds
    are the query's dominant cost, and the candidate self-join consumes
    the band table on BOTH sides — it must be persisted (<= 1
    per-execution scan; a lazy frame re-runs the folds once per side)."""
    from news_crawler_slm_spark.plans import REGISTRY

    df = REGISTRY["ann_lsh_topk"][0](spark, "/root/testdata/sf0.001")
    n = _count_file_scans(df._jdf.queryExecution().executedPlan())
    assert n <= 1, f"ann_lsh_topk: {n} per-execution scans"


def test_tfidf_search_scans_the_corpus_once(spark):
    """tf and idf must share one lineage (idf = a census of the PERSISTED
    tf postings broadcast back, r07 — was a PARTITION BY token window,
    which funnels every hit through at most |query| tasks): at most two
    per-execution parquet scans — the text scan and the count-only N
    scan — never a second explode of the corpus, and no token-partition
    window anywhere."""
    from news_crawler_slm_spark.plans import REGISTRY

    df = REGISTRY["tfidf_search"][0](spark, "/root/testdata/sf0.001")
    assert _count_file_scans(df._jdf.queryExecution().executedPlan()) <= 2
    assert "Window" not in _plan(df)


def test_bm25_search_prunes_before_shuffle_and_scans_twice(spark):
    """BM25 mirrors tfidf's shape plus length normalization: the doc
    length rides the hits scan (NO join back to documents), df is a
    census of the persisted tf postings broadcast back (no token-funnel
    window), and (n_docs, avgdl) is one broadcast 1-row dim — so at most
    two per-execution parquet scans (stats + hits), and the isin(query)
    filter sits in the scan stage, before any Exchange."""
    from news_crawler_slm_spark.plans import REGISTRY

    df = REGISTRY["bm25_search"][0](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert _count_file_scans(df._jdf.queryExecution().executedPlan()) <= 2
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # TakeOrdered top-k, never a global sort
    assert "TakeOrderedAndProject" in plan


def test_doc_fingerprints_is_shuffle_free(spark):
    """Content fingerprinting is a pure codegen projection (md5 + conv):
    one scan, zero Exchanges at any scale."""
    from news_crawler_slm_spark.plans import REGISTRY

    df = REGISTRY["doc_fingerprints"][0](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Exchange" not in plan
    # "*(1)" is executedPlan's marker for a whole-stage-codegen span: the
    # md5/conv projection must compile, not fall back to interpreted eval
    assert "*(1) Project" in plan, plan


def test_minhash_lsh_single_gram_shuffle_broadcast_cap(spark):
    """The md5 re-key must not change the minhash plan shape: shingles
    shuffle once on doc_id into the 16-way min aggregation, band buckets
    shuffle once for the self-join, and the hot-bucket cap joins as a
    BROADCAST anti-join (never a shuffled join against the full banded
    relation)."""
    from news_crawler_slm_spark.plans import REGISTRY

    df = REGISTRY["minhash_lsh_candidates"][0](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_stratified_sample_one_shuffle_no_join(spark):
    """Quota sampling budget: ONE shuffle (the stratum key) feeding the
    per-group rank filter — no join, a single corpus scan."""
    from news_crawler_slm_spark.plans import REGISTRY

    df = REGISTRY["stratified_sample"][0](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange") == 1


def test_dsir_scoring_joins_broadcast(spark):
    """DSIR's parameter state is O(B buckets): the per-token scoring join
    and the bucket/total dims must all broadcast — a sort-merge join or a
    real cartesian product would mean corpus-sized parameter movement."""
    from news_crawler_slm_spark.plans import REGISTRY

    df = REGISTRY["dsir_importance_weights"][0](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ccnet_dim_joins_broadcast(spark):
    """CCNet scoring: the (lang, tok) LM dim and the per-lang size dim ride
    broadcast joins; the only shuffles are the dim aggregations and the
    per-language tertile window."""
    from news_crawler_slm_spark.plans import REGISTRY

    df = REGISTRY["ccnet_perplexity_buckets"][0](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bpe_pair_counts_take_ordered(spark):
    """The top-k cut must compile to TakeOrderedAndProject (per-partition
    heaps), never a global sort of all pairs."""
    from news_crawler_slm_spark.plans import REGISTRY

    df = REGISTRY["bpe_pair_counts"][0](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan or plan.index("TakeOrderedAndProject") >= 0


def test_predicate_pushdown_and_column_pruning(spark):
    """The free Catalyst wins must actually be free: q1's shipdate range
    reaches the lineitem parquet scan as a PushedFilter, and a
    single-column aggregation reads ONE of the documents table's five
    columns (ReadSchema pruning) — a scan reading all columns for a
    one-column query would be wrong at any scale."""
    import re

    from news_crawler_slm_spark.plans import REGISTRY

    q1 = _plan(REGISTRY["q1_pricing_summary"][0](spark, "/root/testdata/sf0.001"))
    pushed = " ".join(re.findall(r"PushedFilters: \[[^\]]*\]", q1))
    assert "LessThanOrEqual(l_shipdate" in pushed

    col = _plan(REGISTRY["count_over_limit"][0](spark, "/root/testdata/sf0.001"))
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", col)
    assert schemas and all(s == "text:string" for s in schemas)

    insp = _plan(REGISTRY["sample_inspector"][0](spark, "/root/testdata/sf0.001"))
    assert "PushedFilters: [IsNotNull(source)]" in insp


def test_composite_gate_fuses_projection_legs(spark):
    """The gopher and c4 rule sets share ONE documents scan inside the
    composite gate (fused projection): exactly four parquet scans — the
    fused flags leg plus the three repetition legs."""
    from news_crawler_slm_spark.plans import REGISTRY

    plan = _plan(
        REGISTRY["composite_quality_gate"][0](spark, "/root/testdata/sf0.001")
    )
    assert plan.count("Scan parquet") == 4


def test_hll_probe_has_no_token_exchange(spark):
    """The production HLL probe must never shuffle the token universe:
    its only exchanges carry register-shaped rows (<= 2^p per mapper).
    The self-evaluating twin DOES carry a count_distinct(tok) branch —
    the contrast this test pins."""
    import re as _re

    from news_crawler_slm_spark.plans import REGISTRY

    probe = REGISTRY["hll_distinct_tokens_probe"][0](spark, "/root/testdata/sf0.001")
    plan = _plan(probe)
    for ex in _re.finditer(r"Exchange hashpartitioning\([^\n]*", plan):
        assert "tok" not in ex.group(0), ex.group(0)
    assert "distinct" not in plan.lower()
    # the twin keeps the vocabulary shuffle (its accuracy branch)
    full = _plan(REGISTRY["hll_distinct_tokens"][0](spark, "/root/testdata/sf0.001"))
    assert "tok" in full


def test_cms_probe_shuffles_only_cells(spark):
    """The production CMS probe's only wide exchange is the (row, col)
    cell aggregation (bounded by d*w keys): no Exchange carries the raw
    token column, and the probe dim joins as a broadcast."""
    import re as _re

    from news_crawler_slm_spark.plans import REGISTRY

    probe = REGISTRY["cms_token_frequency_probe"][0](spark, "/root/testdata/sf0.001")
    plan = _plan(probe)
    for ex in _re.finditer(r"Exchange hashpartitioning\([^\n]*", plan):
        assert "tok#" not in ex.group(0), ex.group(0)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_cms_heavy_hitters_broadcast_sketch_semi_filter(spark):
    """The heavy-hitters pass must learn estimates MAP-SIDE: all four
    per-depth cell joins and the 1-row threshold join are broadcasts (no
    SortMergeJoin anywhere), and the final token-keyed aggregation is
    preceded by a map-side partial count — so the only token-shaped
    exchange carries (#partitions x #survivors) rows, never the
    vocabulary."""
    import re as _re

    from news_crawler_slm_spark.plans import REGISTRY

    df = REGISTRY["cms_heavy_hitters"][0](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "SortMergeJoin" not in plan
    assert len(_re.findall(r"BroadcastHashJoin", plan)) >= 4
    # token-keyed exchange exists (survivor counting) but only after a
    # partial aggregate on the token key
    agg = _re.search(r"HashAggregate\(keys=\[token[^\n]*partial_count[^\n]*", plan)
    assert agg is not None, plan


def _count_file_scans(node):
    """Per-execution parquet scans in a physical plan tree: descends into
    the AQE wrapper and broadcast/scalar subqueries, and STOPS at
    InMemoryTableScan boundaries — a persisted subtree materializes once
    per cache lifetime, so its internal scans are not per-execution
    work."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return _count_file_scans(node.initialPlan())
    if "InMemoryTableScan" in cls:
        return 0
    n = 1 if cls.startswith("FileSourceScan") or cls == "BatchScanExec" else 0
    ch = node.children()
    for i in range(ch.size()):
        n += _count_file_scans(ch.apply(i))
    sq = node.subqueries()
    for i in range(sq.size()):
        n += _count_file_scans(sq.apply(i))
    return n


def test_corpus_scan_budgets(spark):
    """Lineage-fan-out regression pin (r06): Catalyst/AQE do NOT dedup
    structurally different consumers of a shared frame, so a lazy
    multi-consumer plan silently re-runs its expensive upstream once per
    consumer (minhash_jaccard_estimates was measured at 46 corpus scans
    before its signature table was persisted). Each query below carries a
    documented per-execution scan budget; exceeding it means a persist
    was dropped or a new consumer re-derives the corpus."""
    from news_crawler_slm_spark.plans import REGISTRY

    budgets = {
        # fingerprint/index/sketch tables persisted -> pairs stages read
        # caches, not parquet
        "simhash_neardup_pairs": 2,
        "ngram_jaccard_pairs": 2,
        "minhash_lsh_candidates": 2,
        "minhash_jaccard_estimates": 4,
        # sketch cells cached; the probe pass re-scans the corpus once
        "cms_heavy_hitters": 2,
        # train tokenize + score tokenize + |langs|-row prior census
        "nb_lang_classifier": 3,
        # trained LM dims persisted (train-once): per-execution scans are
        # the score pass at most; training scans run once at cache fill
        "ccnet_perplexity_buckets": 2,
        "stupid_backoff_scores": 3,
        # r06 wave 4: dsir's |vocab|-row census and temperature's
        # per-source census persisted (multi-consumer fan-out cut to the
        # score/keep pass); bigram's context totals folded into a window
        # over the aggregated dim (train + score scans, no cache)
        "bigram_perplexity": 2,
        "dsir_importance_weights": 1,
        "temperature_mixture_sample": 1,
        # r07: KN's type total Z is a 1-row aggregate of the PERSISTED
        # bigram census broadcast back (was a zero-key window funneling
        # the whole dim through one partition); the Z branch must read
        # the cache, keeping the budget at train + score scans
        "kn_bigram_perplexity": 2,
    }
    for name, budget in budgets.items():
        df = REGISTRY[name][0](spark, "/root/testdata/sf0.001")
        n = _count_file_scans(df._jdf.queryExecution().executedPlan())
        assert n <= budget, f"{name}: {n} per-execution scans > budget {budget}"

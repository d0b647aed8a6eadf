"""End-to-end preprocessing-pipeline equivalence (reference data_ops
step_02→06, SURVEY.md §3.2): the composed lazy Spark plan must match a
sequential pure-python oracle row-for-row on the synthetic web corpus —
split assignment, stable positions, cleaned text bytes, token stats, the
(split, position) anti-join filter, and the per-publisher shrink."""

from __future__ import annotations

import hashlib

from news_crawler_slm_spark.functions.html_clean import clean_html
from news_crawler_slm_spark.plans.pipeline import (
    PreprocessParams,
    preprocess_pages,
)
from news_crawler_slm_spark.session import cache_scope
from news_crawler_slm_spark.sources.synthetic_web import WebScale, generate_web

PARAMS = PreprocessParams(train_frac=0.8, token_threshold=60, cap_n=3)
SCALE = WebScale(n_hosts=9, pages_per_host_max=14, seed=11)


def _oracle(rows):
    """Sequential reference-semantics implementation (the oracle)."""
    pubs = sorted({r[5] for r in rows})
    ranked = sorted(pubs, key=lambda p: hashlib.md5(p.encode()).hexdigest())
    n = len(ranked)
    ts0 = int(round(PARAMS.train_frac * n))
    rem = n - ts0
    train_n, val_n = ts0 + rem % 2, rem // 2
    split_of = {}
    for i, p in enumerate(ranked, 1):
        split_of[p] = "train" if i <= train_n else ("val" if i <= train_n + val_n else "test")

    cleaned = []  # (url, publisher, split, position, text)
    by_split = {}
    for url, html, _links, _ok, _lang, pub in sorted(rows, key=lambda r: (r[5], r[0])):
        by_split.setdefault(split_of[pub], []).append((url, pub))
    texts = {r[0]: clean_html(r[1].decode("utf-8")) for r in rows}
    for split, items in by_split.items():
        for pos, (url, pub) in enumerate(items):
            cleaned.append((url, pub, split, pos, texts[url]))

    stats = {(c[2], c[3]): len(c[4].strip().split()) if c[4].strip() else 1 for c in cleaned}
    # ws_token_count twin: size(split(trim(text),'\s+')) counts 1 for empty
    kept = [c for c in cleaned if not stats[(c[2], c[3])] > PARAMS.token_threshold]

    final = []
    per_pub: dict[tuple, int] = {}
    for c in sorted(kept, key=lambda c: (c[2], c[1], c[3])):
        key = (c[2], c[1])
        per_pub[key] = per_pub.get(key, 0) + 1
        if c[2] == "train" or per_pub[key] <= PARAMS.cap_n:
            final.append(c)
    return cleaned, kept, final


def test_pipeline_matches_sequential_oracle(spark):
    rows = generate_web(SCALE)["web"]
    from news_crawler_slm_spark import schemas

    web = spark.createDataFrame(rows, schemas.WEB)
    pages = web.selectExpr("url", "html", "publisher")
    res = preprocess_pages(pages, PARAMS)

    cleaned_o, kept_o, final_o = _oracle(rows)

    got_cleaned = {
        (r.url, r.publisher, r.split, r.position, r.text) for r in res.cleaned.collect()
    }
    assert got_cleaned == set(cleaned_o)  # split + position + BYTES identical

    got_final = {
        (r.url, r.publisher, r.split, r.position, r.text) for r in res.final.collect()
    }
    assert got_final == set(final_o)
    # the filter actually dropped something and shrink actually capped
    assert len(cleaned_o) > len(kept_o) > len(final_o) or len(kept_o) == len(final_o)


def test_token_stats_table_matches(spark):
    rows = generate_web(SCALE)["web"]
    from news_crawler_slm_spark import schemas

    web = spark.createDataFrame(rows, schemas.WEB)
    res = preprocess_pages(web.selectExpr("url", "html", "publisher"), PARAMS)
    cleaned_o, _, _ = _oracle(rows)
    want = {
        (c[2], c[3], "text", len(c[4].strip().split()) if c[4].strip() else 1)
        for c in cleaned_o
    }
    got = {
        (r.split, r.position, r.column, r.token_count) for r in res.token_stats.collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# Distributed prefix sum / training-data packing (operators/prefix_sum.py)
# ---------------------------------------------------------------------------


def test_running_sum_matches_sequential_and_is_partition_invariant(spark):
    """Two-phase prefix sum == sequential exclusive cumsum, for adversarial
    key layouts (gaps, unsorted input, skewed weights), at several bucket
    counts — and the plan never contains a SinglePartition exchange."""
    from news_crawler_slm_spark.operators.prefix_sum import running_sum_by_key

    rows = [(k, w) for k, w in zip(
        [7, 1, 100, 3, 52, 9, 1000, 41, 8, 2],
        [5, 1, 2, 9, 0, 3, 7, 11, 4, 6],
    )]
    want = {}
    acc = 0
    for k, w in sorted(rows):
        want[k] = acc
        acc += w
    for n_buckets in (1, 3, 8, 64):
        df = spark.createDataFrame(rows, "k long, w long").repartition(5)
        out = running_sum_by_key(df, key="k", weight="w", n_buckets=n_buckets)
        got = {r["k"]: r["cum_before"] for r in out.collect()}
        assert got == want, n_buckets


def test_running_sum_plan_has_no_single_partition_exchange(spark):
    from news_crawler_slm_spark.operators.prefix_sum import running_sum_by_key

    df = spark.createDataFrame([(i, i % 7) for i in range(100)], "k long, w long")
    out = running_sum_by_key(df, key="k", weight="w")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan


def test_token_budget_packing_and_training_shuffle_no_global_sort(spark, tmp_path):
    """The packing and shuffle queries produce globally-ordered ranks with
    bucket-parallel plans; batch ids are contiguous and budget-consistent."""
    from news_crawler_slm_spark.plans.catalog import REGISTRY

    docs = [(i, " ".join(["tok"] * (3 + i % 11)), "en", "s0", 10) for i in range(200)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    pack_fn, _ = REGISTRY["token_budget_packing"]
    out = pack_fn(spark, str(tmp_path))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan
    got = sorted((r["doc_id"], r["n_tokens"], r["cum_before"], r["batch_id"]) for r in out.collect())
    acc = 0
    for doc_id, n_tokens, cum_before, batch_id in got:
        assert cum_before == acc
        assert batch_id == acc // 512
        acc += n_tokens

    shuf_fn, _ = REGISTRY["training_shuffle"]
    out2 = shuf_fn(spark, str(tmp_path))
    plan2 = out2._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan2, plan2
    rows = out2.collect()
    by_pos = sorted(rows, key=lambda r: r["position"])
    assert [r["position"] for r in by_pos] == list(range(len(docs)))
    keys = [r["shuffle_key"] for r in by_pos]
    assert keys == sorted(keys)  # position is the rank in shuffled order
    assert len(set(keys)) == len(keys)  # multiplicative hash is a bijection


def test_running_sum_property_random_keys_weights(spark):
    """Hypothesis: for arbitrary unique keys (any spacing/clustering),
    arbitrary non-negative weights, and any bucket count, the two-phase
    prefix sum equals the sequential exclusive cumsum. One Spark job per
    drawn case set (cases batched into a single DataFrame)."""
    from hypothesis import given, settings, strategies as st

    from news_crawler_slm_spark.operators.prefix_sum import running_sum_by_key

    cases = []

    @settings(max_examples=40, deadline=None)
    @given(
        st.lists(st.integers(-10**9, 10**9), min_size=1, max_size=12, unique=True),
        st.data(),
        st.integers(1, 40),
    )
    def collect(keys, data, n_buckets):
        weights = [data.draw(st.integers(0, 10**6)) for _ in keys]
        cases.append((len(cases), keys, weights, n_buckets))

    collect()

    # batch all cases into one DataFrame keyed by case id; run the operator
    # per distinct bucket count (bucket count is an operator arg)
    from collections import defaultdict

    by_buckets = defaultdict(list)
    for cid, keys, weights, nb in cases:
        by_buckets[nb].append((cid, keys, weights))
    for nb, group in by_buckets.items():
        rows = [
            (cid, k, w)
            for cid, keys, weights in group
            for k, w in zip(keys, weights)
        ]
        df = spark.createDataFrame(rows, "cid int, k long, w long").repartition(4)
        # composite key: cumsum must be per-case, so run per case via a
        # shifted key space (cases are independent; shift keys into
        # disjoint ranges to use one operator call)
        SHIFT = 2**41
        shifted = df.selectExpr("cid", "cid * CAST(pow(2,41) AS LONG) + (k + CAST(pow(2,40) AS LONG)) AS k2", "w")
        out = running_sum_by_key(shifted, key="k2", weight="w", n_buckets=nb)
        got_rows = out.collect()
        got = {}
        for r in got_rows:
            cid = r["cid"]
            k = r["k2"] - cid * SHIFT - 2**40
            got[(cid, k)] = r["cum_before"]
        for cid, keys, weights in group:
            kw = sorted(zip(keys, weights))
            # cumsum within the case starts at the total of all PRIOR
            # cases in key order (cases share one operator call via shifted
            # disjoint ranges, so lower cids accumulate first)
            acc = sum(sum(ws) for c2, _ks2, ws in group if c2 < cid)
            for k, w in kw:
                assert got[(cid, k)] == acc, (cid, k, nb)
                acc += w


# ---------------------------------------------------------------------------
# Connected components (operators/graph.py)
# ---------------------------------------------------------------------------


def test_connected_components_chains_and_isolates(spark):
    from news_crawler_slm_spark.operators.graph import connected_components

    # one 5-node chain (multi-hop propagation), one pair, one triangle
    edges = spark.createDataFrame(
        [(10, 20), (20, 30), (30, 40), (40, 50), (7, 8), (1, 2), (2, 3), (1, 3)],
        "a long, b long",
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {10: 10, 20: 10, 30: 10, 40: 10, 50: 10, 7: 7, 8: 7, 1: 1, 2: 1, 3: 1}


def test_connected_components_convergence_guard(spark):
    import pytest

    from news_crawler_slm_spark.operators.graph import connected_components

    # a long path needs ~length rounds; max_iter=2 must raise, not silently
    # return wrong labels
    edges = spark.createDataFrame([(i, i + 1) for i in range(8)], "a long, b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2)
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert set(got.values()) == {0} and len(got) == 9


# ---------------------------------------------------------------------------
# Composed training-data preparation (plans/training.py)
# ---------------------------------------------------------------------------


def _neardup_keepers(kept):
    """Pure-python twin of catalog_dedup.neardup_components + min-id keeper:
    3-token-window Rabin-Karp hashes, 2-smallest-distinct sketch, bucket
    cap 16, union-find components, survivor iff doc_id == min(component)."""

    def rk(s):
        acc = 0
        for ch in s:
            acc = (acc * 257 + ord(ch)) % 1000000007
        return acc

    def sketch(t):
        norm = " ".join(t.strip().lower().split())
        tk = norm.split(" ")
        wins = [norm] if len(tk) < 3 else [" ".join(tk[j : j + 3]) for j in range(len(tk) - 2)]
        return sorted({rk(w) for w in wins})[:2]

    from collections import defaultdict

    buckets = defaultdict(list)
    for i, t, _n in kept:
        for h in sketch(t):
            buckets[h].append(i)
    parent = {i: i for i, _t, _n in kept}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for ids in buckets.values():
        if len(ids) > 16:
            continue
        for other in ids[1:]:
            ra, rb = find(ids[0]), find(other)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    comp_min = defaultdict(lambda: 10**18)
    for i, _t, _n in kept:
        r = find(i)
        comp_min[r] = min(comp_min[r], i)
    return [(i, t, n) for i, t, n in kept if comp_min[find(i)] == i]


def test_prepare_training_data_matches_sequential_oracle(spark):
    """quality gate -> exact dedup -> near-dup dedup -> deterministic
    shuffle -> budget pack equals the sequential pure-python pipeline."""
    from news_crawler_slm_spark.plans.training import (
        TrainingPrepParams,
        prepare_training_data,
    )

    docs = []
    for i in range(80):
        if i % 11 == 0:
            text = "dup dup this text is a duplicate body here"  # exact dups
        elif i % 13 == 0:
            text = "tiny"  # fails min_tokens
        elif i % 17 == 0:
            text = "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"  # fails punct
        elif i % 19 == 3:
            # near-dups: long shared body, only the trailing token differs
            text = f"alpha beta gamma delta epsilon zeta eta theta variant v{i}"
        else:
            text = " ".join(f"w{i}t{j}" for j in range(3 + i % 9)) + " the end"
        docs.append((i, text))

    params = TrainingPrepParams(min_tokens=5, max_punct_ratio=0.3, token_budget=32)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = prepare_training_data(df, params)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan
    # the gate+dedup lineage is persisted around the prefix sum's 3 passes
    assert "InMemoryTableScan" in plan, plan
    got = {r["doc_id"]: (r["n_tokens"], r["shuffle_key"], r["cum_before"], r["batch_id"])
           for r in out.collect()}

    # sequential oracle
    import re as _re

    def toks(t):
        return t.strip().split()

    survivors = []
    seen_md5 = {}
    for i, t in docs:
        tk = toks(t)
        n_chars = len(t)
        punct = len(_re.sub(r"[\w\s]", "", t)) / n_chars if n_chars else 0.0
        if len(tk) < params.min_tokens or punct > params.max_punct_ratio:
            continue
        survivors.append((i, t, len(tk)))
    kept = []
    for i, t, n in survivors:
        if t in seen_md5:
            continue
        seen_md5[t] = i  # min doc_id survives: survivors iterate in doc_id order
        kept.append((i, t, n))
    kept2 = _neardup_keepers(kept)
    assert len(kept2) < len(kept)  # the near-dup stage removed something
    shuffled = sorted(((i * 2654435761) % 4294967296, i, n) for i, t, n in kept2)
    acc = 0
    want = {}
    for key, i, n in shuffled:
        want[i] = (n, key, acc, acc // params.token_budget)
        acc += n
    assert got == want
    assert len({v[3] for v in got.values()}) > 1  # multiple batches exercised


def test_prepare_training_data_composite_gate_matches_oracle(spark):
    """VERDICT r04 #7: the flagship pipeline with the PRODUCTION gate wired
    in (gate='composite' — Gopher + repetition family + C4) must equal the
    sequential oracle: gate survivors via the nested DuckDB composite
    oracle (the same cross-engine SQL the driver checks), then exact dedup
    -> near-dup components -> Knuth shuffle -> budget pack in pure python.
    Composition is where join bugs hide — this pins the semi-join prune."""
    import duckdb
    import pandas as pd

    from news_crawler_slm_spark.plans.catalog_quality import _COMPOSITE_ORACLE
    from news_crawler_slm_spark.plans.training import (
        TrainingPrepParams,
        prepare_training_data,
    )

    def vline(tag, j):
        # a 13-word line that passes every gate leg, with tag-unique tokens
        # spaced so no 5-gram window repeats within OR across lines (the
        # longest tag-free token run, including across line boundaries, is
        # 4 tokens: "today. the quick brown")
        return (
            f"the quick brown {tag}fox{j} jumps over a lazy {tag}dog{j}"
            f" near it {tag}w{j} today."
        )

    good_line = "the quick brown fox jumps over a lazy dog near it today."
    dup_text = "\n".join(vline("dup", j) for j in range(5))
    nd_body = "\n".join(vline("nd", j) for j in range(4))
    docs = []
    for i in range(40):
        if i % 10 == 0:
            # fails Gopher (mean word length < 3) but passes C4
            docs.append((i, "\n".join(["xx xx xx xx xx xx."] * 10)))
        elif i % 10 == 1:
            # fails C4 (no terminal punctuation -> 0 kept lines)
            docs.append((i, " ".join(f"the w{i}x{j} of" for j in range(20))))
        elif i % 10 == 2:
            # fails repetition (every line identical: dup_line_frac = 1.0)
            docs.append((i, "\n".join([good_line] * 8)))
        elif i % 10 == 3:
            # exact duplicates: same gate-passing body for every such i
            docs.append((i, dup_text))
        elif i % 10 == 4:
            # near-duplicates: shared 4-line body, one closing line varies
            docs.append((i, nd_body + "\n" + vline(f"c{i}", 9)))
        else:
            docs.append((i, "\n".join(vline(f"g{i}", j) for j in range(5))))

    params = TrainingPrepParams(token_budget=64, gate="composite")
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = prepare_training_data(df, params)
    got = {r["doc_id"]: (r["n_tokens"], r["shuffle_key"], r["cum_before"], r["batch_id"])
           for r in out.collect()}

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text"]))
    keep = {r[0] for r in con.execute(
        f"SELECT doc_id FROM ({_COMPOSITE_ORACLE}) WHERE keep"
    ).fetchall()}
    assert 0 < len(keep) < len(docs)
    # each crafted failure mode actually fired
    assert not any(i % 10 in (0, 1, 2) for i in keep)

    survivors = [(i, t, len(t.strip().split())) for i, t in docs if i in keep]
    kept, seen = [], set()
    for i, t, n in survivors:  # doc_id order: min doc_id survives
        if t in seen:
            continue
        seen.add(t)
        kept.append((i, t, n))
    assert len(kept) < len(survivors)  # exact-dup stage removed something
    kept2 = _neardup_keepers(kept)
    assert len(kept2) < len(kept)  # near-dup stage removed something
    shuffled = sorted(((i * 2654435761) % 4294967296, i, n) for i, t, n in kept2)
    acc, want = 0, {}
    for key, i, n in shuffled:
        want[i] = (n, key, acc, acc // params.token_budget)
        acc += n
    assert got == want


def test_training_data_scope_releases_cache(spark):
    """ADVICE r03: prepare_training_data's internal persist leaked across
    repeated runs. Run inside a cache_scope, it must leave the SQL cache
    manager empty after each run, while producing the identical result."""
    from news_crawler_slm_spark.plans.training import (
        TrainingPrepParams,
        prepare_training_data,
    )

    docs = [(i, " ".join(f"w{i}t{j}" for j in range(5 + i % 7))) for i in range(60)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    params = TrainingPrepParams(token_budget=64)

    def sql_cache_empty():
        # the SQL cache manager tracks persist()/unpersist() of DataFrames;
        # localCheckpoint RDDs (graph loop internals, reclaimed by the
        # context cleaner) deliberately don't count here
        return spark._jsparkSession.sharedState().cacheManager().isEmpty()

    spark.catalog.clearCache()
    want = {tuple(r) for r in prepare_training_data(df, params).collect()}
    assert not sql_cache_empty()  # with no scope open the caller owns it
    spark.catalog.clearCache()
    for _ in range(2):
        with cache_scope():
            got = {tuple(r) for r in prepare_training_data(df, params).collect()}
            assert not sql_cache_empty()  # the plan read its cache
        assert got == want
        assert sql_cache_empty()  # released on scope exit, every run


def test_training_exact_dedup_carries_map_column(spark):
    """docs may carry columns of any type (``select('*')`` keeps them
    through the gate): the exact-dedup keeper orders by doc_id alone, so a
    map column, which has no ordering, rides along and the min doc_id per
    text still wins."""
    from news_crawler_slm_spark.plans.training import (
        TrainingPrepParams,
        prepare_training_data,
    )

    dup = "one two three four five six"
    docs = [
        (i, dup if i % 3 == 0 else f"unique words of document number {i}", {"i": i})
        for i in range(12)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, meta map<string,int>")
    with cache_scope():
        out = prepare_training_data(df, TrainingPrepParams(token_budget=64, neardup=False))
        got = {r["doc_id"] for r in out.collect()}
    assert got == {i for i in range(12) if i % 3 or i == 0}


def test_corpus_from_crawl_matches_sequential_oracle(spark, tmp_path):
    """VERDICT r05 #5: the FULL lifecycle composed as one lineage — crawl
    rounds -> latest-fetch-per-url -> step_02→06 preprocess
    (text_precleaned: the crawl already ran clean_html as its extraction
    stage) -> composite-gated training prep — must equal the sequential
    oracle built from the same crawled pages: python split/position/
    filter/shrink, DuckDB composite gate, python dedup/shuffle/pack.
    Composition is where join and schema bugs hide; every stage is
    individually oracle-checked elsewhere, THIS pins their seams."""
    import duckdb
    import pandas as pd

    from news_crawler_slm_spark.crawl.rounds import run_crawl, synthetic_fetcher
    from news_crawler_slm_spark.crawl.semantics import CrawlParams
    from news_crawler_slm_spark.functions.hashing import md5_long_py
    from news_crawler_slm_spark.plans.catalog_quality import _COMPOSITE_ORACLE
    from news_crawler_slm_spark.plans.corpus import corpus_from_crawl
    from news_crawler_slm_spark.plans.training import TrainingPrepParams
    from news_crawler_slm_spark.sources.synthetic_web import WebScale, web_dataframes
    from news_crawler_slm_spark.sources.tables import SnapshotCatalog

    scale = WebScale(n_hosts=8, pages_per_host_max=12, links_per_page=4, seed=23)
    params = CrawlParams(round_budget=5.0, max_articles=10, max_rounds=4)
    dfs = web_dataframes(spark, scale)
    root = str(tmp_path / "cat")
    run_crawl(
        spark, root, dfs["seeds"], dfs["robots"], synthetic_fetcher(dfs["web"]),
        params,
    )
    catalog = SnapshotCatalog(spark, root)

    # preprocess params chosen so every stage has WORK on the synthetic
    # corpus: the reference's corpus-scaled token_threshold=60 would drop
    # nearly every article (they run longer), starving the training
    # stages and making the equality vacuous
    pp = PreprocessParams(train_frac=0.8, token_threshold=100000, cap_n=5)
    tp = TrainingPrepParams(token_budget=256, gate="composite")
    with cache_scope():
        res = corpus_from_crawl(catalog, pp, tp)
        got_final = {
            (r["url"], r["publisher"], r["split"], r["position"], r["text"])
            for r in res.pre.final.collect()
        }
        got_packed = {
            r["doc_id"]: (r["n_tokens"], r["shuffle_key"], r["cum_before"], r["batch_id"])
            for r in res.training.collect()
        }

    # ---- sequential oracle over the same catalog ----
    rows = catalog.read_table("pages").collect()
    latest = {}
    for r in rows:
        if r["url"] not in latest or r["fetch_round"] > latest[r["url"]]["fetch_round"]:
            latest[r["url"]] = r
    pages = [(r["url"], r["publisher"], r["text"]) for r in latest.values()]
    assert len(pages) > 20  # the crawl actually produced a corpus

    # step_02→06 (adapted _oracle: text already extracted)
    pubs = sorted({p for _u, p, _t in pages})
    ranked = sorted(pubs, key=lambda p: hashlib.md5(p.encode()).hexdigest())
    n = len(ranked)
    ts0 = int(round(pp.train_frac * n))
    rem = n - ts0
    train_n, val_n = ts0 + rem % 2, rem // 2
    split_of = {
        p: "train" if i <= train_n else ("val" if i <= train_n + val_n else "test")
        for i, p in enumerate(ranked, 1)
    }
    by_split: dict[str, list] = {}
    for url, pub, text in sorted(pages, key=lambda r: (r[1], r[0])):
        by_split.setdefault(split_of[pub], []).append((url, pub, text))
    cleaned = [
        (url, pub, split, pos, text)
        for split, items in by_split.items()
        for pos, (url, pub, text) in enumerate(items)
    ]
    stats = {
        (c[2], c[3]): len(c[4].strip().split()) if c[4].strip() else 1
        for c in cleaned
    }
    kept_rows = [c for c in cleaned if not stats[(c[2], c[3])] > pp.token_threshold]
    final, per_pub = [], {}
    for c in sorted(kept_rows, key=lambda c: (c[2], c[1], c[3])):
        key = (c[2], c[1])
        per_pub[key] = per_pub.get(key, 0) + 1
        if c[2] == "train" or per_pub[key] <= pp.cap_n:
            final.append(c)
    assert got_final == set(final)
    assert len(final) > 0

    # training prep: composite gate (DuckDB) -> dedup -> shuffle -> pack
    docs = sorted((md5_long_py(c[0]), c[4]) for c in final)
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text"]))
    keep = {
        r[0]
        for r in con.execute(
            f"SELECT doc_id FROM ({_COMPOSITE_ORACLE}) WHERE keep"
        ).fetchall()
    }
    survivors = [(i, t, len(t.strip().split())) for i, t in docs if i in keep]
    kept, seen = [], set()
    for i, t, nn in survivors:  # doc_id order: min doc_id survives
        if t in seen:
            continue
        seen.add(t)
        kept.append((i, t, nn))
    kept2 = _neardup_keepers(kept)
    shuffled = sorted(((i * 2654435761) % 4294967296, i, nn) for i, t, nn in kept2)
    acc, want = 0, {}
    for key, i, nn in shuffled:
        want[i] = (nn, key, acc, acc // tp.token_budget)
        acc += nn
    assert got_packed == want
    # non-vacuity: the gate fired but left a corpus, and packing packed it
    assert 0 < len(want) < len(docs)
    assert len(survivors) < len(docs)


def test_corpus_from_crawl_incremental_cdc(spark, tmp_path):
    """The daily-refresh shape: corpus_from_crawl(since_snapshot=k)
    consumes ONLY pages appended after snapshot k (read_table_incremental
    CDC over the append-only pages chain). Pins the seam — the CDC read,
    latest-fetch reduction, and training prep compose without rescanning
    history — plus the r06 partition guard: the docs frame must be
    re-spread to defaultParallelism, never the <= 3-partition funnel the
    split-position window leaves behind."""
    from news_crawler_slm_spark.crawl.rounds import run_crawl, synthetic_fetcher
    from news_crawler_slm_spark.crawl.semantics import CrawlParams
    from news_crawler_slm_spark.functions.hashing import md5_long_py
    from news_crawler_slm_spark.plans.corpus import corpus_from_crawl
    from news_crawler_slm_spark.plans.training import TrainingPrepParams
    from news_crawler_slm_spark.sources.synthetic_web import WebScale, web_dataframes
    from news_crawler_slm_spark.sources.tables import SnapshotCatalog

    scale = WebScale(n_hosts=8, pages_per_host_max=12, links_per_page=4, seed=23)
    params = CrawlParams(round_budget=5.0, max_articles=10, max_rounds=2)
    dfs = web_dataframes(spark, scale)
    root = str(tmp_path / "cat")
    fetcher = synthetic_fetcher(dfs["web"])
    state = run_crawl(spark, root, dfs["seeds"], dfs["robots"], fetcher, params)
    sid = state.round  # snapshot id of the last committed round
    run_crawl(
        spark, root, dfs["seeds"], dfs["robots"], fetcher, params, max_rounds=4
    )
    catalog = SnapshotCatalog(spark, root)

    # the CDC read is exactly the post-sid appends
    full = {
        (r["url"], r["fetch_round"])
        for r in catalog.read_table("pages").collect()
    }
    delta = {
        (r["url"], r["fetch_round"])
        for r in catalog.read_table_incremental("pages", sid).collect()
    }
    assert delta == {(u, fr) for u, fr in full if fr > sid}
    assert delta and delta != full  # both crawls really appended

    pp = PreprocessParams(train_frac=0.8, token_threshold=100000, cap_n=5)
    tp = TrainingPrepParams(token_budget=256, gate="composite")
    with cache_scope():
        res = corpus_from_crawl(catalog, pp, tp, since_snapshot=sid)
        # partition guard: the gate's four scans must see the re-spread frame
        assert res.docs.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
        got_docs = {r["doc_id"] for r in res.docs.collect()}

    # the incremental corpus is the full pipeline over ONLY the delta urls
    want_urls = {u for u, fr in delta}
    assert got_docs  # the delta produced a corpus
    assert got_docs <= {md5_long_py(u) for u in want_urls}
    # and no doc from the pre-sid-only set leaked in
    pre_only = {md5_long_py(u) for u, fr in full if fr <= sid} - {
        md5_long_py(u) for u in want_urls
    }
    assert not (got_docs & pre_only)


def test_doc_token_chunks_map_only_plan_and_coverage(spark):
    """doc_token_chunks must stay map-only past its input: the chunker
    itself has no reason to shuffle at 100 TB, so the only Exchange allowed
    is the adaptive input spread (catalog._spread — a doc_id hash
    repartition of the pruned scan that fires only on row-group-limited
    inputs and is a no-op on any already-split table).  Chunks must tile
    every token: starts are 1, 1+stride, ...; each
    chunk carries min(chunk, n - start + 1) tokens; concatenating the
    non-overlapping prefixes (first `stride` tokens of every chunk plus
    the last chunk's tail) reproduces the document."""
    import re as _re

    from news_crawler_slm_spark.plans.catalog import (
        _CHUNK_STRIDE,
        _CHUNK_TOKENS,
        REGISTRY,
    )

    fn, _ = REGISTRY["doc_token_chunks"]
    out = fn(spark, "/root/testdata/sf0.001")
    plan = out._jdf.queryExecution().executedPlan().toString()
    exchanges = _re.findall(r"Exchange [^\n]*", plan)
    assert len(exchanges) <= 1, plan
    for ex in exchanges:  # the spread, never a chunk/gram shuffle
        assert "hashpartitioning(doc_id" in ex, ex

    docs = {
        r["doc_id"]: r["text"].strip().split()
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).collect()
    }
    rows = sorted(
        ((r["doc_id"], r["chunk_id"], r["start_tok"], r["n_tok"], r["chunk_text"])
         for r in out.collect())
    )
    by_doc: dict = {}
    for doc_id, chunk_id, start, n_tok, text in rows:
        by_doc.setdefault(doc_id, []).append((chunk_id, start, n_tok, text))
    assert set(by_doc) == set(docs)
    for doc_id, chunks in by_doc.items():
        toks = docs[doc_id]
        n = len(toks)
        want_starts = list(range(1, n + 1, _CHUNK_STRIDE))
        assert [s for _, s, _, _ in chunks] == want_starts
        assert [c for c, _, _, _ in chunks] == list(range(len(want_starts)))
        for _, start, n_tok, text in chunks:
            want = toks[start - 1 : start - 1 + _CHUNK_TOKENS]
            assert n_tok == len(want) == min(_CHUNK_TOKENS, n - start + 1)
            assert text == " ".join(want)


def test_prepare_training_data_chunked_matches_sequential_oracle(spark):
    """gate → exact-dedup → context-window chunking → shuffle → pack as
    one plan: chunks (not documents) are the shuffle/pack unit, keyed on
    knuth(md5_long(doc_id:chunk_id)) so the epoch order is deterministic
    and decorrelated from document order. The python oracle replays every
    stage sequentially."""
    from news_crawler_slm_spark.functions.hashing import md5_long_py
    from news_crawler_slm_spark.plans.training import (
        TrainingPrepParams,
        prepare_training_data,
    )

    docs = []
    for i in range(40):
        if i % 11 == 0:
            text = "tiny"  # fails min_tokens
        elif i % 7 == 3:
            text = "alpha beta gamma delta epsilon zeta eta theta"  # exact dups
        else:
            text = " ".join(f"w{i}t{j}" for j in range(3 + (i * 5) % 13))
        docs.append((i, text))

    params = TrainingPrepParams(
        min_tokens=3,
        max_punct_ratio=0.5,
        token_budget=16,
        neardup=False,
        chunk_tokens=6,
        chunk_stride=4,
    )
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = prepare_training_data(df, params)
    got = {
        (r["doc_id"], r["chunk_id"]): (
            r["text"], r["n_tokens"], r["shuffle_key"], r["cum_before"], r["batch_id"]
        )
        for r in out.collect()
    }

    # sequential oracle
    import re as _re

    kept, seen = [], set()
    for i, t in docs:
        tk = t.strip().split()
        n_chars = len(t)
        punct = len(_re.sub(r"[\w\s]", "", t)) / n_chars if n_chars else 0.0
        if len(tk) < params.min_tokens or punct > params.max_punct_ratio:
            continue
        if t in seen:  # min doc_id survives (iteration is doc_id order)
            continue
        seen.add(t)
        kept.append((i, tk))
    chunks = []
    for i, tk in kept:
        for ci, start in enumerate(range(1, len(tk) + 1, params.chunk_stride)):
            ct = tk[start - 1 : start - 1 + params.chunk_tokens]
            key = (md5_long_py(f"{i}:{ci}") * 2654435761) % 4294967296
            chunks.append((key, i, ci, " ".join(ct), len(ct)))
    assert len({c[0] for c in chunks}) == len(chunks)  # no key ties in fixture
    acc, want = 0, {}
    for key, i, ci, text, n in sorted(chunks):
        want[(i, ci)] = (text, n, key, acc, acc // params.token_budget)
        acc += n
    assert got == want
    assert len({v[4] for v in got.values()}) > 1  # multiple batches
    assert any(v[1] < params.chunk_tokens for v in got.values())  # short tails
    assert any(ci > 0 for _, ci in got)  # multi-chunk docs exist

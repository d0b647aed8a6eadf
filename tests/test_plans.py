"""Mirror of the driver's correctness gate: run every catalog query on Spark
AND its DuckDB oracle twin at sf0.01, compare row count + schema-insensitive
sorted value hash (SURVEY.md §5.2-3). Also plan-shape assertions
(pushdown / broadcast) for the scale-critical queries.
"""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod
from news_crawler_slm_spark.session import cache_scope

SF = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def _norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # driver-style tolerant float normalization
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _value_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)


def _sql_cache_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


ORACLE_QUERIES = sorted(entry_mod.oracle_sql().keys())
ALL_QUERIES = sorted(entry_mod.queries().keys())


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    spark.catalog.clearCache()
    with cache_scope():
        sdf = q(spark, SF)
        scols = [c.lower() for c in sdf.columns]
        srows = [tuple(r) for r in sdf.collect()]
    assert _sql_cache_empty(spark), f"{name}: cache outlived its scope"

    res = duck.execute(entry_mod.oracle_sql()[name])
    dcols = [d[0].lower() for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} vs {len(drows)}"
    sm = _value_multiset(scols, srows)
    dm = _value_multiset(dcols, drows)
    mismatches = [(a, b) for a, b in zip(sm, dm) if a != b][:5]
    assert sm == dm, f"{name}: value mismatch, first diffs: {mismatches}"


@pytest.mark.parametrize("name", [n for n in ALL_QUERIES if n not in ORACLE_QUERIES])
def test_rows_only_queries_run(spark, name):
    spark.catalog.clearCache()
    with cache_scope():
        df = entry_mod.queries()[name](spark, SF)
        assert df.count() >= 0
        assert len(df.schema) > 0
    assert _sql_cache_empty(spark), f"{name}: cache outlived its scope"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


# ---------------------------------------------------------------- plan shape

def test_q1_pushdown(spark):
    """Filter + projection must reach the parquet scan."""
    plan = entry_mod.queries()["q1_pricing_summary"](spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # only the needed columns are read
    assert "l_comment" not in plan


def test_q3_broadcasts_dimension(spark):
    plan = entry_mod.queries()["q3_shipping_priority"](spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_topk_no_global_sort(spark):
    """Per-group top-k must not introduce a global Sort over all rows."""
    df = entry_mod.queries()["top_customers_per_nation"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan or "TakeOrderedAndProject" not in plan


def test_skew_join_aqe_splits_hot_partition(spark, tmp_path):
    """The hot-key join's scale contract: under production-shaped AQE
    thresholds (scaled down to test data volumes), the oversized shuffle
    partition is detected and split at runtime — the executed plan carries
    ``skew=true`` on the sort-merge join and an ``AQEShuffleRead skewed``.
    Broadcast is disabled so the join actually shuffles (at 100 TB neither
    side broadcasts).  The input is written as 16 parquet files: AQE splits
    a skewed reduce partition at MAPPER granularity, so a single-file
    (single-mapper) input — like the sf0.01 gate file — physically cannot
    split; at real scale there are thousands of mappers."""
    from pyspark.sql import functions as F

    n = 200_000
    li = spark.range(n).select(
        F.col("id").alias("l_orderkey"),
        (F.rand(7) * 100).alias("l_quantity"),
    )
    li.repartition(16).write.parquet(str(tmp_path / "lineitem.parquet"))
    o = spark.range(50_000).select(
        F.col("id").alias("o_orderkey"),
        F.concat(F.lit("P"), (F.col("id") % 5).cast("string")).alias(
            "o_orderpriority"
        ),
    )
    o.repartition(4).write.parquet(str(tmp_path / "orders.parquet"))

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # the hot partition is ~hundreds of (compressed) KB here, not the
        # production default of 256MB — scale the detection thresholds down
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        df = entry_mod.queries()["skewed_hot_key_join"](spark, str(tmp_path))
        rows = df.collect()  # AQE decides skew splits at runtime: run first
        # 5 priorities + the unmatched bucket (lineitem keys >= 50k)
        assert len(rows) == 6
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        assert "AQEShuffleRead skewed" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_asof_join_equal_ts_tie_is_inclusive(spark, tmp_path):
    """A view at exactly the click's timestamp must be visible (oracle
    semantics: v.ts <= c.ts) — the side_ord ordering makes the window
    inclusive at ties."""
    import datetime as dt

    from news_crawler_slm_spark.plans.catalog import REGISTRY

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (1, 100, "view", t0, 1.0),                        # same ts as the click
        (1, 101, "click", t0, 1.0),
        (1, 102, "click", t0 + dt.timedelta(minutes=5), 1.0),
        (2, 200, "click", t0, 1.0),                       # no view at all
        (2, 201, "view", t0 + dt.timedelta(minutes=1), 1.0),  # later than click
    ]
    spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, ts timestamp, value double"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    fn, _ = REGISTRY["events_asof_join"]
    got = {r["event_id"]: r["last_view_ts"] for r in fn(spark, str(tmp_path)).collect()}
    assert got == {101: t0, 102: t0, 200: None}


def test_ks_drift_detects_planted_shift(spark, tmp_path):
    """The KS statistic must read ~0 on identically-distributed parity
    shards and large on a planted shift (odd doc_ids 3x longer) — and the
    exact integer identity d_scaled = ks_micro-ish * n0 * n1 must hold
    against a python twin on the planted corpus."""
    from news_crawler_slm_spark.plans.catalog import REGISTRY

    rows = [(i, "t", "en", "s", 100 + ((i // 2) % 10)) for i in range(200)]
    shifted = [
        (i, "t", "en", "s", (300 if i % 2 else 100) + ((i // 2) % 10)) for i in range(200)
    ]
    fn, _ = REGISTRY["ks_drift_shards"]

    def run(data):
        spark.createDataFrame(
            data, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
        return fn(spark, str(tmp_path)).collect()[0]

    same = run(rows)
    assert same["n0"] == same["n1"] == 100
    assert same["ks_micro"] == 0  # parity halves: identical CDFs

    drift = run(shifted)
    # python twin: exact supremum gap over the merged support
    import collections

    c0, c1 = collections.Counter(), collections.Counter()
    for i, _, _, _, n in shifted:
        (c1 if i % 2 else c0)[n] += 1
    n0, n1 = sum(c0.values()), sum(c1.values())
    cum0 = cum1 = best = 0
    for v in sorted(set(c0) | set(c1)):
        cum0 += c0[v]
        cum1 += c1[v]
        best = max(best, abs(cum0 * n1 - cum1 * n0))
    assert drift["d_scaled"] == best
    assert drift["ks_micro"] == (best * 1000000 * 2 + n0 * n1) // (2 * n0 * n1)
    assert drift["ks_micro"] == 1000000  # disjoint supports: D = 1


def test_kn_bigram_matches_textbook_formula(spark, tmp_path):
    """kn_bigram_perplexity must equal the interpolated Kneser-Ney
    textbook formula — P(w2|w1) = max(c12-D,0)/c1 + D*N1+(w1.)/c1 *
    N1+(.w2)/N1+(..) with D=0.75 — computed directly in python on a
    crafted corpus (the DuckDB oracle shares the engine's integer
    rational, so only an independent float twin can catch a formula
    error). Also pins the smoothing property the plain bigram LM lacks:
    every probability is strictly positive and per-context masses sum
    to ~1 over seen continuations + the continuation share."""
    import math
    from collections import Counter

    from news_crawler_slm_spark.plans.catalog import REGISTRY

    docs = [
        (0, "a b a b a c"),
        (1, "b a b c a b"),
        (2, "c a c b a a"),
    ]
    rows = [(i, t, "en", "s", len(t)) for i, t in docs]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    fn, _ = REGISTRY["kn_bigram_perplexity"]
    got = {
        r["doc_id"]: (r["n_bigrams"], r["kn_perplexity"])
        for r in fn(spark, str(tmp_path)).collect()
    }

    D = 0.75
    c12 = Counter()
    for _, t in docs:
        tk = t.split()
        for a, b in zip(tk, tk[1:]):
            c12[(a, b)] += 1
    c1 = Counter()
    n1p_fw = Counter()
    ncont = Counter()
    for (a, b), c in c12.items():
        c1[a] += c
        n1p_fw[a] += 1
        ncont[b] += 1
    z = len(c12)

    def p(a, b):
        return max(c12[(a, b)] - D, 0) / c1[a] + D * n1p_fw[a] / c1[a] * (
            ncont[b] / z
        )

    for i, t in docs:
        tk = t.split()
        pairs = list(zip(tk, tk[1:]))
        # quantization mirror: per-TYPE micro-nat rounding, then sum
        s = sum(round(math.log(p(a, b)) * 1e6) for a, b in pairs)
        want = round(math.exp(-(s / 1e6) / len(pairs)), 4)
        assert got[i] == (len(pairs), want), (i, got[i], want)

    # smoothing property: strictly positive mass for every seen pair,
    # and per-context total mass over ALL vocab words is 1
    vocab = {w for t in (t for _, t in docs) for w in t.split()}
    for a in c1:
        total = sum(p(a, b) for b in vocab)
        assert abs(total - 1.0) < 1e-9, (a, total)

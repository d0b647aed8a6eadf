"""Query catalog: every SURVEY.md §2 operator as a (PySpark builder,
DuckDB oracle SQL) pair, registered by name. ``__spark_entry__.py`` exposes
this registry to the driver's correctness gate.

Cross-engine numeric identity conventions (the driver hash-compares values):

- Sums of doubles are order-dependent in IEEE float — so money sums use the
  integer-cents trick: per-row ``floor(x*100 + 0.5)`` (deterministic,
  identical in both engines) → exact BIGINT sum → one final ``/100.0``.
- avg/stddev over arbitrary doubles are rounded to 6 decimals (accumulated
  error ~1e-12 ≪ 5e-7 rounding granularity).
- avg over integer-valued columns is exact (< 2^53) and left unrounded.
- DuckDB ``sum(INTEGER)`` yields HUGEINT — oracle SQL casts to BIGINT.
- All computed columns are lowercase-aliased identically on both sides.
- Every LIMIT is preceded by a total deterministic ORDER BY.

Scale notes: these run at sf0.01 for the gate and sf0.1 for bench, but each
plan is written for the 100 TB shape — aggregates are partial+final (no
collect), top-k per group is window-over-partition (no global sort), small
dimensions are broadcast, and max-with-ties joins against a 1-row aggregate
instead of an all-rows window.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import knuth_shuffle_key, knuth_shuffle_key_sql
from ..session import scoped

QuerySpec = tuple[Callable[[SparkSession, str], DataFrame], str | None]

REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = (fn, oracle)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(df: DataFrame, *by: str) -> DataFrame:
    """Scale-ADAPTIVE parallelism restore for row-group-limited inputs
    (optimization guide §2.5 "input skew: one huge unsplittable file ...
    repartition immediately after the read").

    A driver-generated table is ONE parquet file with ONE row group, so a
    scan of it is a single task no matter how many cores exist — and every
    narrow stage fused onto that scan (regex projections, explode + partial
    aggregation, Arrow/Python batches) runs serially.  Measured at sf1.0 /
    local[32] this left the whole per-document query family at ~1/32nd of
    the machine (e.g. image_resize_png 56 s, composite_quality_gate 36 s).

    When the scanned frame has FEWER partitions than the session's
    parallelism, hash-repartition it on ``by`` (project to the needed
    columns FIRST so the exchange carries only them); when the input is
    already split — any real multi-file table at scale — this is a no-op,
    so the 100 TB plan gains no exchange.  Results are partitioning-
    invariant by construction (every caller matches a deterministic SQL
    oracle), and the driver gate's sorted-row hash is order-insensitive.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if by:
        return df.repartition(target, *[F.col(c) for c in by])
    return df.repartition(target)


def cents(col: F.Column) -> F.Column:
    """Deterministic order-independent money accumulator: see module doc."""
    return F.floor(col * 100 + F.lit(0.5)).cast("long")


# SQL twin of ``cents`` for the oracle.
def _sql_cents(expr: str) -> str:
    return f"CAST(floor(({expr}) * 100 + 0.5) AS BIGINT)"


# ws token count — matches functions.text.ws_token_count for non-empty text.
_TOK_SPARK = "size(split(trim(text), '\\\\s+'))"
_TOK_DUCK = "length(regexp_split_to_array(trim(text), '\\s+'))"


def word_windows(norm: F.Column, k: int) -> F.Column:
    """All overlapping k-token windows of a whitespace-NORMALIZED string
    (single spaces, trimmed), joined by single spaces, as an array<string>.

    One regexp_extract_all pass with a lookbehind-anchored lookahead —
    stays inside whole-stage codegen, unlike a transform/slice/concat_ws
    chain (higher-order Columns are CodegenFallback: interpreted per
    element, O(tokens·k) array churn; measured 6.8x slower at sf0.1).
    Strings shorter than k tokens yield an empty array (no truncated
    window) — callers wanting the truncated-window semantics wrap with
    F.when on token count (see benchmark_decontamination).
    """
    pat = rf"(?<=^|\s)(?=((\S+ ){{{k - 1}}}\S+))"
    return F.regexp_extract_all(norm, F.lit(pat), 1)


def ws_normalize(col: F.Column) -> F.Column:
    """Collapse runs of whitespace to single spaces and trim."""
    return F.regexp_replace(F.trim(col), r"\s+", " ")


# ===========================================================================
# A. Aggregations over the documents table (reference compute_statistics/*)
# ===========================================================================

@register(
    "count_per_source",
    "SELECT source, count(*) AS n FROM documents GROUP BY source",
)
def count_per_source(spark, sf_dir):
    """A1 — sample count per split (count_dataset_samples.py:22-24)."""
    return _t(spark, sf_dir, "documents").groupBy("source").agg(F.count("*").alias("n"))


@register(
    "lang_distribution",
    "SELECT lang, count(*) AS n FROM documents GROUP BY lang",
)
def lang_distribution(spark, sf_dir):
    """A2 — language distribution (get_language_distribution.py:24-27)."""
    return _t(spark, sf_dir, "documents").groupBy("lang").agg(F.count("*").alias("n"))


@register(
    "token_count_distribution",
    f"SELECT {_TOK_DUCK} AS token_count, count(*) AS n FROM documents GROUP BY 1",
)
def token_count_distribution(spark, sf_dir):
    """A3 — Counter(token_counts) (step_04:49); whitespace tokenizer twin."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.expr(_TOK_SPARK).alias("token_count"))
        .groupBy("token_count")
        .agg(F.count("*").alias("n"))
    )


@register(
    "token_stats_summary",
    f"""
    SELECT lang,
           min(tc) AS min_tokens, max(tc) AS max_tokens,
           round(avg(tc), 6) AS mean_tokens,
           round(median(tc), 6) AS median_tokens
    FROM (SELECT lang, {_TOK_DUCK} AS tc FROM documents) GROUP BY lang
    """,
)
def token_stats_summary(spark, sf_dir):
    """A4-A6 — min/max/mean/median token counts (step_04:50-54); exact
    median (numpy semantics), not percentile_approx."""
    d = _t(spark, sf_dir, "documents").select("lang", F.expr(_TOK_SPARK).alias("tc"))
    return d.groupBy("lang").agg(
        F.min("tc").alias("min_tokens"),
        F.max("tc").alias("max_tokens"),
        F.round(F.avg("tc"), 6).alias("mean_tokens"),
        F.round(F.median("tc"), 6).alias("median_tokens"),
    )


@register(
    "max_tokens_with_ties",
    f"""
    WITH tc AS (SELECT doc_id, {_TOK_DUCK} AS token_count FROM documents)
    SELECT doc_id, token_count FROM tc
    WHERE token_count = (SELECT max(token_count) FROM tc)
    """,
)
def max_tokens_with_ties(spark, sf_dir):
    """A7 — all rows attaining the max (get_max_tokens.py:26-38). Joins a
    1-row broadcast aggregate instead of a global window: no single-partition
    sort at scale."""
    tc = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_TOK_SPARK).alias("token_count")
    )
    mx = tc.agg(F.max("token_count").alias("token_count"))
    return tc.join(F.broadcast(mx), "token_count").select("doc_id", "token_count")


@register(
    "count_over_limit",
    f"SELECT count(*) AS n_over FROM documents WHERE {_TOK_DUCK} > 80",
)
def count_over_limit(spark, sf_dir):
    """A8/P8 — samples over the token limit
    (count_samples_over_token_limit.py:53)."""
    d = _t(spark, sf_dir, "documents")
    return d.where(F.expr(_TOK_SPARK) > 80).agg(F.count("*").alias("n_over"))


@register(
    "value_stats_pop",
    f"""
    SELECT event_type,
           round(CAST(sum({_sql_cents('value')}) AS DOUBLE) / (100.0 * count(*)), 6)
             AS mean_value,
           round(sqrt(greatest(
             CAST(sum({_sql_cents('value')} * {_sql_cents('value')}) AS DOUBLE)
               / count(*) / 10000.0
             - (CAST(sum({_sql_cents('value')}) AS DOUBLE) / (100.0 * count(*)))
               * (CAST(sum({_sql_cents('value')}) AS DOUBLE) / (100.0 * count(*))),
             0.0)), 6) AS std_value
    FROM events GROUP BY event_type
    """,
)
def value_stats_pop(spark, sf_dir):
    """A9 — mean + POPULATION std (np.std ddof=0, evaluate_model.py:384-395;
    stddev would silently mismatch).

    ``avg``/``stddev_pop`` over doubles are summation-order-dependent
    (Spark's stddev is a streaming Welford merge) — a rounding-boundary
    group can flip the 6th decimal between engines (observed in
    hourly_event_counts at sf0.1).  ``value`` is exact cents, so both
    moments come from exact integer sums (Σc, Σc²) with the identical
    float division/sqrt applied on both sides; greatest(...,0) guards the
    sqrt against negative float cancellation."""
    c = cents(F.col("value"))
    n = F.count("*")
    s = F.sum(c).cast("double")
    ss = F.sum(c * c).cast("double")
    mean = s / (F.lit(100.0) * n)
    var = F.greatest(ss / n / F.lit(10000.0) - mean * mean, F.lit(0.0))
    return _t(spark, sf_dir, "events").groupBy("event_type").agg(
        F.round(mean, 6).alias("mean_value"),
        F.round(F.sqrt(var), 6).alias("std_value"),
    )


@register(
    "prf1_rollup",
    """
    WITH per_user AS (
      SELECT user_id,
             count(*) FILTER (WHERE event_type = 'click')    AS tp,
             count(*) FILTER (WHERE event_type = 'view')     AS fp,
             count(*) FILTER (WHERE event_type = 'purchase') AS fn
      FROM events GROUP BY user_id
    ), scored AS (
      SELECT CASE WHEN tp + fp > 0 THEN tp / CAST(tp + fp AS DOUBLE) ELSE 0.0 END AS precision,
             CASE WHEN tp + fn > 0 THEN tp / CAST(tp + fn AS DOUBLE) ELSE 0.0 END AS recall
      FROM per_user
    )
    SELECT round(avg(precision), 6) AS mean_precision,
           round(stddev_pop(precision), 6) AS std_precision,
           round(avg(recall), 6) AS mean_recall,
           round(avg(CASE WHEN precision + recall > 0
                     THEN 2 * precision * recall / (precision + recall)
                     ELSE 0.0 END), 6) AS mean_f1
    FROM scored
    """,
)
def prf1_rollup(spark, sf_dir):
    """A10 — per-row P/R/F1 with 0-division guards, then mean + stddev_pop
    roll-up (evaluate_model.py:228-266)."""
    e = _t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("tp"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("fp"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("fn"),
    )
    scored = per_user.select(
        F.when(F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp")))
        .otherwise(0.0)
        .alias("precision"),
        F.when(F.col("tp") + F.col("fn") > 0, F.col("tp") / (F.col("tp") + F.col("fn")))
        .otherwise(0.0)
        .alias("recall"),
    )
    f1 = (
        F.when(
            F.col("precision") + F.col("recall") > 0,
            2 * F.col("precision") * F.col("recall") / (F.col("precision") + F.col("recall")),
        )
        .otherwise(0.0)
    )
    return scored.agg(
        F.round(F.avg("precision"), 6).alias("mean_precision"),
        F.round(F.stddev_pop("precision"), 6).alias("std_precision"),
        F.round(F.avg("recall"), 6).alias("mean_recall"),
        F.round(F.avg(f1), 6).alias("mean_f1"),
    )


@register(
    "value_histogram",
    """
    SELECT CAST(floor(value / 5) AS BIGINT) AS bin, count(*) AS n
    FROM events GROUP BY 1
    """,
)
def value_histogram(spark, sf_dir):
    """A11 — histogram binning as floor-div groupBy
    (plot_token_distribution.py:18)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.floor(F.col("value") / 5).cast("long").alias("bin"))
        .agg(F.count("*").alias("n"))
    )


@register(
    "value_histogram_fd",
    """
    WITH s AS (
      SELECT quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3,
             count(*) AS n, min(value) AS mn, max(value) AS mx
      FROM events
    ), p AS (
      SELECT n, mn, mx,
             CASE WHEN mx = mn OR q3 = q1 THEN 1
                  ELSE greatest(CAST(ceil(round((mx - mn) / (2 * (q3 - q1) / cbrt(n)), 9)) AS BIGINT), 1)
             END AS nb
      FROM s
    )
    SELECT CASE WHEN mx = mn THEN 0
                ELSE least(CAST(floor(((value - mn) / (mx - mn)) * nb) AS BIGINT), nb - 1)
           END AS bin,
           count(*) AS n
    FROM events CROSS JOIN p
    GROUP BY 1
    """,
)
def value_histogram_fd(spark, sf_dir):
    """A11 full form — Freedman-Diaconis binning (numpy bins='fd',
    omit_degeneration.py:79): width = 2*IQR*n^(-1/3) from EXACT percentiles,
    n_bins = ceil(range/width), uniform edges over [min, max], last edge
    closed (numpy histogram semantics: least(floor, nb-1)). One pass for the
    1-row stats aggregate (broadcast), one pass to bin — no sort of the data
    itself, scale-independent of value cardinality. The ceil argument is
    rounded to 9 decimals on both engines so percentile-interpolation
    last-ulp differences cannot flip the bin count."""
    e = _t(spark, sf_dir, "events")
    s = e.agg(
        F.percentile("value", 0.25).alias("q1"),
        F.percentile("value", 0.75).alias("q3"),
        F.count("*").alias("n"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    nb = F.when(
        (F.col("mx") == F.col("mn")) | (F.col("q3") == F.col("q1")), F.lit(1).cast("long")
    ).otherwise(
        F.greatest(
            F.ceil(
                F.round(
                    (F.col("mx") - F.col("mn"))
                    / (2 * (F.col("q3") - F.col("q1")) / F.cbrt(F.col("n"))),
                    9,
                )
            ).cast("long"),
            F.lit(1).cast("long"),
        )
    )
    p = s.select(F.col("mn"), F.col("mx"), nb.alias("nb"))
    binned = e.crossJoin(F.broadcast(p)).select(
        F.when(F.col("mx") == F.col("mn"), F.lit(0).cast("long"))
        .otherwise(
            F.least(
                F.floor(((F.col("value") - F.col("mn")) / (F.col("mx") - F.col("mn"))) * F.col("nb")).cast("long"),
                F.col("nb") - 1,
            )
        )
        .alias("bin")
    )
    return binned.groupBy("bin").agg(F.count("*").alias("n"))


@register(
    "distinct_sources",
    "SELECT DISTINCT source FROM documents",
)
def distinct_sources(spark, sf_dir):
    """A12 — distinct publishers (step_02:21), deterministic (engine adds
    sorting downstream where order matters)."""
    return _t(spark, sf_dir, "documents").select("source").distinct()


# ===========================================================================
# B. Reference pipeline operators (split / filter / shrink / ordinals)
# ===========================================================================

_SPLIT_ORACLE = """
WITH srcs AS (SELECT DISTINCT source FROM documents),
ranked AS (
  SELECT source,
         row_number() OVER (ORDER BY md5(source)) AS rn,
         count(*) OVER () AS n
  FROM srcs
), sized AS (
  SELECT source, rn, n,
         CAST(round(0.8 * n, 0) AS BIGINT) AS ts0,
         n - CAST(round(0.8 * n, 0) AS BIGINT) AS rem
  FROM ranked
), final AS (
  SELECT source, rn,
         ts0 + (rem % 2) AS train_n,
         rem // 2 AS val_n
  FROM sized
)
SELECT source,
       CASE WHEN rn <= train_n THEN 'train'
            WHEN rn <= train_n + val_n THEN 'val'
            ELSE 'test' END AS split
FROM final
"""


@register("split_assign", _SPLIT_ORACLE)
def split_assign(spark, sf_dir):
    """J2/P5 — publisher-isolated train/val/test split with the reference's
    exact size arithmetic (step_02:28-38: round(0.8*n), remainder split
    evenly, odd remainder to train). The reference's ordering is
    irreproducible (list(set()) + shuffle); the engine pins a deterministic
    pseudorandom permutation: order by md5(publisher) (SURVEY.md §1.4-2)."""
    srcs = _t(spark, sf_dir, "documents").select("source").distinct()
    w = Window.orderBy(F.md5(F.col("source")))
    ranked = srcs.select(
        "source",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    sized = ranked.withColumn("ts0", F.round(0.8 * F.col("n"), 0).cast("long")).withColumn(
        "rem", F.col("n") - F.col("ts0")
    )
    final = sized.withColumn("train_n", F.col("ts0") + F.col("rem") % 2).withColumn(
        "val_n", F.floor(F.col("rem") / 2)
    )
    return final.select(
        "source",
        F.when(F.col("rn") <= F.col("train_n"), "train")
        .when(F.col("rn") <= F.col("train_n") + F.col("val_n"), "val")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "split_sizes",
    f"WITH assign AS ({_SPLIT_ORACLE}) "
    "SELECT a.split, count(*) AS n FROM documents d "
    "JOIN assign a ON d.source = a.source GROUP BY a.split",
)
def split_sizes(spark, sf_dir):
    """A1 over the split assignment — broadcast semi-join of the (tiny)
    assignment table onto the fact table (J2)."""
    docs = _t(spark, sf_dir, "documents")
    assign = split_assign(spark, sf_dir)
    return (
        docs.join(F.broadcast(assign), "source")
        .groupBy("split")
        .agg(F.count("*").alias("n"))
    )


@register(
    "schema_align",
    f"""
    WITH assign AS ({_SPLIT_ORACLE})
    SELECT d.source, d.doc_id, d.text, d.lang, d.n_chars, a.split
    FROM documents d JOIN assign a ON d.source = a.source
    """,
)
def schema_align(spark, sf_dir):
    """S9 — cast every split to the train split's schema before publishing
    (upload_dataset.py:17-19: ``ds.cast(dataset['train'].features)``; the
    Hub push itself is out of scope offline). The val/test splits are given
    the reference's real failure mode — Arrow dtype drift (doc_id narrowed
    to int, n_chars widened to double, as inference does on splits with
    missing values) — and ``align_splits`` restores the train schema with a
    pure narrow projection (no shuffle, whole-stage codegen). The oracle
    checks both: values survive the drift+align round trip AND the output
    schema is the train split's (schema_match would fail on a leaked
    double/int)."""
    from ..operators.schema_align import align_splits

    docs = _t(spark, sf_dir, "documents")
    assign = split_assign(spark, sf_dir)
    tagged = docs.join(F.broadcast(assign), "source")
    splits = {}
    for name in ("train", "val", "test"):
        part = tagged.where(F.col("split") == name).drop("split")
        if name != "train":
            part = part.withColumn("doc_id", F.col("doc_id").cast("int")).withColumn(
                "n_chars", F.col("n_chars").cast("double")
            )
        splits[name] = part
    return align_splits(splits)


@register(
    "token_filter",
    f"""
    SELECT doc_id, source FROM (
      SELECT doc_id, source, lang, {_TOK_DUCK} AS tc FROM documents
    ) WHERE NOT (tc > CASE WHEN lang = 'en' THEN 90 ELSE 70 END)
    """,
)
def token_filter(spark, sf_dir):
    """P6/P7 — drop rows whose token count exceeds a per-column threshold
    (step_05:37-52; thresholds config.json:21-22, scaled to this corpus).
    The reference's text-file round-trip becomes a plain predicate; the
    anti-join form is exercised in tests/test_pipeline.py."""
    # NOT _spread: one regex split per row is too cheap to pay a text
    # exchange for (measured r07: 0.42 -> 0.49 s with the spread at sf1.0)
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", F.expr(_TOK_SPARK).alias("tc")
    )
    thr = F.when(F.col("lang") == "en", 90).otherwise(70)
    return d.where(~(F.col("tc") > thr)).select("doc_id", "source")


@register(
    "shrink_first_n",
    """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn <= 5
    """,
)
def shrink_first_n(spark, sf_dir):
    """W2/A13 — first N samples per publisher in stable order
    (step_06:13-19): windowed top-k, no global sort, no driver dict."""
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 5)
        .select("doc_id", "source")
    )


@register(
    "source_ordinals",
    """
    SELECT source, row_number() OVER (ORDER BY source) AS ordinal
    FROM (SELECT DISTINCT source FROM documents)
    """,
)
def source_ordinals(spark, sf_dir):
    """W4 — publisher ordinal (the reference loop counter i,
    crawl_articles.py:46-47) as a window over the seed dimension (tiny: a
    single-partition window over hosts is fine even at 10^10 URLs — hosts
    number ~10^7, and this runs on the dim table only)."""
    return (
        _t(spark, sf_dir, "documents")
        .select("source")
        .distinct()
        .select("source", F.row_number().over(Window.orderBy("source")).alias("ordinal"))
    )


@register(
    "complete_sources",
    """
    SELECT source, count(*) AS n FROM documents
    GROUP BY source HAVING count(*) = 25
    """,
)
def complete_sources(spark, sf_dir):
    """P4/S6/J4 — shards with exactly N rows (create_dataset.py:58-62's
    double file scan becomes one aggregate)."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") == 25)
    )


@register(
    "repetition_filter",
    """
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
    ), grams AS (
      SELECT doc_id, len(t) - 3 + 1 AS total,
             unnest(list_transform(generate_series(1, len(t) - 3 + 1),
                                   i -> array_to_string(t[i:i+2], ' '))) AS g
      FROM toks WHERE len(t) >= 3
    ), cnts AS (
      SELECT doc_id, total, g, count(*) AS c FROM grams GROUP BY doc_id, total, g
    ), ratios AS (
      SELECT doc_id,
             round(sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) / CAST(max(total) AS DOUBLE), 6) AS rep_ratio
      FROM cnts GROUP BY doc_id
    )
    SELECT doc_id, rep_ratio FROM ratios WHERE rep_ratio < 0.2
    """,
)
def repetition_filter(spark, sf_dir):
    """P9/F5 — repeated-n-gram severity ratio (omit_degeneration.py:13-30,
    n=3 for this corpus) and threshold filter (:60-68), expressed natively:
    explode n-grams → per-doc counts → ratio. Stays JVM-side end-to-end."""
    d = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id").select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("t")
    )
    n = 3
    d = d.where(F.size("t") >= n).select(
        "doc_id",
        (F.size("t") - n + 1).alias("total"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - n),
                lambda i: F.concat_ws(" ", F.slice(F.col("t"), i + 1, n)),
            )
        ).alias("g"),
    )
    cnts = d.groupBy("doc_id", "total", "g").agg(F.count("*").alias("c"))
    ratios = cnts.groupBy("doc_id").agg(
        F.round(
            F.sum(F.when(F.col("c") > 1, F.col("c") - 1).otherwise(0))
            / F.max("total").cast("double"),
            6,
        ).alias("rep_ratio")
    )
    return ratios.where(F.col("rep_ratio") < 0.2)


# Simulated degenerate generations: docs 0-9 re-emitted under doc_id+20000
# with their first-5-token prefix repeated 10x (massive repeated-3-gram
# ratio) — gives the reject branch real work (the natural corpus has almost
# no degeneration, max ratio 0.07 at sf0.01).
_DEGEN_UNION_DUCK = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 20000 AS doc_id,
         trim(repeat(array_to_string((regexp_split_to_array(trim(text), '\\s+'))[1:5], ' ') || ' ', 10)) AS text
  FROM documents WHERE doc_id < 10
"""

_REP_RATIO_DUCK = """
    toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM u
    ), grams AS (
      SELECT doc_id, len(t) - 3 + 1 AS total,
             unnest(list_transform(generate_series(1, len(t) - 3 + 1),
                                   i -> array_to_string(t[i:i+2], ' '))) AS g
      FROM toks WHERE len(t) >= 3
    ), cnts AS (
      SELECT doc_id, total, g, count(*) AS c FROM grams GROUP BY doc_id, total, g
    ), ratios AS (
      SELECT doc_id,
             round(sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) / CAST(max(total) AS DOUBLE), 6) AS rep_ratio
      FROM cnts GROUP BY doc_id
    )
"""


def _degen_union(spark, sf_dir):
    d = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    degen = d.where(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.trim(
            F.repeat(F.concat(F.concat_ws(" ", F.slice(toks, 1, 5)), F.lit(" ")), 10)
        ).alias("text"),
    )
    return d.unionByName(degen)


def _rep_ratios(spark, sf_dir):
    """Repeated-3-gram severity ratios over documents + planted degenerates
    (one shared plan for the keep AND reject branches — the reference
    computes the ratio once and routes each row, omit_degeneration.py:65-69)."""
    d = _degen_union(spark, sf_dir).select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("t")
    )
    n = 3
    d = d.where(F.size("t") >= n).select(
        "doc_id",
        (F.size("t") - n + 1).alias("total"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - n),
                lambda i: F.concat_ws(" ", F.slice(F.col("t"), i + 1, n)),
            )
        ).alias("g"),
    )
    cnts = d.groupBy("doc_id", "total", "g").agg(F.count("*").alias("c"))
    return cnts.groupBy("doc_id").agg(
        F.round(
            F.sum(F.when(F.col("c") > 1, F.col("c") - 1).otherwise(0))
            / F.max("total").cast("double"),
            6,
        ).alias("rep_ratio")
    )


@register(
    "repetition_rejects",
    f"""
    WITH u AS ({_DEGEN_UNION_DUCK}), {_REP_RATIO_DUCK}
    SELECT doc_id, rep_ratio FROM ratios WHERE rep_ratio >= 0.2
    """,
)
def repetition_rejects(spark, sf_dir):
    """P9 reject sink — the COMPLEMENT of repetition_filter: degenerate rows
    (ratio >= threshold) routed to their own table in the same pass, exactly
    as the reference saves degen_data separately for investigation
    (omit_degeneration.py:65-69, 104-108). Shares _rep_ratios with the keep
    branch: one ratio computation, two routed sinks."""
    return _rep_ratios(spark, sf_dir).where(F.col("rep_ratio") >= 0.2)


@register(
    "repetition_split_counts",
    f"""
    WITH u AS ({_DEGEN_UNION_DUCK}), {_REP_RATIO_DUCK}
    SELECT CASE WHEN rep_ratio < 0.2 THEN 'kept' ELSE 'rejected' END AS branch,
           count(*) AS n
    FROM ratios GROUP BY 1
    """,
)
def repetition_split_counts(spark, sf_dir):
    """The one-pass keep/reject router's accounting (the reference prints
    filtered vs degenerated counts, omit_degeneration.py:71): a single
    aggregation over the shared ratios plan."""
    r = _rep_ratios(spark, sf_dir)
    return r.select(
        F.when(F.col("rep_ratio") < 0.2, F.lit("kept"))
        .otherwise(F.lit("rejected"))
        .alias("branch")
    ).groupBy("branch").agg(F.count("*").alias("n"))


@register(
    "prompt_format",
    """
    SELECT doc_id,
           'Input:\n' || text || '\n\nOutput:\n'
             || regexp_replace(lower(substring(text, 1, 16)), '[^a-z0-9 ]', '', 'g')
             || '</s>' AS text_train,
           'Input:\n' || text || '\n\nOutput:\n' AS text_inf
    FROM documents
    """,
)
def prompt_format(spark, sf_dir):
    """F4 — the reference's training/inference prompt construction
    (common/utils.py:36-37, 65-95): INPUT_OUTPUT_PROMPT.format(input, output)
    + eos_token for training, INPUT_ONLY_PROMPT.format(input) for inference.
    Input stand-in = text, output stand-in = the sanitized title (documents
    has no html column); '</s>' plays the tokenizer eos. Pure JVM concat."""
    # NOT _spread: a 16-char regex + concat per row is too cheap to pay a
    # text exchange for (measured r07: 0.17 -> 0.33 s with the spread)
    d = _t(spark, sf_dir, "documents")
    title = F.regexp_replace(F.lower(F.substring("text", 1, 16)), "[^a-z0-9 ]", "")
    return d.select(
        "doc_id",
        F.concat(
            F.lit("Input:\n"), F.col("text"), F.lit("\n\nOutput:\n"), title, F.lit("</s>")
        ).alias("text_train"),
        F.concat(F.lit("Input:\n"), F.col("text"), F.lit("\n\nOutput:\n")).alias("text_inf"),
    )


@register(
    "quality_features",
    f"""
    SELECT doc_id,
           {_TOK_DUCK} AS n_tokens,
           length(text) AS n_chars,
           round(length(regexp_replace(text, '[\\w\\s]', '', 'g'))
                 / CAST(length(text) AS DOUBLE), 6) AS punct_ratio,
           round(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     t -> lower(t) IN ('the','a','an','and','or','of','to','in','is','it')))
                 / CAST({_TOK_DUCK} AS DOUBLE), 6) AS stopword_ratio
    FROM documents
    """,
)
def quality_features(spark, sf_dir):
    """Text-quality scoring (engine addition; C4/Gopher-style heuristics):
    token count, char count, punctuation ratio, stopword ratio — all as
    built-in Column expressions (no Python in the hot path)."""
    d = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    stop = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.round(
            F.length(F.regexp_replace("text", r"[\w\s]", "")) / F.length("text").cast("double"),
            6,
        ).alias("punct_ratio"),
        F.round(
            F.size(F.filter(toks, lambda t: F.lower(t).isin(stop)))
            / F.size(toks).cast("double"),
            6,
        ).alias("stopword_ratio"),
    )


@register(
    "unigram_perplexity",
    r"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
      FROM documents
    ),
    vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT sum(c) AS n FROM vocab),
    per AS (
      SELECT t.doc_id,
             CAST(round(ln(v.c / (SELECT n FROM tot)) * 1000000.0, 0) AS BIGINT)
               AS lnp_micro
      FROM toks t JOIN vocab v USING (tok)
    )
    SELECT doc_id, count(*) AS n_tokens,
           round(exp(-(CAST(sum(lnp_micro) AS DOUBLE) / 1000000.0) / count(*)), 4)
             AS perplexity
    FROM per GROUP BY doc_id
    """,
)
def unigram_perplexity(spark, sf_dir):
    """F10 — perplexity scoring as a distributive aggregation.

    The reference computes ``exp(LM loss)`` with a trained transformer on
    GPU (evaluate_model.py:22-32) — the *model* is out of engine scope, but
    the perplexity operator itself is not: given per-token probabilities,
    perplexity = exp(-mean(ln p)) is an aggregation.  Here the pluggable
    scorer is a corpus-trained unigram LM (the CCNet-style quality-filter
    shape): token counts over the corpus become the probability table, and a
    per-doc exp(-avg(ln p)) scores every document.  Swap the ``probs`` dim
    for model-produced log-probs and the plan is unchanged.

    Scale: the vocab dim is counts-per-token — orders of magnitude smaller
    than the corpus (Heaps' law) and broadcast here; at 100 TB with a
    10^8-token vocab, drop the broadcast hint and let AQE pick a shuffle
    join on ``tok`` (uniform key distribution; no skew concern because
    stop-word fan-out lands on the probe side, not the build side).
    ``toks`` is derived twice (vocab pass + scoring pass) and the corpus
    token total adds a third, explode-free scan — three column-pruned
    parquet scans of at most (doc_id, text); cache ``toks`` if scans
    dominate.
    """
    d = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(F.count("*").alias("c"))
    # Σ c over vocab ≡ Σ per-doc token counts — the latter needs no
    # explode and no shuffle, just a column-pruned scan.
    total = d.select(
        F.sum(
            F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
        ).alias("n")
    )
    # Order-independent accumulation: a float avg(ln p) varies with
    # partition order and can flip round(...,4) at a boundary between the
    # engines (the value_stats_pop failure class).  Per-token ln p is
    # quantized to integer micro-nats — round(ln p * 1e6) is identical on
    # both engines up to a ~1e-12-probability ulp boundary — then summed as
    # BIGINT (exact, order-free); exp sees the same rational on both sides.
    # The quantization runs ONCE PER VOCAB ENTRY (inside the broadcast dim,
    # |vocab| rows), not per token occurrence — the r03->r04 fix for the
    # measured ~15% cost of the exactness pass (scripts/drift_ab.py).
    # NOT persisted (unlike ccnet/stupid-backoff): every frame here has
    # exactly ONE consumer, so there is no lineage fan-out to cut — a
    # persist would add a per-execution cache fill for nothing (measured
    # r06: 0.45 → 0.58 s at sf0.1 before this was reverted). The 3 scans
    # are 3 distinct pipeline stages: vocab train, the column-pruned
    # total, the score pass.
    probs = vocab.crossJoin(F.broadcast(total)).select(
        "tok",
        F.round(F.log(F.col("c") / F.col("n")) * F.lit(1000000.0), 0)
        .cast("long")
        .alias("lnp_micro"),
    )
    return (
        toks.join(F.broadcast(probs), "tok")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("lnp_micro").alias("__s"))
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.exp(
                    -(F.col("__s").cast("double") / F.lit(1000000.0))
                    / F.col("n_tokens")
                ),
                4,
            ).alias("perplexity"),
        )
    )


@register(
    "bigram_perplexity",
    r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS a
      FROM documents
    ),
    pairs AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1]))
               AS g
      FROM t WHERE len(a) >= 2
    ),
    bc AS (
      SELECT g, split_part(g, ' ', 1) AS w1, count(*) AS c12
      FROM pairs GROUP BY g
    ),
    ctx AS (SELECT w1, sum(c12) AS c1 FROM bc GROUP BY w1),
    probs AS (
      SELECT g, CAST(round(ln(c12 / c1) * 1000000.0, 0) AS BIGINT) AS lnp_micro
      FROM bc JOIN ctx USING (w1)
    )
    SELECT p.doc_id, count(*) AS n_bigrams,
           round(exp(-(CAST(sum(pr.lnp_micro) AS DOUBLE) / 1000000.0)
                     / count(*)), 4) AS bigram_perplexity
    FROM pairs p JOIN probs pr USING (g)
    GROUP BY p.doc_id
    """,
)
def bigram_perplexity(spark, sf_dir):
    """Bigram-LM perplexity: P(w2|w1) = c(w1 w2) / c(w1-as-context), scored
    as exp(-mean(ln P)) over each document's token transitions.  The
    first-order extension of ``unigram_perplexity`` — the CCNet-style
    quality filter one modelling step up (context-conditioned instead of
    marginal), with MLE probabilities over the corpus itself so every
    transition being scored is observed (no smoothing term to diverge on).
    Docs with fewer than two tokens have no transitions and no row (same
    WHERE in the oracle).

    Scale shape — where this differs from the unigram plan: the
    probability dim is one row per DISTINCT BIGRAM, which grows with the
    corpus (far past Heaps-law vocab) and is NOT broadcastable at 100 TB —
    the occurrence->probability join keys on the bigram string and stays a
    shuffle join (AQE broadcasts it automatically at small SF).  Bigram
    construction reuses the codegen regexp window (word_windows, k=2) —
    no per-token explode, no per-doc sequence window, shuffle-free until
    the count.  The context denominator c(w1) is derived from the bigram
    counts themselves (sum over w2) rather than a second corpus pass: one
    extra shuffle over the already-aggregated dim, zero over occurrences.
    Per-bigram ln P is quantized to integer micro-nats inside the dim
    (|bigrams| rows, not per occurrence) then summed as BIGINT — the same
    order-independent exactness discipline as unigram_perplexity.
    """
    d = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    norm = ws_normalize(F.lower(F.col("text")))
    big = d.select("doc_id", F.explode(word_windows(norm, 2)).alias("g"))
    bc = big.groupBy("g").agg(F.count("*").alias("c12"))
    bc = bc.withColumn("w1", F.split("g", " ").getItem(0))
    # context totals as a window over the aggregated dim — ONE pipeline:
    # the groupBy(w1)+join-back twin recomputed the whole explode+count
    # train scan for the second consumer (3 corpus scans), and persisting
    # the |bigrams|-row dim instead cost more than the saved scan
    # (measured r06: 0.94 → 1.61 s at sf0.1). The window's partition key
    # is dim-sized (rows per w1 <= |vocab|), never corpus-sized.
    probs = bc.withColumn(
        "c1", F.sum("c12").over(Window.partitionBy("w1"))
    ).select(
        "g",
        F.round(F.log(F.col("c12") / F.col("c1")) * F.lit(1000000.0), 0)
        .cast("long")
        .alias("lnp_micro"),
    )
    return (
        big.join(probs, "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("lnp_micro").alias("__s"))
        .select(
            "doc_id",
            "n_bigrams",
            F.round(
                F.exp(
                    -(F.col("__s").cast("double") / F.lit(1000000.0))
                    / F.col("n_bigrams")
                ),
                4,
            ).alias("bigram_perplexity"),
        )
    )


@register(
    "kn_bigram_perplexity",
    r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS a
      FROM documents
    ),
    pairs AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1]))
               AS g
      FROM t WHERE len(a) >= 2
    ),
    bc AS (
      SELECT g, split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2,
             count(*) AS c12
      FROM pairs GROUP BY g
    ),
    dim AS (
      SELECT g, c12,
             sum(c12) OVER (PARTITION BY w1) AS c1,
             count(*) OVER (PARTITION BY w1) AS n1p,
             count(*) OVER (PARTITION BY w2) AS ncont,
             count(*) OVER () AS z
      FROM bc
    ),
    probs AS (
      SELECT g,
             CAST(round(ln(
                 (greatest(4 * c12 - 3, 0) * z + 3 * n1p * ncont)
                 / (4.0 * c1 * z)) * 1000000.0, 0) AS BIGINT) AS lnp_micro
      FROM dim
    )
    SELECT p.doc_id, count(*) AS n_bigrams,
           round(exp(-(CAST(sum(pr.lnp_micro) AS DOUBLE) / 1000000.0)
                     / count(*)), 4) AS kn_perplexity
    FROM pairs p JOIN probs pr USING (g)
    GROUP BY p.doc_id
    """,
)
def kn_bigram_perplexity(spark, sf_dir):
    """Interpolated Kneser-Ney bigram perplexity (Kneser & Ney 1995;
    Chen & Goodman 1998) — the standard n-gram smoothing the plain
    bigram LM lacks:

        P(w2|w1) = max(c12 - D, 0)/c1 + D·N1+(w1·)/c1 · N1+(·w2)/N1+(··)

    with discount D = 3/4. Exactness discipline: with D = 3/4 the whole
    probability is ONE integer rational —
    num = max(4·c12-3, 0)·Z + 3·N1+(w1·)·N1+(·w2), den = 4·c1·Z —
    so both engines feed ln the identical IEEE double num/den, and the
    micro-nat quantization happens once per bigram TYPE inside the dim
    (the bigram_perplexity discipline). Caveat, documented: the int64
    intermediates bound the corpus at c12·Z < 2^63 (~10^9 occurrences ×
    10^9 types); beyond that the dim arithmetic moves to
    ln(num) = ln-decomposed terms.

    Scale shape: one training scan (the bigram type census, persisted —
    the stupid_backoff train-once idiom), then the per-context KN
    statistics — context totals c1, continuation fan-outs N1+(w1·) /
    N1+(·w2) — are windows over the aggregated |bigrams|-row dim
    (dim-sized exchanges), while the type total Z = N1+(··) is a 1-row
    aggregate of the persisted census broadcast back (r07: it was a
    zero-key window, which funnels the ENTIRE dim through one partition —
    fine at sf0.1, a single-task wall on a 100 TB bigram dim), then one
    score scan joining the corpus bigrams to the broadcast dim. Same
    2-corpus-scan budget as bigram_perplexity: the Z aggregate reads the
    census cache, not the corpus.
    """
    d = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    norm = ws_normalize(F.lower(F.col("text")))
    big = d.select("doc_id", F.explode(word_windows(norm, 2)).alias("g"))
    bc = scoped(
        big.groupBy("g")
        .agg(F.count("*").alias("c12"))
        .withColumn("w1", F.split("g", " ").getItem(0))
        .withColumn("w2", F.split("g", " ").getItem(1))
    )
    zdim = bc.agg(F.count("*").alias("z"))
    w1w, w2w = Window.partitionBy("w1"), Window.partitionBy("w2")
    dim = bc.select(
        "g",
        "c12",
        F.sum("c12").over(w1w).alias("c1"),
        F.count("*").over(w1w).alias("n1p"),
        F.count("*").over(w2w).alias("ncont"),
    ).crossJoin(F.broadcast(zdim))
    num = (
        F.greatest(F.lit(4) * F.col("c12") - F.lit(3), F.lit(0)) * F.col("z")
        + F.lit(3) * F.col("n1p") * F.col("ncont")
    )
    probs = dim.select(
        "g",
        F.round(
            F.log(num / (F.lit(4.0) * F.col("c1") * F.col("z")))
            * F.lit(1000000.0),
            0,
        )
        .cast("long")
        .alias("lnp_micro"),
    )
    return (
        big.join(probs, "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("lnp_micro").alias("__s"))
        .select(
            "doc_id",
            "n_bigrams",
            F.round(
                F.exp(
                    -(F.col("__s").cast("double") / F.lit(1000000.0))
                    / F.col("n_bigrams")
                ),
                4,
            ).alias("kn_perplexity"),
        )
    )


@register(
    "nb_lang_classifier",
    r"""
    WITH toks AS (
      SELECT doc_id, lang, unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
               AS tok
      FROM documents
    ),
    dtok AS (SELECT doc_id, tok, count(*) AS n FROM toks GROUP BY doc_id, tok),
    ltc AS (SELECT lang, tok, count(*) AS c FROM toks GROUP BY lang, tok),
    ltot AS (SELECT lang, sum(c) AS ct FROM ltc GROUP BY lang),
    vsz AS (SELECT count(DISTINCT tok) AS v FROM toks),
    prior AS (
      SELECT lang,
             CAST(round(ln(count(*) /
                    CAST((SELECT count(*) FROM documents) AS DOUBLE))
                  * 1000000.0, 0) AS BIGINT) AS lp
      FROM documents GROUP BY lang
    ),
    vocab AS (SELECT DISTINCT tok FROM toks),
    probs AS (
      SELECT lt.lang, vb.tok,
             CAST(round(ln((coalesce(c.c, 0) + 1) /
                    CAST(lt.ct + (SELECT v FROM vsz) AS DOUBLE))
                  * 1000000.0, 0) AS BIGINT) AS lpt
      FROM vocab vb
      CROSS JOIN ltot lt
      LEFT JOIN ltc c ON c.lang = lt.lang AND c.tok = vb.tok
    ),
    scored AS (
      SELECT d.doc_id, p.lang, pr.lp + sum(d.n * p.lpt) AS s
      FROM dtok d JOIN probs p USING (tok) JOIN prior pr ON pr.lang = p.lang
      GROUP BY d.doc_id, p.lang, pr.lp
    ),
    ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, lang) AS rn
      FROM scored
    )
    SELECT r.doc_id, r.lang AS pred_lang,
           CAST(r.lang = t.lang AS INT) AS correct
    FROM ranked r JOIN documents t USING (doc_id)
    WHERE r.rn = 1
    """,
)
def nb_lang_classifier(spark, sf_dir):
    """Multinomial Naive Bayes language classifier, TRAINED AND SCORED in
    one distributed plan — the corpus-scale analog of the fastText-style
    linear classifiers real pipelines train for language-ID/quality
    filtering (CCNet, RefinedWeb).  Training is nothing but aggregation:
    per-(lang, token) counts, per-lang totals, vocabulary size, and doc
    priors.  Scoring is a join: per-doc token counts x the Laplace-smoothed
    log-probability dim, argmax over languages (ties broken by language
    name, deterministically on both engines).  Complements
    ``langid_heuristic`` (fixed marker lists): this one LEARNS its
    parameters from the labeled corpus.

    Exactness discipline: every log-probability — smoothed token prob
    ln((c+1)/(ct+V)) and prior ln(n_l/N) — is quantized to integer
    micro-nats INSIDE the parameter dims (|vocab|x|langs| and |langs|
    rows), per-doc-lang scores are exact BIGINT sums (n * lpt), and the
    argmax compares integers — no float summation order anywhere (the
    value_stats_pop failure class).  Spark's argmax is min(struct(-s,
    lang)) ≡ the oracle's row_number ORDER BY s DESC, lang.

    Scale shape: the parameter dim is |vocab| x |langs| rows — Heaps-law
    vocab times a small constant, broadcastable exactly like the unigram
    perplexity dim (drop the hint past ~10^8 rows and AQE shuffle-joins on
    tok, skew-free).  The scoring join fans each distinct (doc, tok) row
    out |langs| times AFTER the per-doc count aggregation (map-side
    combine eats within-doc repetition first); one final shuffle on doc_id
    resolves the argmax.  Priors and V are 1-row/|langs|-row broadcasts.

    Corpus-scan discipline (r06): the lazy train-and-score plan fanned
    out to EIGHT corpus scans (vocab, V, totals, and priors each re-ran
    the tokenize pass; the argmax joined back to documents). Now the
    (lang, token) count dim — vocab-sized, NOT corpus-sized — is
    persisted and everything trainable derives from it; the true label
    rides the scoring rows, so the plan reads documents exactly three
    times (train tokenize, score tokenize, |langs|-row prior census) at
    any corpus size.
    """
    d = _spread(
        _t(spark, sf_dir, "documents").select("doc_id", "lang", "text"), "doc_id"
    )
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok"),
    )
    # the true label rides the per-doc token counts (lang is constant per
    # doc, so the extra key adds no rows) — no join back to documents
    dtok = toks.groupBy("doc_id", F.col("lang").alias("lang_true"), "tok").agg(
        F.count("*").alias("n")
    )
    # ONE training pass; vocab, V and per-lang totals all derive from
    # this persisted vocab-sized dim instead of re-tokenizing the corpus
    ltc = scoped(toks.groupBy("lang", "tok").agg(F.count("*").alias("c")))
    ltot = ltc.groupBy("lang").agg(F.sum("c").alias("ct"))
    vsz = ltc.select("tok").distinct().agg(F.count("*").alias("v"))
    lcounts = d.groupBy("lang").agg(F.count("*").alias("nl"))
    n_docs = lcounts.agg(F.sum("nl").alias("n_all"))
    prior = lcounts.crossJoin(F.broadcast(n_docs)).select(
        "lang",
        F.round(F.log(F.col("nl") / F.col("n_all").cast("double")) * 1e6, 0)
        .cast("long")
        .alias("lp"),
    )
    vocab = ltc.select("tok").distinct()
    probs = (
        vocab.crossJoin(F.broadcast(ltot))
        .join(ltc, ["lang", "tok"], "left")
        .crossJoin(F.broadcast(vsz))
        .select(
            "lang",
            "tok",
            F.round(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1)
                    / (F.col("ct") + F.col("v")).cast("double")
                )
                * 1e6,
                0,
            )
            .cast("long")
            .alias("lpt"),
        )
    )
    scored = (
        dtok.join(F.broadcast(probs), "tok")
        .groupBy("doc_id", "lang_true", "lang")
        .agg(F.sum(F.col("n") * F.col("lpt")).alias("st"))
        .join(F.broadcast(prior), "lang")
        .select(
            "doc_id", "lang_true", "lang", (F.col("st") + F.col("lp")).alias("s")
        )
    )
    best = scored.groupBy("doc_id", "lang_true").agg(
        F.min(F.struct((-F.col("s")).alias("ns"), F.col("lang"))).alias("b")
    )
    return best.select(
        "doc_id",
        F.col("b.lang").alias("pred_lang"),
        (F.col("b.lang") == F.col("lang_true")).cast("int").alias("correct"),
    )


# ===========================================================================
# Training-data pipeline ops (engine additions beyond the reference): batch
# packing, decontamination, deterministic corpus shuffle.  The reference
# prepares training data on one process (finetune_model.py's dataset
# pipeline); these are the distributed equivalents a 100 TB corpus needs.
# ===========================================================================


@register(
    "token_budget_packing",
    f"""
    WITH w AS (SELECT doc_id, {_TOK_DUCK} AS n_tokens FROM documents),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
      FROM w
    )
    SELECT doc_id, n_tokens, cum_before,
           CAST(floor(cum_before / 512.0) AS BIGINT) AS batch_id
    FROM c
    """,
)
def token_budget_packing(spark, sf_dir):
    """Sequence packing: assign each document to a training batch by a
    512-token running budget in stable doc_id order (batch_id =
    floor(exclusive-prefix-sum(tokens) / 512)).

    The naive ``sum() OVER (ORDER BY doc_id)`` compiles to a
    SinglePartition exchange — every row through one task.  This uses
    operators/prefix_sum.running_sum_by_key instead: range-bucketize on
    doc_id, per-bucket totals exclusive-prefix-summed driver-side (O(32)
    control rows), then a bucket-partitioned window — identical values,
    fully parallel (no-SinglePartition plan asserted in
    tests/test_pipeline.py).
    """
    from ..operators.prefix_sum import running_sum_by_key

    d = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    toks = d.select(
        "doc_id", F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens")
    )
    cum = running_sum_by_key(toks, key="doc_id", weight="n_tokens")
    return cum.select(
        "doc_id",
        "n_tokens",
        "cum_before",
        F.floor(F.col("cum_before") / F.lit(512.0)).cast("long").alias("batch_id"),
    )


_CHUNK_TOKENS = 128  # context-window size in whitespace tokens
_CHUNK_STRIDE = 96  # overlap = 128 - 96 = 32 tokens between neighbors


@register(
    "ks_drift_shards",
    """
    WITH v AS (
      SELECT n_chars AS val,
             CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
             CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
      FROM documents GROUP BY n_chars
    ),
    c AS (
      SELECT sum(c0) OVER (ORDER BY val) AS cum0,
             sum(c1) OVER (ORDER BY val) AS cum1,
             sum(c0) OVER () AS n0, sum(c1) OVER () AS n1
      FROM v
    )
    SELECT CAST(max(n0) AS BIGINT) AS n0, CAST(max(n1) AS BIGINT) AS n1,
           CAST(max(abs(cum0 * n1 - cum1 * n0)) AS BIGINT) AS d_scaled,
           CAST(floor(max(abs(cum0 * n1 - cum1 * n0)) * 1000000.0
                 / (max(n0) * max(n1)) + 0.5) AS BIGINT) AS ks_micro
    FROM c
    """,
)
def ks_drift_shards(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov drift statistic between two corpus
    shards (engine addition — the distribution-drift monitor a pipeline
    runs between snapshots, sources, or train/val splits; here the shards
    are the deterministic doc_id parity halves and the monitored variable
    is document length, so the expected drift is ~0 and a regression
    planting a biased shard assignment trips it). Exact arithmetic: the
    supremum gap is computed as max |cum0*n1 - cum1*n0| over the merged
    support — all BIGINT, so both engines agree bit-for-bit; ks_micro is
    the familiar D in micro units, derived from the exact integers by one
    deterministic floor(x+0.5).

    Scale shape: one corpus scan → a value-keyed aggregation (shuffle
    bounded by |distinct values|, map-side combined) → a window over the
    aggregated support. The window is GLOBAL by construction (a CDF needs
    the total order of the support) but dim-sized: |distinct lengths| ≪
    corpus rows — same documented exception as source_ordinals. The final
    reduce is 1 row.
    """
    from ..operators.drift import ks_statistic

    d = _t(spark, sf_dir, "documents")
    return ks_statistic(
        d.select("n_chars", (F.col("doc_id") % 2).cast("int").alias("__g")),
        "__g",
        "n_chars",
    )


@register(
    "doc_token_chunks",
    f"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
      FROM documents
    ),
    s AS (
      SELECT doc_id, tk, length(tk) AS n,
             unnest(range(1, length(tk) + 1, {_CHUNK_STRIDE})) AS start_tok
      FROM t
    )
    SELECT doc_id,
           CAST((start_tok - 1) / {_CHUNK_STRIDE} AS BIGINT) AS chunk_id,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(least({_CHUNK_TOKENS}, n - start_tok + 1) AS BIGINT) AS n_tok,
           array_to_string(tk[start_tok:start_tok + {_CHUNK_TOKENS} - 1], ' ')
             AS chunk_text
    FROM s
    """,
)
def doc_token_chunks(spark, sf_dir):
    """Context-window chunking: split each document into overlapping
    fixed-size token windows (128 tokens, stride 96) — the standard
    long-document → training-sequence step (the reference tokenizes whole
    articles on one process in finetune_model.py's dataset prep; a 100 TB
    corpus needs the chunker itself distributed).

    Chunk starts are 1, 1+stride, ... <= n_tokens, so every token is
    covered and neighboring chunks share ``chunk - stride`` tokens; tail
    chunks are shorter (``n_tok`` carries the actual length).

    Scale shape: map-only — one scan, a per-row ``sequence``/``explode``
    whose fan-out is n_tokens/stride, zero shuffles (the physical plan is
    Scan → Project → Generate, asserted in tests/test_pipeline.py).
    Output row order inherits the scan; downstream packing re-keys it.
    """
    d = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    s = d.select(
        "doc_id",
        toks.alias("tk"),
        F.explode(
            F.sequence(F.lit(1), F.size(toks), F.lit(_CHUNK_STRIDE))
        ).alias("start_tok"),
    )
    return s.select(
        "doc_id",
        ((F.col("start_tok") - 1) / F.lit(_CHUNK_STRIDE))
        .cast("long")
        .alias("chunk_id"),
        F.col("start_tok").cast("long"),
        F.least(F.lit(_CHUNK_TOKENS), F.size("tk") - F.col("start_tok") + 1)
        .cast("long")
        .alias("n_tok"),
        F.array_join(
            F.slice(F.col("tk"), F.col("start_tok"), F.lit(_CHUNK_TOKENS)), " "
        ).alias("chunk_text"),
    )


@register(
    "benchmark_decontamination",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest(list_transform(range(1, greatest(len(t)-3, 1)+1),
               i -> array_to_string(t[i:i+3], ' '))) AS s
      FROM toks
    ),
    bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
    hits AS (
      SELECT DISTINCT sh.doc_id, sh.s FROM sh JOIN bench USING (s)
      WHERE sh.doc_id % 97 <> 0
    )
    SELECT doc_id, count(*) AS n_shared FROM hits GROUP BY doc_id
    """,
)
def benchmark_decontamination(spark, sf_dir):
    """Benchmark decontamination (C4/Dolma-style): flag corpus documents
    sharing any k-token window with a held-out benchmark set, reporting the
    distinct shared-window count per contaminated doc.  The benchmark set
    is a deterministic stand-in (doc_id % 97 == 0) since the driver tables
    carry no separate benchmark table.

    Scale shape: the benchmark side is tiny by construction (benchmarks
    are ~10^5 docs, not 10^10), so its distinct shingle set broadcasts;
    the corpus side explodes k-token windows and probes the broadcast —
    no corpus-side shuffle before the per-doc count agg.  Windows use the
    same short-doc truncation as doc_fingerprints_rolling.

    Window construction is ONE regexp pass (lookbehind-anchored lookahead
    over the whitespace-normalized text) instead of a
    transform/slice/concat_ws chain: higher-order Column functions are
    CodegenFallback (interpreted per element, O(L·k) array churn), while
    regexp_extract_all stays inside whole-stage codegen — measured 6.8x
    faster at sf0.1 with byte-identical windows.
    """
    d = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    norm = ws_normalize(F.lower(F.col("text")))
    toks = F.split(norm, " ")
    wins = F.when(F.size(toks) < 4, F.array(norm)).otherwise(word_windows(norm, 4))
    shingled = d.select(
        "doc_id", F.explode(F.array_distinct(wins)).alias("s")
    )
    bench = (
        shingled.where(F.col("doc_id") % 97 == 0).select("s").distinct()
    )
    return (
        shingled.where(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )


@register(
    "training_shuffle",
    f"""
    WITH h AS (
      SELECT doc_id, {knuth_shuffle_key_sql("doc_id")} AS shuffle_key
      FROM documents
    )
    SELECT doc_id, shuffle_key,
           CAST(row_number() OVER (ORDER BY shuffle_key) - 1 AS BIGINT) AS position
    FROM h
    """,
)
def training_shuffle(spark, sf_dir):
    """Deterministic corpus shuffle for training order: multiplicative-hash
    key (Knuth 2654435761 mod 2^32, via functions.hashing's overflow-safe
    split-multiply — a bijection of doc_id below 2^32, so keys stay unique)
    plus each document's global 0-based position in the shuffled order.

    The position is a global rank — the naive ``row_number() OVER (ORDER
    BY shuffle_key)`` is another SinglePartition trap.  Reuses the
    two-phase prefix sum with weight 1: rank = number of rows with a
    smaller key, computed bucket-parallel.  Hash keys are uniform, so the
    range buckets are balanced by construction.
    """
    from ..operators.prefix_sum import running_sum_by_key

    d = _t(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        knuth_shuffle_key(F.col("doc_id")).alias("shuffle_key"),
        F.lit(1).alias("__one"),
    )
    ranked = running_sum_by_key(
        keyed, key="shuffle_key", weight="__one", out_col="position"
    )
    return ranked.select("doc_id", "shuffle_key", "position")


@register(
    "vocab_topk",
    r"""
    SELECT tok, count(*) AS n
    FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
          FROM documents)
    GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 50
    """,
)
def vocab_topk(spark, sf_dir):
    """Vocabulary construction: top-50 corpus tokens by frequency
    (tokenizer-training prep).  Map-side partial counts shuffle only
    (token, count); the global top-50 compiles to TakeOrderedAndProject —
    per-partition heaps merged on the driver, never a full sort."""
    d = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    return (
        d.select(
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(50)
    )


@register(
    "token_idf",
    r"""
    WITH df AS (
      SELECT tok, count(*) AS df
      FROM (SELECT DISTINCT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
            FROM documents)
      GROUP BY tok
    )
    SELECT tok, df, round(ln((SELECT count(*) FROM documents) / CAST(df AS DOUBLE)), 6) AS idf
    FROM df
    ORDER BY df DESC, tok
    LIMIT 50
    """,
)
def token_idf(spark, sf_dir):
    """Inverse document frequency per token (tf-idf building block):
    document frequency via per-doc distinct tokens (array_distinct before
    explode — row-local dedup, no extra shuffle), idf = ln(N/df) with the
    1-row corpus count broadcast.  Top-50 by df for a bounded result."""
    d = _t(spark, sf_dir, "documents")
    per_doc = _spread(d.select("doc_id", "text"), "doc_id").select(
        F.explode(
            F.array_distinct(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
        ).alias("tok")
    )
    dfreq = per_doc.groupBy("tok").agg(F.count("*").alias("df"))
    total = d.agg(F.count("*").alias("n_docs"))
    return (
        dfreq.crossJoin(F.broadcast(total))
        .select(
            "tok",
            "df",
            F.round(F.log(F.col("n_docs") / F.col("df").cast("double")), 6).alias("idf"),
        )
        .orderBy(F.col("df").desc(), "tok")
        .limit(50)
    )


@register(
    "unicode_normalize",
    r"""
    WITH dec AS (
      SELECT doc_id, translate(text, 'aeiou', 'àéîöü') AS dtext FROM documents
    )
    SELECT doc_id,
           length(dtext) - length(translate(dtext, 'àéîöü', '')) AS n_accented,
           md5(strip_accents(nfc_normalize(dtext))) AS norm_md5
    FROM dec
    """,
)
def unicode_normalize(spark, sf_dir):
    """Unicode canonicalization (NFC + accent strip) as an Arrow-batched
    scalar op — the fix for canonically-unnormalized crawl text, where
    NFC/NFD representation mixtures make byte-equal-looking strings hash
    apart and silently defeat exact dedup.  The synthetic corpus is pure
    ASCII, so the query first DECORATES it deterministically (vowels →
    accented vowels via translate, identically on both engines) and then
    compares md5 of each engine's own normalization output: Spark runs the
    Python unicodedata pipeline (functions/normalize.py via
    strip_accents_nfc_udf), DuckDB runs strip_accents(nfc_normalize(x)) —
    hash equality proves the two normalizers agree character-for-character
    on the decorated class.  n_accented (chars the decoration touched) is
    computed with builtin translate/length on both sides.

    Scale shape: pure per-row projection — no shuffle, no join; the only
    Python is one Arrow-vectorized UDF over the already-pruned (doc_id,
    text) columns.  The companion mojibake repair (repair_mojibake_udf) is
    the same plan shape; it has no SQL twin and is pinned by crafted-pair
    tests instead (tests/test_text_ops.py).
    """
    from ..functions.udfs import strip_accents_nfc_udf

    d = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    dtext = F.translate(F.col("text"), "aeiou", "àéîöü")
    return d.select(
        "doc_id",
        (F.length(dtext) - F.length(F.translate(dtext, "àéîöü", ""))).alias(
            "n_accented"
        ),
        F.md5(strip_accents_nfc_udf(dtext)).alias("norm_md5"),
    )


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+?\d[\d-]{7,}\d"
# Both twins below are ASCII-only constructs valid in Java regex AND RE2
# (no backreferences/lookaround): IPv4 dotted quad, and a US-street-shaped
# "number + Capitalized name + suffix" address (the Dolma scrubber family).
_IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
_ADDR_RE = (
    r"\b\d{1,5} [A-Z][a-z]+ "
    r"(?:Street|St|Avenue|Ave|Road|Rd|Boulevard|Blvd|Lane|Ln|Drive|Dr)\b"
)


@register(
    "pii_scrub",
    rf"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN text || ' contact me at user' || doc_id
                       || '@example.com or +1-555-01'
                       || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                       || ' from 10.2.' || CAST(doc_id % 256 AS VARCHAR)
                       || '.9 at 42 Maple Street apt 3'
                  ELSE text END AS t
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(t, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(t, '{_PHONE_RE}')) AS n_phones,
           len(regexp_extract_all(t, '{_IPV4_RE}')) AS n_ips,
           len(regexp_extract_all(t, '{_ADDR_RE}')) AS n_addrs,
           md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                 t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                    '{_PHONE_RE}', '<PHONE>', 'g'),
                    '{_IPV4_RE}', '<IP>', 'g'),
                    '{_ADDR_RE}', '<ADDR>', 'g')) AS scrubbed_md5
    FROM aug
    """,
)
def pii_scrub(spark, sf_dir):
    """PII scrubbing (C4/Dolma-style pretraining hygiene, engine addition):
    count and redact email addresses, phone-number-shaped digit runs, IPv4
    addresses, and street-address-shaped spans, reporting per-doc match
    counts plus an md5 of the scrubbed text (the full scrubbed column would
    be the real sink; the hash keeps the oracle-compared result narrow).
    The driver's synthetic corpus carries no PII, so a deterministic
    in-query augmentation (doc_id % 7 == 0 gets a synthetic email + phone +
    IP + street address) gives every scrubber real work on both engines.
    Scrub order is fixed (email → phone → IP → addr) so the md5 is
    well-defined.  Pure regexp Column expressions — shuffle-free
    projection, linear at any scale."""
    d = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    aug = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact me at user"),
            F.col("doc_id"),
            F.lit("@example.com or +1-555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit(" from 10.2."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".9 at 42 Maple Street apt 3"),
        ),
    ).otherwise(F.col("text"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(aug, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
            ),
            _IPV4_RE,
            "<IP>",
        ),
        _ADDR_RE,
        "<ADDR>",
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(aug, F.lit(_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(aug, F.lit(_PHONE_RE), 0)).alias("n_phones"),
        F.size(F.regexp_extract_all(aug, F.lit(_IPV4_RE), 0)).alias("n_ips"),
        F.size(F.regexp_extract_all(aug, F.lit(_ADDR_RE), 0)).alias("n_addrs"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


@register(
    "temperature_mixture_sample",
    f"""
    WITH counts AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
    tot AS (SELECT sum(sqrt(CAST(n_docs AS DOUBLE))) AS z FROM counts),
    rates AS (
      SELECT source, n_docs,
             round(least(1.0, 250.0 * sqrt(CAST(n_docs AS DOUBLE))
                               / (SELECT z FROM tot)
                               / CAST(n_docs AS DOUBLE)), 9) AS rate
      FROM counts
    ),
    kept AS (
      SELECT d.source, count(*) AS n_kept
      FROM documents d JOIN rates r USING (source)
      WHERE CAST({knuth_shuffle_key_sql("d.doc_id")} AS DOUBLE) / 4294967296.0 < r.rate
      GROUP BY d.source
    )
    SELECT r.source, r.n_docs, coalesce(k.n_kept, 0) AS n_kept
    FROM rates r LEFT JOIN kept k ON r.source = k.source
    """,
)
def temperature_mixture_sample(spark, sf_dir):
    """Domain mixing by temperature sampling (engine addition; the
    multilingual/multi-domain pretraining primitive): per-source keep rate
    ∝ sqrt(count)/count toward a 250-doc target — sqrt-temperature
    (alpha = 0.5) upweights small domains the way pretraining mixes do —
    with a deterministic multiplicative-hash threshold deciding which docs
    survive (reproducible across runs AND partitionings; no RNG state).

    Numeric discipline: alpha = 0.5 via ``sqrt`` specifically because IEEE
    754 exact-rounds sqrt (bit-identical across engines) while ``pow`` may
    differ in the last ulp between libm implementations; the rate is
    rounded to 9 decimals on both sides so the order-dependent last-ulp of
    the sqrt-sum z cannot flip a threshold comparison.  Output is
    integers only (per-source corpus and kept counts).  Plan: count agg →
    1-row z broadcast → tiny rates dim broadcast against the corpus —
    one corpus-side shuffle total (the count agg).
    """
    d = _t(spark, sf_dir, "documents")
    target = 250.0
    # the per-source census persists (O(#sources) rows): its two
    # consumers (the z normalizer and the rates dim) and nothing else
    # re-scan the corpus — per-execution work is the keep pass alone
    counts = scoped(d.groupBy("source").agg(F.count("*").alias("n_docs")))
    tot = counts.agg(F.sum(F.sqrt(F.col("n_docs").cast("double"))).alias("z"))
    rates = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(target)
                * F.sqrt(F.col("n_docs").cast("double"))
                / F.col("z")
                / F.col("n_docs").cast("double"),
            ),
            9,
        ).alias("rate"),
    )
    hashfrac = knuth_shuffle_key(F.col("doc_id")).cast("double") / F.lit(4294967296.0)
    kept = (
        d.join(F.broadcast(rates), "source")
        .where(hashfrac < F.col("rate"))
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )
    return rates.join(kept, "source", "left").select(
        "source", "n_docs", F.coalesce("n_kept", F.lit(0)).alias("n_kept")
    )


@register(
    "sample_inspector",
    """
    SELECT doc_id, source, lang, substring(text, 1, 40) AS text_head
    FROM (
      SELECT *, row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 7 AND source = (SELECT min(source) FROM documents)
    """,
)
def sample_inspector(spark, sf_dir):
    """S10 — project chosen columns of one row addressed by (split,
    position) (check_sample.py:10-28): point lookup by the stable position
    column, never a driver-side scan."""
    w = Window.partitionBy("source").orderBy("doc_id")
    d = _t(spark, sf_dir, "documents")
    first_source = d.agg(F.min("source").alias("s"))
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 7)
        .join(F.broadcast(first_source), F.col("source") == F.col("s"))
        .select(
            "doc_id", "source", "lang", F.substring("text", 1, 40).alias("text_head")
        )
    )

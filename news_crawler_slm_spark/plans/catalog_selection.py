"""Data-selection operators from the published pretraining-corpus pipelines
(engine additions; reference analog: the reference selects data with
hand-tuned token thresholds and per-publisher caps — step_05/step_06 — these
are the model-based and stratified selection stages a 100 TB pipeline runs
between cleaning and training):

- ``stratified_sample`` — exact per-stratum quota sampling (the reference's
  step_06 first-N-per-publisher cap, step_06_shrink_dataset.py:13-19, made
  deterministic-random instead of encounter-ordered): keep exactly
  min(quota, n) documents per source, chosen by a seeded multiplicative-hash
  permutation so any two runs (and any partitioning) agree.
- ``ccnet_perplexity_buckets`` — CCNet's head/middle/tail quality tiers
  (Wenzek et al. 2020): score every document with a per-language LM and
  split each language into perplexity tertiles; "head" is the cleanest
  third. The LM here is the corpus-trained per-language unigram model
  (the engine's pluggable-scorer shape, see ``unigram_perplexity``).
- ``dsir_importance_weights`` — Data Selection via Importance Resampling
  (Xie et al. 2023): hashed bag-of-words models of a target corpus vs the
  raw pool; each document scores the sum over tokens of
  ``log p_target(h(tok)) - log p_raw(h(tok))`` over a fixed feature-hash
  space. Documents distributionally close to the target get high weight.
- ``bpe_pair_counts`` — the first step of BPE tokenizer training (Sennrich
  et al. 2016): weighted adjacent character-pair counts over the distinct-
  word dimension. The full iterative trainer is ``operators/bpe.py``; this
  query pins its per-step aggregation against a SQL oracle.
- ``stupid_backoff_scores`` — the web-scale n-gram scoring scheme (Brants
  et al. 2007): bigram MLE backed off to 0.4x unigram, trained on the
  trusted slice, scored over everything; the backoff rate is the quality
  signal.
- ``stupid_backoff_trigram_scores`` — the paper's full trigram form:
  trigram MLE → 0.4·bigram → 0.4²·unigram → 0.4²·OOV, with the
  (n_backoff, n_backoff2) cascade depths as the fluency signal.
- ``weighted_sample`` — weighted sampling without replacement (Efraimidis
  & Spirakis 2006 A-ES): top-k by u^(1/w) with the engine's hash
  permutation as the uniform draw; inclusion ∝ weight in one pass.
- ``dsir_resample`` — DSIR's resampling stage: Gumbel-top-k over the
  importance weights (sampling without replacement ∝ exp(weight), no
  partition function ever computed).
- ``distilled_quality_classifier`` — the DCLM/FineWeb-Edu bootstrap:
  Naive Bayes trained on the Gopher gate's verdicts as weak labels,
  scoring every document with vocabulary-level log-odds.

All nine are fully DuckDB-oracle-twinned. Cross-engine float discipline
(see the module docstrings in catalog.py): every log-probability is
quantized to integer micro-nats INSIDE the parameter dim (O(buckets) or
O(|vocab|·|langs|) rows) and summed as BIGINT per document — exact and
order-independent; doubles only appear in single fixed-shape divisions of
exact integers, which are bit-identical IEEE on both engines.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.hashing import knuth_shuffle_key, knuth_shuffle_key_sql
from ..operators.rank import grouped_row_number
from ..session import scoped
from .catalog import _spread, _t, register, word_windows, ws_normalize

# ---------------------------------------------------------------------------
# stratified_sample
# ---------------------------------------------------------------------------

_STRATA_QUOTA = 7

_STRATIFIED_ORACLE = f"""
    WITH k AS (
      SELECT doc_id, source,
             {knuth_shuffle_key_sql("doc_id")} AS sample_key
      FROM documents
    ),
    r AS (
      SELECT *, row_number() OVER (
               PARTITION BY source ORDER BY sample_key, doc_id) AS rn
      FROM k
    )
    SELECT doc_id, source, CAST(rn AS BIGINT) AS sample_rank
    FROM r WHERE rn <= {_STRATA_QUOTA}
"""


@register("stratified_sample", _STRATIFIED_ORACLE)
def stratified_sample(spark, sf_dir, quota: int = _STRATA_QUOTA):
    """Exact per-source quota sample: min(quota, n) documents per source,
    picked by the Knuth multiplicative-hash permutation of doc_id
    (functions/hashing.py — a bijection below 2^32, so the per-stratum
    order is a seedable shuffle, keys never tie, and the doc_id tiebreak
    is belt-and-braces only). This is the reference's per-publisher cap
    (step_06_shrink_dataset.py:13-19) with encounter order replaced by a
    deterministic random order — the version that still means "uniform
    random per stratum" when the table's physical order is arbitrary.

    Scale shape: one shuffle on source (the stratum key), rank-filter
    rewritten by Catalyst to a per-partition top-k (no full sort of each
    stratum's payload; only (key, rank) state per group). Hot strata are
    the known skew risk: a giant source funnels to one task — at 100 TB
    pre-aggregate with the salted two-phase top-k used by the frontier pop
    (crawl/frontier.py): per-salt top-quota first, then the exact global
    per-stratum top-quota over ≤ S·quota survivors.
    """
    d = _t(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        "source",
        knuth_shuffle_key(F.col("doc_id")).alias("sample_key"),
    )
    w = Window.partitionBy("source").orderBy("sample_key", "doc_id")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= quota)
        .select("doc_id", "source", F.col("rn").cast("long").alias("sample_rank"))
    )


# ---------------------------------------------------------------------------
# ccnet_perplexity_buckets
# ---------------------------------------------------------------------------

_CCNET_ORACLE = r"""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
      FROM documents
    ),
    vocab AS (
      SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY lang, tok
    ),
    tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM vocab GROUP BY lang),
    dim AS (
      SELECT v.lang, v.tok,
             CAST(round(ln(v.c / CAST(t.n AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
               AS lnp_micro
      FROM vocab v JOIN tot t USING (lang)
    ),
    per AS (
      SELECT toks.doc_id, toks.lang,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(dim.lnp_micro) AS BIGINT) AS s
      FROM toks JOIN dim USING (lang, tok)
      GROUP BY toks.doc_id, toks.lang
    ),
    sized AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS lang_docs FROM per GROUP BY lang
    ),
    ranked AS (
      SELECT per.*, sized.lang_docs,
             row_number() OVER (
               PARTITION BY per.lang
               ORDER BY (CAST(per.s AS DOUBLE) / per.n_tokens) DESC, per.doc_id
             ) AS rn
      FROM per JOIN sized USING (lang)
    )
    SELECT doc_id, lang, n_tokens,
           round(exp(-(CAST(s AS DOUBLE) / 1000000.0) / n_tokens), 4)
             AS perplexity,
           CASE CAST(floor((3 * (rn - 1)) / CAST(lang_docs AS DOUBLE)) AS BIGINT)
             WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
    FROM ranked
"""


@register("ccnet_perplexity_buckets", _CCNET_ORACLE)
def ccnet_perplexity_buckets(spark, sf_dir):
    """CCNet head/middle/tail quality tiers (Wenzek et al. 2020, §4.3):
    per-language LM perplexity, then each language's documents split into
    tertiles of the per-language perplexity order — "head" is the cleanest
    (lowest-perplexity) third, the slice CCNet feeds to training first.
    The scorer is the corpus-trained per-language unigram LM (CCNet uses a
    per-language KenLM; swap the ``dim`` table for model log-probs and the
    plan is unchanged — same pluggable-scorer shape as unigram_perplexity).

    Cross-engine discipline: per-(lang, token) ln p is quantized to integer
    micro-nats inside the dim and summed BIGINT per document (exact,
    order-free). The tertile SORT KEY is ``s/n_tokens`` — one double
    division of two exact integers, bit-identical IEEE on both engines —
    descending (lnp sums are negative: larger sum = lower perplexity), with
    doc_id as total tiebreak; the bucket index ``floor(3·(rank-1)/n_lang)``
    is exact integer arithmetic below 2^53. Perplexity itself is display
    output, rounded 4.

    Scale shape: the dim is |vocab|·|langs| rows (Heaps-law small vs the
    corpus) — broadcast here, shuffle-join on (lang, tok) beyond broadcast
    size. The tertile rank is SIZE-AWARE (operators/rank.py:
    grouped_row_number, r06): a per-language window while every language
    fits one task — the window carries only (doc_id, lang, two ints), not
    text — and the range-partitioned distributed rank (with_group_rank)
    the moment one language outgrows a task, gated on the per-lang doc
    counts the plan already aggregates. Window ≡ distributed equality is
    pinned by the planted-skew test in tests/test_text_ops.py.
    """
    d = _spread(
        _t(spark, sf_dir, "documents").select("doc_id", "lang", "text"), "doc_id"
    )
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok"),
    )
    # the trained LM is persisted (train-once discipline): its two
    # consumers (per-lang totals + the log-prob dim) and the scoring pass
    # all read the vocab-sized cache instead of re-running the tokenize
    # aggregation (3 corpus scans measured r06 before this)
    vocab = scoped(toks.groupBy("lang", "tok").agg(F.count("*").alias("c")))
    tot = vocab.groupBy("lang").agg(F.sum("c").alias("n"))
    dim = vocab.join(F.broadcast(tot), "lang").select(
        "lang",
        "tok",
        F.round(F.log(F.col("c") / F.col("n").cast("double")) * F.lit(1000000.0), 0)
        .cast("long")
        .alias("lnp_micro"),
    )
    # per-doc scores persist too: the size-gate's eager collect below is
    # then the ONE materialization — without it the rank stage re-ran the
    # whole score pipeline from parquet after the collect already had
    per = scoped(
        toks.join(F.broadcast(dim), ["lang", "tok"])
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_tokens"), F.sum("lnp_micro").alias("s"))
    )
    sized = per.groupBy("lang").agg(F.count("*").alias("lang_docs"))
    # size-aware dispatch (r06): the per-lang doc counts are already on
    # hand, so the gate costs one O(|langs|) collect — window rank while
    # every language fits a task, range-partitioned distributed rank
    # (with_group_rank) the moment one language dominates the corpus.
    max_lang = sized.agg(F.max("lang_docs").alias("m")).collect()[0]["m"] or 0
    ranked = grouped_row_number(
        per.join(F.broadcast(sized), "lang"),
        ["lang"],
        [F.desc(F.col("s").cast("double") / F.col("n_tokens")), F.col("doc_id")],
        out_col="rn",
        max_group_rows=max_lang,
    )
    idx = F.floor(
        (F.lit(3) * (F.col("rn") - 1)) / F.col("lang_docs").cast("double")
    ).cast("long")
    return ranked.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.round(
            F.exp(-(F.col("s").cast("double") / F.lit(1000000.0)) / F.col("n_tokens")),
            4,
        ).alias("perplexity"),
        F.when(idx == 0, "head").when(idx == 1, "middle").otherwise("tail").alias(
            "bucket"
        ),
    )


# ---------------------------------------------------------------------------
# dsir_importance_weights
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 1024
_DSIR_TARGET_LANG = "en"
_RK_MOD = 1000000007  # shared with the rolling-hash family (catalog_dedup)

# Per-token Rabin-Karp fold — the SAME char fold both engines already agree
# on bit-for-bit in doc_fingerprints_rolling — reduced mod the bucket count.
_DSIR_HASH_DUCK = f"""
    list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(range(1, length(tok) + 1),
                       j -> CAST(ascii(substr(tok, j, 1)) AS BIGINT))),
        (a, c) -> (a * 257 + c) % {_RK_MOD}) % {_DSIR_BUCKETS}
"""

_DSIR_ORACLE = rf"""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
      FROM documents
    ),
    vocab AS (
      SELECT tok,
             CAST(count(*) AS BIGINT) AS c_raw,
             CAST(sum(CASE WHEN lang = '{_DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c_tgt
      FROM toks GROUP BY tok
    ),
    hashed AS (
      SELECT tok, c_raw, c_tgt, {_DSIR_HASH_DUCK} AS bucket
      FROM vocab
    ),
    bkt AS (
      SELECT bucket, CAST(sum(c_raw) AS BIGINT) AS cr,
             CAST(sum(c_tgt) AS BIGINT) AS ct
      FROM hashed GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt
      FROM bkt
    ),
    dim AS (
      SELECT h.tok,
             CAST(round((ln((b.ct + 1) / CAST(t.nt + {_DSIR_BUCKETS} AS DOUBLE))
                       - ln((b.cr + 1) / CAST(t.nr + {_DSIR_BUCKETS} AS DOUBLE)))
                        * 1000000.0, 0) AS BIGINT) AS lr_micro
      FROM hashed h JOIN bkt b USING (bucket) CROSS JOIN tot t
    )
    SELECT toks.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(dim.lr_micro) AS BIGINT) AS weight_micro,
           CAST(floor(CAST(sum(dim.lr_micro) AS DOUBLE) / count(*) + 0.5)
                AS BIGINT) AS avg_lr_micro
    FROM toks JOIN dim USING (tok)
    GROUP BY toks.doc_id
"""


@register("dsir_importance_weights", _DSIR_ORACLE)
def dsir_importance_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): fit hashed bag-of-words
    models of a TARGET corpus (here: the 'en' slice — DSIR's target is
    the trusted corpus, e.g. Wikipedia) and of the RAW pool (the whole
    table); each document's weight is the log-likelihood ratio

        w(doc) = Σ_tok  ln p_target(h(tok)) - ln p_raw(h(tok))

    over a FIXED 1024-bucket feature-hash space with add-one smoothing —
    the hashing is what makes the parameter state O(B) regardless of
    corpus size, the property DSIR trades for exact n-gram models at the
    100 TB scale. High-weight documents look like the target; DSIR then
    resamples ∝ exp(w) (the sampling stage is ``temperature_mixture_sample``'s
    deterministic hash-threshold shape, composable downstream).

    Cross-engine discipline: the token hash is the Rabin-Karp char fold
    both engines already match bit-for-bit (doc_fingerprints_rolling),
    reduced mod B; it runs once per DISTINCT token (inside the vocab dim
    — higher-order fold Columns are CodegenFallback, so they must never
    touch per-occurrence rows), as does the micro-nat quantization of the
    bucket log-ratio. Per-document weights are exact BIGINT sums.

    Scale shape: one explode → (tok) groupBy builds the vocab dim (the
    same Heaps-law-small dim every LM query here uses); bucket and total
    reductions are O(|vocab|) and O(B); scoring is one broadcast join on
    tok. No shuffle ever carries text, and no driver state exceeds the
    1-row totals dim.
    """
    B = _DSIR_BUCKETS
    d = _spread(
        _t(spark, sf_dir, "documents").select("doc_id", "lang", "text"), "doc_id"
    )
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(
        F.count("*").alias("c_raw"),
        F.sum(
            F.when(F.col("lang") == _DSIR_TARGET_LANG, 1).otherwise(0)
        ).alias("c_tgt"),
    )
    codes = F.transform(
        F.split(F.col("tok"), ""), lambda c: F.ascii(c).cast("long")
    )
    rk = F.aggregate(
        codes, F.lit(0).cast("long"), lambda a, c: (a * 257 + c) % _RK_MOD
    )
    hashed = vocab.select(
        "tok", "c_raw", "c_tgt", (rk % F.lit(B)).alias("bucket")
    )
    # the |vocab|-row hashed census persists (train-once discipline): its
    # consumers — the bucket census chain (bkt → totals → log-ratio dim)
    # and the per-token bucket mapping — read the cache instead of each
    # re-running the tokenize+vocab training scan, leaving the score pass
    # as the only per-execution corpus scan. dsir_resample inherits this
    # through its call here.
    hashed = scoped(hashed)
    bkt = hashed.groupBy("bucket").agg(
        F.sum("c_raw").alias("cr"), F.sum("c_tgt").alias("ct")
    )
    tot = bkt.agg(F.sum("cr").alias("nr"), F.sum("ct").alias("nt"))
    bdim = bkt.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(
            (
                F.log((F.col("ct") + 1) / (F.col("nt") + F.lit(B)).cast("double"))
                - F.log((F.col("cr") + 1) / (F.col("nr") + F.lit(B)).cast("double"))
            )
            * F.lit(1000000.0),
            0,
        )
        .cast("long")
        .alias("lr_micro"),
    )
    dim = hashed.join(F.broadcast(bdim), "bucket").select("tok", "lr_micro")
    return (
        toks.join(F.broadcast(dim), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("lr_micro").alias("weight_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "weight_micro",
            # per-token average in micro-nats, half-up via floor(x + 0.5):
            # a round(double, 6) here TIES whenever n_tokens divides the
            # weight into an exact half (e.g. -192067/58 = -3311.5 µnats,
            # observed at sf0.1) and the engines' round() implementations
            # disagree on which way the tie goes; floor of the identical
            # IEEE double is deterministic on both (the cents() trick).
            F.floor(
                F.col("weight_micro").cast("double") / F.col("n_tokens")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("avg_lr_micro"),
        )
    )


# ---------------------------------------------------------------------------
# bpe_pair_counts
# ---------------------------------------------------------------------------

_BPE_TOPK = 30

_BPE_PAIRS_ORACLE = rf"""
    WITH words AS (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      FROM documents
    ),
    wdim AS (
      SELECT w, CAST(count(*) AS BIGINT) AS wc FROM words GROUP BY w
    ),
    pairs AS (
      SELECT wc, unnest(list_transform(range(1, length(w)),
                                       i -> substr(w, i, 2))) AS pair
      FROM wdim WHERE length(w) >= 2
    )
    SELECT pair, CAST(sum(wc) AS BIGINT) AS c
    FROM pairs GROUP BY pair
    ORDER BY c DESC, pair
    LIMIT {_BPE_TOPK}
"""


@register("bpe_pair_counts", _BPE_PAIRS_ORACLE)
def bpe_pair_counts(spark, sf_dir):
    """Step 0 of BPE tokenizer training (Sennrich et al. 2016): the top
    weighted adjacent CHARACTER pairs over the corpus — the statistic whose
    argmax becomes the first merge. The full iterative trainer
    (``operators/bpe.py:train_bpe``) repeats exactly this aggregation over
    progressively merged symbol arrays; pinning the step-0 pair counts
    against a SQL oracle pins the per-step semantics the loop reuses
    (the loop itself is twinned in tests/test_bpe.py).

    Scale shape: the classic BPE trick — counts come from the DISTINCT-WORD
    dim weighted by word frequency (one explode + word groupBy, the shared
    Heaps-law-small dim), never from corpus rows; pair extraction is
    substring windows over the dim only. Top-k is (c DESC, pair) LIMIT —
    TakeOrderedAndProject, no global sort; the tiebreak makes the cut total
    so LIMIT is deterministic on both engines.
    """
    d = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    words = d.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w")
    )
    wdim = words.groupBy("w").agg(F.count("*").alias("wc"))
    pairs = wdim.where(F.length("w") >= 2).select(
        "wc",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").alias("c"))
        .orderBy(F.desc("c"), "pair")
        .limit(_BPE_TOPK)
    )


# ---------------------------------------------------------------------------
# stupid_backoff_scores
# ---------------------------------------------------------------------------

_SB_ALPHA = 0.4  # the paper's fixed backoff factor
_SB_TRAIN_LANG = "en"

_SB_ORACLE = rf"""
    WITH t AS (
      SELECT doc_id, lang,
             regexp_split_to_array(trim(lower(text)), '\s+') AS a
      FROM documents
    ),
    pairs AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1]))
               AS g
      FROM t WHERE len(a) >= 2
    ),
    train_pairs AS (
      SELECT unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1]))
               AS g
      FROM t WHERE len(a) >= 2 AND lang = '{_SB_TRAIN_LANG}'
    ),
    bc AS (
      SELECT g, split_part(g, ' ', 1) AS w1, CAST(count(*) AS BIGINT) AS c12
      FROM train_pairs GROUP BY g
    ),
    ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bc GROUP BY w1),
    bdim AS (
      SELECT g, CAST(round(ln(c12 / CAST(c1 AS DOUBLE)) * 1000000.0, 0)
                 AS BIGINT) AS lnb_micro
      FROM bc JOIN ctx USING (w1)
    ),
    train_toks AS (
      SELECT unnest(a) AS tok FROM t WHERE lang = '{_SB_TRAIN_LANG}'
    ),
    uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS cu FROM train_toks GROUP BY tok),
    n AS (SELECT CAST(sum(cu) AS BIGINT) AS nt FROM uc),
    udim AS (
      SELECT uc.tok,
             CAST(round(ln(({_SB_ALPHA} * uc.cu) / CAST(n.nt AS DOUBLE))
                        * 1000000.0, 0) AS BIGINT) AS lnu_micro
      FROM uc CROSS JOIN n
    ),
    oov AS (
      SELECT CAST(round(ln(({_SB_ALPHA} * 1) / CAST(nt AS DOUBLE))
                        * 1000000.0, 0) AS BIGINT) AS oov_micro
      FROM n
    )
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_transitions,
           CAST(sum(coalesce(b.lnb_micro, u.lnu_micro, o.oov_micro))
                AS BIGINT) AS score_micro,
           CAST(floor(CAST(sum(coalesce(b.lnb_micro, u.lnu_micro, o.oov_micro))
                           AS DOUBLE) / count(*) + 0.5) AS BIGINT)
             AS avg_micro,
           CAST(sum(CASE WHEN b.lnb_micro IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_backoff
    FROM pairs p
    LEFT JOIN bdim b USING (g)
    LEFT JOIN udim u ON u.tok = split_part(p.g, ' ', 2)
    CROSS JOIN oov o
    GROUP BY p.doc_id
"""


@register("stupid_backoff_scores", _SB_ORACLE)
def stupid_backoff_scores(spark, sf_dir):
    """Stupid backoff (Brants et al. 2007, "Large Language Models in
    Machine Translation") — the scoring scheme invented FOR web-scale
    n-gram models: no discounting, no normalization, just

        S(w2 | w1) = c(w1 w2) / c(w1)        if the bigram was seen
                   = 0.4 * c(w2) / N          backed off to the unigram
                   = 0.4 * 1 / N              for out-of-vocabulary w2

    trained here on the trusted slice (lang = 'en' — CCNet's shape: score
    EVERYTHING with an LM trained on clean text) and scored over every
    document's token transitions. Non-target-language docs back off
    heavily — n_backoff / n_transitions is the quality signal. Completes
    the engine's LM-scoring family (unigram MLE → bigram MLE → backoff);
    docs with < 2 tokens have no transitions and no row.

    Cross-engine discipline: all three score shapes quantize to integer
    micro-nats INSIDE their dims (|bigrams|, |vocab|, and the 1-row OOV
    scalar — identical ln argument shapes on both engines), the per-doc
    sum is exact BIGINT, and the per-transition average uses the exact
    floor(x + 0.5) integer convention (the DSIR tie lesson). Every output
    column is integral — nothing for a rounding boundary to flip.

    Scale shape: identical to ``bigram_perplexity`` — the bigram dim is
    NOT broadcastable at 100 TB (the occurrence join shuffles on the
    bigram string; AQE broadcasts it at small SF); the unigram dim and
    OOV scalar broadcast. Bigrams come from codegen regexp windows; the
    backoff resolution is one coalesce over two left joins, zero extra
    corpus passes.
    """
    d = _spread(
        _t(spark, sf_dir, "documents").select("doc_id", "lang", "text"), "doc_id"
    )
    norm = ws_normalize(F.lower(F.col("text")))
    big = d.select("doc_id", "lang", F.explode(word_windows(norm, 2)).alias("g"))
    train_big = big.where(F.col("lang") == _SB_TRAIN_LANG)
    # both trained dims persist (train-once discipline): bc feeds the
    # context totals AND the bigram dim, uc feeds N AND the unigram dim —
    # left lazy each pair re-ran its training scan (6 corpus scans
    # measured r06; 3 after: bigram train, unigram train, score pass)
    bc = scoped(train_big.groupBy("g").agg(F.count("*").alias("c12")))
    bc = bc.withColumn("w1", F.split("g", " ").getItem(0))
    ctx = bc.groupBy("w1").agg(F.sum("c12").alias("c1"))
    bdim = bc.join(ctx, "w1").select(
        "g",
        F.round(F.log(F.col("c12") / F.col("c1").cast("double")) * F.lit(1e6), 0)
        .cast("long")
        .alias("lnb_micro"),
    )
    train_toks = d.where(F.col("lang") == _SB_TRAIN_LANG).select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok")
    )
    uc = scoped(train_toks.groupBy("tok").agg(F.count("*").alias("cu")))
    n = uc.agg(F.sum("cu").alias("nt"))
    udim = uc.crossJoin(F.broadcast(n)).select(
        "tok",
        F.round(
            F.log((F.lit(_SB_ALPHA) * F.col("cu")) / F.col("nt").cast("double"))
            * F.lit(1e6),
            0,
        )
        .cast("long")
        .alias("lnu_micro"),
    )
    oov = n.select(
        F.round(
            F.log((F.lit(_SB_ALPHA) * F.lit(1)) / F.col("nt").cast("double"))
            * F.lit(1e6),
            0,
        )
        .cast("long")
        .alias("oov_micro")
    )
    scored = (
        big.join(bdim, "g", "left")
        .withColumn("w2", F.split("g", " ").getItem(1))
        .join(F.broadcast(udim), F.col("w2") == F.col("tok"), "left")
        .crossJoin(F.broadcast(oov))
        .select(
            "doc_id",
            F.coalesce("lnb_micro", "lnu_micro", "oov_micro").alias("s"),
            F.col("lnb_micro").isNull().cast("long").alias("bo"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_transitions"),
        F.sum("s").alias("score_micro"),
        F.floor(F.sum("s").cast("double") / F.count("*") + F.lit(0.5))
        .cast("long")
        .alias("avg_micro"),
        F.sum("bo").alias("n_backoff"),
    )


_SBT_ORACLE = rf"""
    WITH t AS (
      SELECT doc_id, lang,
             regexp_split_to_array(trim(lower(text)), '\s+') AS a
      FROM documents
    ),
    triples AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(a) - 1),
               i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS g3
      FROM t WHERE len(a) >= 3
    ),
    train_triples AS (
      SELECT unnest(list_transform(range(1, len(a) - 1),
               i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS g3
      FROM t WHERE len(a) >= 3 AND lang = '{_SB_TRAIN_LANG}'
    ),
    train_pairs AS (
      SELECT unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1]))
               AS g
      FROM t WHERE len(a) >= 2 AND lang = '{_SB_TRAIN_LANG}'
    ),
    tc AS (
      SELECT g3,
             split_part(g3, ' ', 1) || ' ' || split_part(g3, ' ', 2) AS b12,
             CAST(count(*) AS BIGINT) AS c123
      FROM train_triples GROUP BY g3
    ),
    bc AS (
      SELECT g, split_part(g, ' ', 1) AS w1, CAST(count(*) AS BIGINT) AS c12
      FROM train_pairs GROUP BY g
    ),
    ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bc GROUP BY w1),
    tdim AS (
      SELECT tc.g3, CAST(round(ln(c123 / CAST(bc.c12 AS DOUBLE)) * 1000000.0, 0)
                 AS BIGINT) AS lnt_micro
      FROM tc JOIN bc ON bc.g = tc.b12
    ),
    bdim AS (
      SELECT g, CAST(round(ln(({_SB_ALPHA} * c12) / CAST(c1 AS DOUBLE))
                 * 1000000.0, 0) AS BIGINT) AS lnb_micro
      FROM bc JOIN ctx USING (w1)
    ),
    train_toks AS (
      SELECT unnest(a) AS tok FROM t WHERE lang = '{_SB_TRAIN_LANG}'
    ),
    uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS cu FROM train_toks GROUP BY tok),
    n AS (SELECT CAST(sum(cu) AS BIGINT) AS nt FROM uc),
    udim AS (
      SELECT uc.tok,
             CAST(round(ln(({_SB_ALPHA} * {_SB_ALPHA} * uc.cu)
                           / CAST(n.nt AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
               AS lnu_micro
      FROM uc CROSS JOIN n
    ),
    oov AS (
      SELECT CAST(round(ln(({_SB_ALPHA} * {_SB_ALPHA} * 1)
                           / CAST(nt AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
               AS oov_micro
      FROM n
    )
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_transitions,
           CAST(sum(coalesce(td.lnt_micro, b.lnb_micro, u.lnu_micro,
                             o.oov_micro)) AS BIGINT) AS score_micro,
           CAST(floor(CAST(sum(coalesce(td.lnt_micro, b.lnb_micro,
                                        u.lnu_micro, o.oov_micro)) AS DOUBLE)
                      / count(*) + 0.5) AS BIGINT) AS avg_micro,
           CAST(sum(CASE WHEN td.lnt_micro IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_backoff,
           CAST(sum(CASE WHEN td.lnt_micro IS NULL AND b.lnb_micro IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff2
    FROM triples p
    LEFT JOIN tdim td USING (g3)
    LEFT JOIN bdim b
      ON b.g = split_part(p.g3, ' ', 2) || ' ' || split_part(p.g3, ' ', 3)
    LEFT JOIN udim u ON u.tok = split_part(p.g3, ' ', 3)
    CROSS JOIN oov o
    GROUP BY p.doc_id
"""


@register("stupid_backoff_trigram_scores", _SBT_ORACLE)
def stupid_backoff_trigram_scores(spark, sf_dir):
    """Trigram stupid backoff — the form Brants et al. 2007 actually ran
    on web-scale n-grams (the registered bigram query is its first rung):

        S(w3 | w1 w2) = c(w1 w2 w3) / c(w1 w2)      seen trigram
                      = 0.4 * c(w2 w3) / c(w2)       backed off to bigram
                      = 0.4^2 * c(w3) / N            backed off to unigram
                      = 0.4^2 * 1 / N                out-of-vocabulary

    trained on the trusted slice (lang = 'en'), scored over every
    document's trigram transitions; (n_backoff, n_backoff2) — trigram
    miss, trigram AND bigram miss — are the fluency signal. The trigram
    denominator is the TRAINED BIGRAM count c(w1 w2) (the paper's
    corpus-frequency ratio), not a trigram-context rollup: every trigram
    occurrence contains its leading-bigram occurrence, so the ratio is a
    true conditional frequency <= 1.

    Cross-engine discipline unchanged from the bigram query: all four
    score shapes quantize to micro-nats INSIDE their dims with identical
    ln-argument shapes on both engines; per-doc sums are exact BIGINT;
    the average is floor(x + 0.5); every output column is integral.

    Scale shape: the trigram and bigram dims shuffle on their n-gram
    strings (honestly non-broadcastable at 100 TB, like
    bigram_perplexity); the unigram dim and OOV scalar broadcast; dims
    persist (train-once — the bigram dim has two consumers: the trigram
    denominator and the backoff rung). The docstring above
    ``stupid_backoff_scores`` covers the family's reference analog.
    """
    d = _spread(
        _t(spark, sf_dir, "documents").select("doc_id", "lang", "text"), "doc_id"
    )
    norm = ws_normalize(F.lower(F.col("text")))

    tri = d.select("doc_id", "lang", F.explode(word_windows(norm, 3)).alias("g3"))
    big_train = d.where(F.col("lang") == _SB_TRAIN_LANG).select(
        F.explode(word_windows(norm, 2)).alias("g")
    )
    bc = scoped(big_train.groupBy("g").agg(F.count("*").alias("c12")))
    bc = bc.withColumn("w1", F.split("g", " ").getItem(0))
    ctx = bc.groupBy("w1").agg(F.sum("c12").alias("c1"))

    tc = (
        tri.where(F.col("lang") == _SB_TRAIN_LANG)
        .groupBy("g3")
        .agg(F.count("*").alias("c123"))
        .withColumn(
            "b12",
            F.concat_ws(
                " ", F.split("g3", " ").getItem(0), F.split("g3", " ").getItem(1)
            ),
        )
    )
    tdim = tc.join(bc.select(F.col("g").alias("b12"), "c12"), "b12").select(
        "g3",
        F.round(F.log(F.col("c123") / F.col("c12").cast("double")) * F.lit(1e6), 0)
        .cast("long")
        .alias("lnt_micro"),
    )
    bdim = bc.join(ctx, "w1").select(
        "g",
        F.round(
            F.log((F.lit(_SB_ALPHA) * F.col("c12")) / F.col("c1").cast("double"))
            * F.lit(1e6),
            0,
        )
        .cast("long")
        .alias("lnb_micro"),
    )
    train_toks = d.where(F.col("lang") == _SB_TRAIN_LANG).select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok")
    )
    uc = scoped(train_toks.groupBy("tok").agg(F.count("*").alias("cu")))
    n = uc.agg(F.sum("cu").alias("nt"))
    udim = uc.crossJoin(F.broadcast(n)).select(
        "tok",
        F.round(
            F.log(
                (F.lit(_SB_ALPHA) * F.lit(_SB_ALPHA) * F.col("cu"))
                / F.col("nt").cast("double")
            )
            * F.lit(1e6),
            0,
        )
        .cast("long")
        .alias("lnu_micro"),
    )
    oov = n.select(
        F.round(
            F.log(
                (F.lit(_SB_ALPHA) * F.lit(_SB_ALPHA) * F.lit(1))
                / F.col("nt").cast("double")
            )
            * F.lit(1e6),
            0,
        )
        .cast("long")
        .alias("oov_micro")
    )
    scored = (
        tri.join(tdim, "g3", "left")
        .withColumn(
            "b23",
            F.concat_ws(
                " ", F.split("g3", " ").getItem(1), F.split("g3", " ").getItem(2)
            ),
        )
        .join(bdim.withColumnRenamed("g", "b23"), "b23", "left")
        .withColumn("w3", F.split("g3", " ").getItem(2))
        .join(F.broadcast(udim), F.col("w3") == F.col("tok"), "left")
        .crossJoin(F.broadcast(oov))
        .select(
            "doc_id",
            F.coalesce("lnt_micro", "lnb_micro", "lnu_micro", "oov_micro").alias("s"),
            F.col("lnt_micro").isNull().cast("long").alias("bo"),
            (F.col("lnt_micro").isNull() & F.col("lnb_micro").isNull())
            .cast("long")
            .alias("bo2"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_transitions"),
        F.sum("s").alias("score_micro"),
        F.floor(F.sum("s").cast("double") / F.count("*") + F.lit(0.5))
        .cast("long")
        .alias("avg_micro"),
        F.sum("bo").alias("n_backoff"),
        F.sum("bo2").alias("n_backoff2"),
    )


# ---------------------------------------------------------------------------
# weighted_sample
# ---------------------------------------------------------------------------

_WS_K = 40
_M32_D = 4294967296.0  # 2^32 as the uniform-key denominator

_WS_ORACLE = rf"""
    WITH w AS (
      SELECT doc_id,
             CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
               AS weight,
             ({knuth_shuffle_key_sql("doc_id")} + 1) / {_M32_D} AS u
      FROM documents
    ),
    keyed AS (
      SELECT doc_id, weight, ln(u) / weight AS es_key FROM w
    )
    SELECT doc_id, weight
    FROM keyed
    ORDER BY es_key DESC, doc_id
    LIMIT {_WS_K}
"""


@register("weighted_sample", _WS_ORACLE)
def weighted_sample(spark, sf_dir, k: int = _WS_K):
    """Weighted sampling WITHOUT replacement (Efraimidis & Spirakis 2006,
    A-ES): each item draws u ~ Uniform(0,1] and the k largest u^(1/w) win —
    inclusion probability proportional to weight, single pass, no
    rejection loop. The streaming/distributed standard for "sample 10k
    docs proportional to token count" (weight here = token count, so
    longer documents are proportionally likelier — the mixture-sampling
    complement to ``stratified_sample``'s uniform quotas).

    Determinism: u = (knuth_key(doc_id)+1) / 2^32 — the engine's seeded
    hash permutation as the uniform draw (exact dyadic rational, identical
    IEEE on both engines; +1 keeps u > 0). The selection key is the
    log-domain form ln(u)/w (monotone in u^(1/w), no pow()): one ln and
    one division of identical doubles — bit-identical cross-engine — with
    doc_id as total tiebreak. Output columns are exact integers only; the
    key is sort-only, never emitted.

    Scale shape: a pure projection (hash, ln, divide — all codegen) into a
    global top-k = TakeOrderedAndProject (per-partition heaps of k, one
    k-row reduction to the driver; no sort, no shuffle of the corpus).
    """
    d = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    weight = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    u = (knuth_shuffle_key(F.col("doc_id")) + F.lit(1)) / F.lit(_M32_D)
    keyed = d.select(
        "doc_id",
        weight.alias("weight"),
        (F.log(u) / weight).alias("es_key"),
    )
    return (
        keyed.orderBy(F.desc("es_key"), "doc_id")
        .limit(k)
        .select("doc_id", "weight")
    )


# ---------------------------------------------------------------------------
# dsir_resample
# ---------------------------------------------------------------------------

_DSIR_K = 50

_DSIR_RESAMPLE_ORACLE = rf"""
    WITH dsir AS ({_DSIR_ORACLE}),
    keyed AS (
      SELECT doc_id, weight_micro,
             (CAST(weight_micro AS DOUBLE) / 1000000.0)
               - ln(-ln(({knuth_shuffle_key_sql("doc_id")} + 1) / {_M32_D}))
               AS gk
      FROM dsir
    )
    SELECT doc_id, weight_micro
    FROM keyed
    ORDER BY gk DESC, doc_id
    LIMIT {_DSIR_K}
"""


@register("dsir_resample", _DSIR_RESAMPLE_ORACLE)
def dsir_resample(spark, sf_dir, k: int = _DSIR_K):
    """DSIR's RESAMPLING stage (Xie et al. 2023 §2 — importance
    resampling): draw k documents without replacement with probability
    proportional to exp(importance weight), via the Gumbel-top-k trick
    (Vieira 2014 / Kool et al. 2019): key = weight + Gumbel(0,1), take the
    k largest — exactly equivalent to sequential softmax sampling without
    replacement, in ONE distributed pass with no normalization constant
    (the log-partition term cancels inside the argmax, which is what makes
    this feasible: Z over a 100 TB corpus is never computed).

    Composes the two pieces already pinned: the weights are
    ``dsir_importance_weights``'s exact BIGINT micro-nats, and the Gumbel
    noise is deterministic, ``-ln(-ln(u))`` with u the same hash-permutation
    uniform ``weighted_sample`` uses — identical IEEE doubles on both
    engines, doc_id as total tiebreak; the key is sort-only, outputs stay
    exact integers.

    Scale shape: DSIR's scoring plan (broadcast dims) + a pure projection
    into a global top-k — TakeOrderedAndProject, per-partition heaps of k;
    no extra shuffle beyond the scoring aggregation.
    """
    w = dsir_importance_weights(spark, sf_dir)
    u = (knuth_shuffle_key(F.col("doc_id")) + F.lit(1)) / F.lit(_M32_D)
    gk = (F.col("weight_micro").cast("double") / F.lit(1000000.0)) - F.log(
        -F.log(u)
    )
    return (
        w.select("doc_id", "weight_micro", gk.alias("gk"))
        .orderBy(F.desc("gk"), "doc_id")
        .limit(k)
        .select("doc_id", "weight_micro")
    )


# ---------------------------------------------------------------------------
# distilled_quality_classifier
# ---------------------------------------------------------------------------

_DQC_ORACLE = r"""
    WITH g AS (
      SELECT doc_id, keepx AS label
      FROM (
        WITH toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
          FROM documents
        ),
        per AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
                 CAST(sum(length(w)) AS BIGINT) AS word_chars,
                 CAST(sum(CASE WHEN regexp_matches(w, '[A-Za-z]') THEN 1
                          ELSE 0 END) AS BIGINT) AS alpha_words,
                 CAST(count(DISTINCT CASE WHEN lower(w) IN
                        ('the','a','an','and','or','of','to','in','is','it')
                      THEN lower(w) END) AS BIGINT) AS stop_hits
          FROM toks GROUP BY doc_id
        ),
        sym AS (
          SELECT doc_id,
                 CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS BIGINT) AS s
          FROM documents
        )
        SELECT p.doc_id,
               (    p.n_words BETWEEN 50 AND 100000
                AND p.word_chars / CAST(p.n_words AS DOUBLE) BETWEEN 3 AND 10
                AND p.alpha_words / CAST(p.n_words AS DOUBLE) > 0.8
                AND p.stop_hits >= 2
                AND y.s / CAST(p.n_words AS DOUBLE) < 0.1) AS keepx
        FROM per p JOIN sym y USING (doc_id)
      )
    ),
    toks AS (
      SELECT d.doc_id, g.label,
             unnest(regexp_split_to_array(trim(lower(d.text)), '\s+')) AS tok
      FROM documents d JOIN g USING (doc_id)
    ),
    tc AS (
      SELECT tok,
             CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS ck,
             CAST(sum(CASE WHEN label THEN 0 ELSE 1 END) AS BIGINT) AS cr
      FROM toks GROUP BY tok
    ),
    tot AS (
      SELECT CAST(sum(ck) AS BIGINT) AS nk, CAST(sum(cr) AS BIGINT) AS nr,
             CAST(count(*) AS BIGINT) AS v
      FROM tc
    ),
    dim AS (
      SELECT tc.tok,
             CAST(round((ln((tc.ck + 1) / CAST(t.nk + t.v AS DOUBLE))
                       - ln((tc.cr + 1) / CAST(t.nr + t.v AS DOUBLE)))
                        * 1000000.0, 0) AS BIGINT) AS lr_micro
      FROM tc CROSS JOIN tot t
    ),
    prior AS (
      SELECT CAST(round(ln(sum(CASE WHEN label THEN 1 ELSE 0 END)
                           / CAST(sum(CASE WHEN label THEN 0 ELSE 1 END)
                                  AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
               AS prior_micro
      FROM g
    )
    SELECT toks.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(dim.lr_micro) + max(prior.prior_micro) AS BIGINT)
             AS logodds_micro,
           (sum(dim.lr_micro) + max(prior.prior_micro)) > 0 AS pred_keep
    FROM toks JOIN dim USING (tok) CROSS JOIN prior
    GROUP BY toks.doc_id
"""


@register("distilled_quality_classifier", _DQC_ORACLE)
def distilled_quality_classifier(spark, sf_dir):
    """Model-based quality filtering bootstrapped from heuristic labels —
    the DCLM / FineWeb-Edu pattern: take a rule gate's verdicts as weak
    labels (here the Gopher word-statistics keep bit), train a multinomial
    Naive Bayes over document tokens on those labels, and score EVERY
    document with the classifier's log-odds. The classifier generalizes
    the gate from thresholds to vocabulary: documents that *read like*
    gate-passing text score high even when a single statistic trips, which
    is exactly why production pipelines layer a learned filter on top of
    the rules. Training and scoring run in ONE plan, like
    ``nb_lang_classifier`` (the supervised-by-language sibling).

    Cross-engine discipline: per-token log-likelihood ratios (Laplace
    smoothing over the shared vocab size) and the class-prior log-ratio
    quantize to integer micro-nats inside their dims; per-doc sums are
    exact BIGINTs and every output column is integral or boolean.

    Scale shape: the label bit reuses the shared Gopher expressions (one
    extra projection on the training pass, no join against a gate table);
    the parameter dim is the Heaps-law token vocab (broadcast here,
    shuffle join past broadcast size); totals and priors are 1-row dims.
    """
    from .catalog_quality import _gopher_cols

    d = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    labeled = d.select(
        "doc_id",
        F.trim(F.lower(F.col("text"))).alias("ltext"),
        _gopher_cols()["keep"].alias("label"),
    )
    toks = labeled.select(
        "doc_id", "label", F.explode(F.split("ltext", r"\s+")).alias("tok")
    )
    tc = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("label"), 1).otherwise(0)).alias("ck"),
        F.sum(F.when(F.col("label"), 0).otherwise(1)).alias("cr"),
    )
    tot = tc.agg(
        F.sum("ck").alias("nk"), F.sum("cr").alias("nr"), F.count("*").alias("v")
    )
    dim = tc.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.round(
            (
                F.log((F.col("ck") + 1) / (F.col("nk") + F.col("v")).cast("double"))
                - F.log((F.col("cr") + 1) / (F.col("nr") + F.col("v")).cast("double"))
            )
            * F.lit(1000000.0),
            0,
        )
        .cast("long")
        .alias("lr_micro"),
    )
    prior = labeled.agg(
        F.round(
            F.log(
                F.sum(F.when(F.col("label"), 1).otherwise(0))
                / F.sum(F.when(F.col("label"), 0).otherwise(1)).cast("double")
            )
            * F.lit(1000000.0),
            0,
        )
        .cast("long")
        .alias("prior_micro")
    )
    return (
        toks.join(F.broadcast(dim), "tok")
        .crossJoin(F.broadcast(prior))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            (F.sum("lr_micro") + F.max("prior_micro")).alias("logodds_micro"),
            ((F.sum("lr_micro") + F.max("prior_micro")) > 0).alias("pred_keep"),
        )
    )


# ---------------------------------------------------------------------------
# weighted_sample_by_source
# ---------------------------------------------------------------------------

_WSG_K = 5

_WSG_ORACLE = rf"""
    WITH w AS (
      SELECT doc_id, source,
             CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
               AS weight,
             ({knuth_shuffle_key_sql("doc_id")} + 1) / {_M32_D} AS u
      FROM documents
    ),
    keyed AS (
      SELECT doc_id, source, weight, ln(u) / weight AS es_key FROM w
    ),
    r AS (
      SELECT *, row_number() OVER (
               PARTITION BY source ORDER BY es_key DESC, doc_id) AS rn
      FROM keyed
    )
    SELECT source, doc_id, weight FROM r WHERE rn <= {_WSG_K}
"""


@register("weighted_sample_by_source", _WSG_ORACLE)
def weighted_sample_by_source(spark, sf_dir, k: int = _WSG_K):
    """PER-GROUP weighted sampling without replacement: A-ES
    (Efraimidis & Spirakis 2006) inside each source — k docs per source
    with inclusion probability proportional to token count. The mixture
    builder's per-domain complement to the global ``weighted_sample`` and
    the uniform-quota ``stratified_sample``: "give me 10k
    length-weighted docs from EVERY domain" is how curated mixtures
    (C4-style per-source balancing with length bias) are actually drawn.

    Determinism: identical u/es_key algebra as weighted_sample (dyadic
    knuth uniform, log-domain key, doc_id tiebreak) — same cross-engine
    bit-exactness argument.

    Scale shape: one codegen projection, then a SIZE-AWARE per-group
    rank (operators/rank.py:grouped_row_number, r06): one shuffle on
    source into a window rank while every source fits a task; the moment
    one source dominates (the 90%-one-domain crawl), the same call
    dispatches to with_group_rank — global range rank minus a broadcast
    per-group minimum — so no single task ever sorts a data-sized group.
    The gate is one O(|sources|) probe aggregation; equality of the two
    paths above/below the gate is pinned by the planted-skew test in
    tests/test_text_ops.py.
    """
    d = _spread(
        _t(spark, sf_dir, "documents").select("doc_id", "source", "text"), "doc_id"
    )
    weight = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    u = (knuth_shuffle_key(F.col("doc_id")) + F.lit(1)) / F.lit(_M32_D)
    keyed = d.select(
        "doc_id",
        "source",
        weight.alias("weight"),
        (F.log(u) / weight).alias("es_key"),
    )
    ranked = grouped_row_number(
        keyed, ["source"], [F.desc("es_key"), F.col("doc_id")], out_col="rn"
    )
    return (
        ranked.where(F.col("rn") <= k)
        .select("source", "doc_id", "weight")
    )

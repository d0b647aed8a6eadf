"""Corpus search primitives: inverted-index posting lists, TF-IDF and
BM25 keyword scoring (engine additions; the reference has no search
surface at all — these are the query-side complement of the vocab/IDF
statistics the catalog already computes, and the operators a
corpus-exploration UI runs against a 100 TB crawl).

All carry full DuckDB oracles. Cross-engine discipline: IDF is quantized
to integer micro-nats INSIDE the per-token dim (|vocab| rows), per-term
scores are quantized to BIGINT before the order-independent sum — the
same trick as unigram_perplexity. Posting lists are sorted, capped, and
emitted through array_join (the house rule for array outputs).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..session import scoped
from .catalog import _spread, _t, register

_POSTINGS_CAP = 20

_POSTINGS_ORACLE = rf"""
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      FROM documents
    )
    SELECT token,
           CAST(count(*) AS BIGINT) AS df,
           array_to_string(
             list_transform((list(doc_id ORDER BY doc_id))[1:{_POSTINGS_CAP}],
                            x -> CAST(x AS VARCHAR)), ',') AS postings
    FROM toks GROUP BY token
"""


@register("token_postings", _POSTINGS_ORACLE)
def token_postings(spark, sf_dir, cap: int = _POSTINGS_CAP):
    """Inverted-index posting lists: per token, document frequency and the
    first ``cap`` doc_ids (sorted). The cap bounds the output row width —
    a stop-word's full posting list at corpus scale IS the corpus, and an
    uncapped collect_list on it is the classic inverted-index hot-key
    blow-up (same hazard class as the LSH band buckets; real indexes
    shard or skip-list exactly these). df stays exact either way.
    Postings are emitted through array_join (house rule for array outputs,
    matching json_key_set_ops) so cross-engine value hashing sees a scalar
    string, never a naked array cell.

    Plan shape: explode -> per (doc, token) dedup rides the SAME shuffle
    as the token aggregation (partial-aggregate distinct), one shuffle
    total on token; sort_array + slice are per-row codegen.
    """
    d = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token"),
    ).distinct()
    return toks.groupBy("token").agg(
        F.count("*").alias("df"),
        F.array_join(
            F.slice(F.sort_array(F.collect_list("doc_id")), 1, cap).cast(
                "array<string>"
            ),
            ",",
        ).alias("postings"),
    )


# fixed demo query — three mid-frequency corpus terms (the oracle embeds
# the same list; parameterized callers build the same plan with their own)
_QUERY_TOKENS = ["spark", "window", "merge"]

_TFIDF_ORACLE = rf"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      FROM documents
    ),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM toks
      WHERE token IN ('spark', 'window', 'merge')
      GROUP BY doc_id, token
    ),
    idf AS (
      SELECT token,
             CAST(round(ln(CAST((SELECT count(*) FROM documents) AS DOUBLE)
                           / count(DISTINCT doc_id)) * 1000000.0, 0) AS BIGINT)
               AS idf_micro
      FROM toks WHERE token IN ('spark', 'window', 'merge') GROUP BY token
    )
    SELECT t.doc_id,
           CAST(sum(t.tf * i.idf_micro) AS BIGINT) AS score_micro,
           CAST(count(*) AS BIGINT) AS n_terms
    FROM tf t JOIN idf i USING (token)
    GROUP BY t.doc_id
    ORDER BY score_micro DESC, doc_id
    LIMIT 20
"""


@register("tfidf_search", _TFIDF_ORACLE)
def tfidf_search(spark, sf_dir, query: list[str] | None = None, k: int = 20):
    """TF-IDF keyword search: top-k documents for a fixed token set, score
    = sum over matched terms of tf(term, doc) x idf_micro(term). IDF uses
    ln(N/df) quantized inside the per-token dim; scores are exact BIGINT.

    Plan shape: the WHERE isin(query) prunes the explode to query terms
    BEFORE any shuffle (the scan + filter stage emits only matching
    occurrences — at 100 TB this is the difference between shuffling the
    corpus and shuffling the hits); the idf dim is |query| rows, broadcast;
    top-k is a global TakeOrdered with (score DESC, doc_id) tie-break, no
    full sort.
    """
    q = query or _QUERY_TOKENS
    d = _t(spark, sf_dir, "documents")
    # N as a broadcast 1-row scalar subquery — no separate driver count()
    # action; the whole search is one job
    n_docs = d.agg(F.count("*").cast("double").alias("n_docs"))
    sd = _spread(d.select("doc_id", "text"), "doc_id")
    hits = sd.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token"),
    ).where(F.col("token").isin(q))
    # tf (the query-pruned postings) is PERSISTED so its two consumers —
    # the |query|-row df census and the scoring pass — read the cache and
    # the corpus is still scanned exactly once (AQE does not reuse the
    # branch).  r07: df was a count(*) window PARTITION BY token over tf,
    # which funnels every hit row through at most |query| tasks — the
    # straggler shape for a common query term at scale; the census +
    # broadcast join keeps the df exchange at |query| x mappers rows.
    tf = scoped(hits.groupBy("doc_id", "token").agg(F.count("*").alias("tf")))
    dfdim = tf.groupBy("token").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(dfdim), "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "idf_micro",
            F.round(F.log(F.col("n_docs") / F.col("df")) * 1000000.0, 0).cast(
                "long"
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * F.col("idf_micro")).alias("score_micro"),
            F.count("*").alias("n_terms"),
        )
        .orderBy(F.desc("score_micro"), "doc_id")
        .limit(k)
    )


# BM25 constants (Robertson k1/b defaults; Lucene's +1-inside-ln idf form
# so idf stays positive even for df > N/2)
_BM25_K1 = 1.2
_BM25_B = 0.75

_BM25_ORACLE = rf"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS a
      FROM documents
    ),
    stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(sum(len(a)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
      FROM toks
    ),
    hits AS (SELECT doc_id, len(a) AS dl, unnest(a) AS token FROM toks),
    tf AS (
      SELECT doc_id, dl, token, CAST(count(*) AS BIGINT) AS tf
      FROM hits WHERE token IN ('spark', 'window', 'merge')
      GROUP BY doc_id, dl, token
    ),
    dfx AS (SELECT *, count(*) OVER (PARTITION BY token) AS df FROM tf),
    scored AS (
      SELECT doc_id,
             CAST(round(
               CAST(round(ln((s.n_docs - df + 0.5) / (df + 0.5) + 1)
                          * 1000000.0, 0) AS BIGINT)
               * (tf * {_BM25_K1 + 1}) /
               (tf + {_BM25_K1} * ({1 - _BM25_B} + {_BM25_B} * (dl / s.avgdl))),
               0) AS BIGINT) AS term_score
      FROM dfx, stats s
    )
    SELECT doc_id,
           CAST(sum(term_score) AS BIGINT) AS score_micro,
           CAST(count(*) AS BIGINT) AS n_terms
    FROM scored GROUP BY doc_id
    ORDER BY score_micro DESC, doc_id
    LIMIT 20
"""


@register("bm25_search", _BM25_ORACLE)
def bm25_search(spark, sf_dir, query: list[str] | None = None, k: int = 20):
    """BM25 keyword search (Robertson/Sparck Jones; the Lucene idf variant
    ln((N-df+0.5)/(df+0.5)+1) so idf > 0 always): per matched term,
    idf x tf(k1+1) / (tf + k1(1-b+b·dl/avgdl)), summed per document. The
    production ranking function a corpus-exploration UI runs where TF-IDF
    is the baseline — length normalization (b) is what keeps boilerplate-
    padded pages from outranking short relevant ones at crawl scale.

    Cross-engine float discipline: idf is quantized to integer micro-nats
    inside the per-token dim; the per-term score is ONE double expression
    over exact ints (tf, dl, df) and two broadcast scalars (n_docs, avgdl
    — both exact-int divisions), identical expression tree on both
    engines, then quantized per (doc, term) and summed as BIGINT — the
    order-independent trick shared with tfidf_search/unigram_perplexity.

    Plan shape (same as tfidf_search): doc length dl rides the hits rows
    out of the SAME scan as the explode (no join back to documents); the
    isin(query) filter prunes before the (doc, token) shuffle; df comes
    from a |query|-row census of the persisted tf postings broadcast back
    (r07: was a PARTITION BY token window — a ≤|query|-task funnel of
    every hit row at scale); (n_docs, avgdl) is a broadcast 1-row dim;
    top-k is a TakeOrdered, no full sort.
    """
    q = query or _QUERY_TOKENS
    d = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    stats = d.agg(
        F.count("*").cast("double").alias("n_docs"),
        (
            F.sum(F.size(toks)).cast("double") / F.count("*").cast("double")
        ).alias("avgdl"),
    )
    hits = d.select(
        "doc_id", F.size(toks).alias("dl"), F.explode(toks).alias("token")
    ).where(F.col("token").isin(q))
    tf = scoped(hits.groupBy("doc_id", "dl", "token").agg(F.count("*").alias("tf")))
    dfdim = tf.groupBy("token").agg(F.count("*").alias("df"))
    dfx = tf.join(F.broadcast(dfdim), "token").crossJoin(F.broadcast(stats))
    idf_micro = F.round(
        F.log(
            (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
            + F.lit(1)
        )
        * 1000000.0,
        0,
    ).cast("long")
    denom = F.col("tf") + F.lit(_BM25_K1) * (
        F.lit(1 - _BM25_B) + F.lit(_BM25_B) * (F.col("dl") / F.col("avgdl"))
    )
    term_score = F.round(
        idf_micro * (F.col("tf") * F.lit(_BM25_K1 + 1)) / denom, 0
    ).cast("long")
    return (
        dfx.select("doc_id", term_score.alias("term_score"))
        .groupBy("doc_id")
        .agg(
            F.sum("term_score").alias("score_micro"),
            F.count("*").alias("n_terms"),
        )
        .orderBy(F.desc("score_micro"), "doc_id")
        .limit(k)
    )

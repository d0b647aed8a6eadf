"""Corpus-from-crawl: the full reference lifecycle as ONE composed lineage.

The reference runs crawl_articles.py -> data_ops step_01→06 -> the
training-prep feeding finetune_model.py as separate scripts with disk
round-trips between them. Here the same lifecycle is one function over a
crawl catalog:

    crawl rounds (crawl/rounds.py, append-only pages snapshots)
      -> current web copy (latest fetch per url — TTL recrawls append,
         so readers reduce to max-fetch_round per url; live_pages logic)
      -> step_02→06 preprocess (plans/pipeline.py — split assignment,
         stable positions, token-stats anti-join filter, shrink; the
         crawl already ran the step_03 clean_html extraction as its
         fetch-stage Arrow UDF, so text_precleaned=True)
      -> training prep (plans/training.py — composite Gopher+repetition+
         C4 gate, exact + near-dup dedup, deterministic shuffle, token
         budget packing)

Composition is where join/schema bugs hide: the sequential-oracle
equality test for this exact path is tests/test_pipeline.py::
test_corpus_from_crawl_matches_sequential_oracle, and bench.py reports
its docs/sec as the corpus_prep leg.

Scale shape: every stage is the already-audited distributed plan; the
composition adds ONE shuffle (re-spreading the step-06 output by doc_id —
the per-split position window leaves <= 3 partitions, a funnel the gate's
four scans must not inherit) and TWO materializations: the persisted
``docs`` frame (scanned four times by the composite gate) and
prepare_training_data's internal gate+dedup stage (documented there). Incremental extension: pass ``since_snapshot`` to consume only
pages appended after a snapshot (sources/tables.py
read_table_incremental — CDC over the append-only chain), the
incremental-corpus shape a daily 100 TB refresh runs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_long
from ..session import scoped
from .pipeline import PreprocessParams, PreprocessResult, preprocess_pages
from .training import TrainingPrepParams, prepare_training_data


@dataclass
class CorpusResult:
    """``docs`` is persisted (MEMORY_AND_DISK) and already materialized —
    the composite gate re-scans it four times, and without the cache each
    scan would replay the whole crawl-read -> window lineage."""

    pre: PreprocessResult  # the step_02→06 stages (cleaned/stats/final)
    docs: DataFrame  # (doc_id, text) fed to training prep (persisted)
    training: DataFrame  # packed training batches (plans/training.py)


def current_pages(pages: DataFrame) -> DataFrame:
    """Latest fetch per url over an append-only pages frame (live_pages
    semantics, usable over either a full read or a CDC increment)."""
    w = Window.partitionBy("url").orderBy(F.desc("fetch_round"))
    return (
        pages.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def corpus_from_crawl(
    catalog,
    preprocess: PreprocessParams = PreprocessParams(),
    training: TrainingPrepParams = TrainingPrepParams(gate="composite"),
    since_snapshot: int | None = None,
) -> CorpusResult:
    """Crawl catalog -> packed training corpus, one lineage.

    doc_id = md5_long(url): deterministic across runs/partitionings (the
    dedup keeper and shuffle order must not depend on scan order), 60-bit
    so collision odds are ~n²/2^61 — negligible below ~10^8 docs per
    corpus version, and a collision only merges two docs in dedup.
    """
    pages = (
        catalog.read_table_incremental("pages", since_snapshot)
        if since_snapshot is not None
        else catalog.read_table("pages")
    )
    cur = current_pages(pages).select("url", "publisher", "text")
    pre = preprocess_pages(cur, preprocess, text_precleaned=True)
    # pre.final's stable-position window partitions by SPLIT — three
    # values — so its output lives in <= 3 partitions (the reference's
    # per-split position semantics; fine for the step files, a funnel for
    # everything downstream). Re-spread by doc_id BEFORE the gate, and
    # persist: the composite gate re-scans `docs` four times, and an
    # uncached scan would replay crawl-read -> window each time. Measured
    # on the bench leg: without this the whole gate ran as 3 single
    # tasks — the exact one-task funnel the r05 verdict flagged for
    # window-per-group plans.
    spark = pre.final.sparkSession
    docs = scoped(
        pre.final.select(md5_long(F.col("url")).alias("doc_id"), "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    docs.count()  # materialize once
    packed = prepare_training_data(docs, training)
    return CorpusResult(pre=pre, docs=docs, training=packed)

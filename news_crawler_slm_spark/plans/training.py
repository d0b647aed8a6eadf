"""Composed training-data preparation pipeline.

The catalog exposes each training-data operator as a standalone oracle-
checked query; this module composes them the way a real corpus job runs
them, as one plan:

    quality gate → exact dedup → near-dup dedup → [chunk] → shuffle → pack

(the chunk stage is opt-in via ``chunk_tokens``: survivors are re-cut
into overlapping context windows — the ``doc_token_chunks`` shape,
map-only — and the shuffle/pack unit becomes the chunk, keyed on
``knuth(md5_long(doc_id:chunk_id))``)

- quality gate: either the streaming-shared Column heuristics
  (streaming/quality.py, gate="heuristic" — zero-shuffle, the stream
  path's filter) or the PRODUCTION composite gate (gate="composite":
  Gopher word stats + repetition family + C4 line rules via
  catalog_quality.composite_quality_gate_of — 4 scans + 3 shuffles, the
  documented cost of the real FineWeb/Dolma-style gate; survivors carry
  the heuristic metric columns either way so packing sees n_tokens).
- exact dedup: min doc_id per md5(text) content group (catalog
  `exact_dedup` semantics), via a min_by aggregate over the hash — one
  shuffle.
- near-dup dedup: sketch → capped bucket join → connected components →
  keep the min-doc_id representative per component (catalog
  `neardup_clusters`/`neardup_survivors_count` semantics, via the shared
  catalog_dedup.neardup_components core).  The component loop is the one
  non-lazy stage (iterative label propagation, a control loop of bounded
  jobs); everything else stays one lazy plan.
- shuffle: Knuth multiplicative-hash bijection (functions/hashing —
  overflow-safe for all 64-bit doc_ids), so epoch order is deterministic
  and unique.
- packing: exclusive prefix sum of token counts in shuffle order through
  operators/prefix_sum (bucket-parallel, no SinglePartition exchange),
  batch_id = floor(cum/budget).  The gate→dedup lineage is persisted
  around the prefix sum's three passes (bounds, bucket totals, final
  window) so the expensive upstream executes once, not three times.

Sequential-oracle equivalence is pinned in tests/test_pipeline.py.
Reference analog: the single-process dataset pipeline feeding
finetune_model.py (cited for scope; there is no distributed equivalent).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import knuth_shuffle_key
from ..operators.prefix_sum import running_sum_by_key
from ..session import scoped
from ..streaming.quality import quality_gate


@dataclass(frozen=True)
class TrainingPrepParams:
    min_tokens: int = 5
    max_punct_ratio: float = 0.3
    token_budget: int = 512
    neardup: bool = True
    # "heuristic": the streaming-shared Column gate (length/punct ratios);
    # "composite": the production Gopher+repetition+C4 gate
    # (catalog_quality.composite_quality_gate_of) — the r04-built gate the
    # flagship pipeline should actually run. Survivors still carry
    # n_tokens (attached after the gate) for the packing stage.
    gate: str = "heuristic"
    # context-window chunking between dedup and shuffle (the
    # doc_token_chunks stage): surviving documents are split into
    # overlapping chunk_tokens-sized windows at chunk_stride (default =
    # chunk_tokens, i.e. non-overlapping), and the shuffle/pack unit
    # becomes the CHUNK — rows gain a chunk_id and shuffle_key derives
    # from md5_long(doc_id:chunk_id) so chunk order is deterministic and
    # decorrelated from document order. None = pack whole documents.
    chunk_tokens: int | None = None
    chunk_stride: int | None = None


def prepare_training_data(docs: DataFrame, params: TrainingPrepParams) -> DataFrame:
    """docs needs (doc_id, text). Returns one row per surviving document:
    (doc_id, text, n_tokens, shuffle_key, cum_before, batch_id), where
    batch_id groups documents into ``token_budget``-sized training batches
    in deterministic shuffled order.

    The plan reads an internal persisted stage (``session.scoped``): consume
    it inside a ``cache_scope()`` to release that cache on exit."""
    from .catalog_dedup import neardup_components

    if params.gate == "composite":
        from ..streaming.quality import quality_columns
        from .catalog_quality import composite_quality_gate_of

        # the production gate: keep-bit per doc_id, then a semi-join prune.
        # The gate legs re-scan `docs` (4 scans, 3 shuffles — the
        # composite's documented cost); at corpus scale the gate output is
        # materialized once per corpus version, so callers running the
        # pipeline repeatedly should persist `docs` first.
        keep = composite_quality_gate_of(docs).where(F.col("keep")).select("doc_id")
        survivors = docs.join(keep, "doc_id", "left_semi")
        cols = quality_columns(F.col("text"))
        gated = survivors.select(
            "*", *(c.alias(name) for name, c in cols.items())
        )
    elif params.gate == "heuristic":
        gated = quality_gate(
            docs,
            min_tokens=params.min_tokens,
            max_punct_ratio=params.max_punct_ratio,
        )
    else:  # pragma: no cover - guarded upstream
        raise ValueError(f"unknown gate {params.gate!r}")

    # exact dedup keeper = min doc_id per content hash, as an AGGREGATE
    # carrying the whole row (r07: was a row_number window PARTITION BY
    # __h — a mass-duplicated page is a hot hash, and a window partition
    # cannot be split, while min_by partial-aggregates map-side so the
    # hash-keyed exchange ships ONE surviving row per (hash, mapper)
    # instead of every duplicate's full text).  doc_id is unique, so
    # min_by picks the window's (doc_id ASC) keeper exactly, and only
    # doc_id needs an ordering — a caller's map column rides along.
    deduped = (
        gated.groupBy(F.md5("text").alias("__h"))
        .agg(F.min_by(F.struct(*gated.columns), "doc_id").alias("r"))
        .select("r.*")
    )

    exact_deduped = None
    if params.neardup:
        # the gate+exact-dedup lineage feeds BOTH the component edge build
        # (eager, inside the propagation loop) and the downstream keyed
        # plan — persist it so the expensive upstream materializes once
        exact_deduped = scoped(deduped)
        # keeper = the doc that IS its component label (min doc_id per
        # component) — a broadcast-free semi join on doc_id
        comp = neardup_components(exact_deduped.select("doc_id", "text"))
        keep = comp.where(F.col("doc_id") == F.col("component")).select("doc_id")
        deduped = exact_deduped.join(keep, "doc_id", "left_semi")

    id_cols = ["doc_id"]
    if params.chunk_tokens:
        from ..functions.hashing import md5_long

        C = params.chunk_tokens
        S = params.chunk_stride or C
        if S < 1 or C < 1:
            raise ValueError(
                f"bad chunking: chunk_tokens={C} chunk_stride={S}"
            )
        tk = F.split(F.trim(F.col("text")), r"\s+")
        # map-only re-sequencing (the doc_token_chunks shape): zero
        # exchanges added here — the chunk rows flow straight into the
        # shuffle-key projection and the prefix-sum pack
        deduped = (
            deduped.select(
                "doc_id",
                tk.alias("__tk"),
                F.explode(
                    F.sequence(F.lit(1), F.size(tk), F.lit(S))
                ).alias("__start"),
            )
            .select(
                "doc_id",
                ((F.col("__start") - 1) / F.lit(S)).cast("long").alias("chunk_id"),
                F.array_join(
                    F.slice(F.col("__tk"), F.col("__start"), F.lit(C)), " "
                ).alias("text"),
                F.least(F.lit(C), F.size("__tk") - F.col("__start") + 1)
                .cast("long")
                .alias("n_tokens"),
            )
        )
        id_cols = ["doc_id", "chunk_id"]
        shuffle_src = md5_long(
            F.concat_ws(":", F.col("doc_id"), F.col("chunk_id"))
        )
    else:
        shuffle_src = F.col("doc_id")
    keyed = deduped.withColumn("shuffle_key", knuth_shuffle_key(shuffle_src))
    # the prefix sum traverses its input three times (bounds agg, bucket
    # totals, final window); persist so the dedup join runs once — the two
    # control aggregations then read the materialized partitions
    keyed = scoped(keyed)
    packed = running_sum_by_key(keyed, key="shuffle_key", weight="n_tokens")
    # running_sum_by_key's control aggregations materialized `keyed`, so
    # the upstream cache can go now; `keyed` itself stays persisted (the
    # returned plan's final window reads it) until the scope exits
    if exact_deduped is not None:
        exact_deduped.unpersist()
    result = packed.select(
        *id_cols,
        "text",
        "n_tokens",
        "shuffle_key",
        "cum_before",
        F.floor(F.col("cum_before") / F.lit(float(params.token_budget)))
        .cast("long")
        .alias("batch_id"),
    )
    return result

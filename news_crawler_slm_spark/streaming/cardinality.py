"""Streaming distinct-cardinality: a HyperLogLog register table maintained
exactly-once across micro-batches — "how many DISTINCT URLs/tokens has
this stream ever seen" as O(2^p) state, updated per batch, queryable at
any time, without ever shuffling or storing the key universe.

Why this shape: an exact streaming countDistinct needs unbounded state
(every key ever seen); dropDuplicates + watermark bounds state by TIME,
not by keys, and forgets. HLL registers are the textbook answer — and
because register merge is a per-register ``max`` (commutative,
idempotent, associative), the same sketch algebra serves batch shards,
crawl rounds, and stream micro-batches interchangeably. This module is
the END-TO-END proof of the mergeability claim in operators/hll.py: per
batch, sketch ONLY the new rows (``hll_registers``), then fold into the
persisted register table by per-register max.

Exactly-once is the shared key-ledger protocol of streaming/catalog_sink.py.
Max-merge is idempotent, so here the ledger only spares a replay its
commit; re-folding replayed rows would leave the registers unchanged.

Stream ≡ batch equivalence is pinned in tests/test_streaming.py: running
the files through this sink yields the IDENTICAL register table (and so
the identical estimate) as one batch ``hll_registers`` over the union.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.hll import DEFAULT_P, hll_registers
from ..sources.tables import SnapshotCatalog
from .catalog_sink import exactly_once_stream, merged_with

REGISTER_TABLE = "hll_registers"


def hll_fold(col: str, p: int = DEFAULT_P):
    """Fold of the register sink: sketch only the new rows, then max-merge
    them into the persisted register table (an m-row-max rewrite)."""

    def fold(cat: SnapshotCatalog, rows: DataFrame):
        delta = hll_registers(rows, col, p)
        merged = merged_with(
            cat, REGISTER_TABLE, delta, ["register"], F.max("rank").alias("rank")
        )
        return {REGISTER_TABLE: merged}, {}

    return fold


def stream_hll_registers(
    stream: DataFrame,
    catalog_root: str,
    checkpoint_dir: str,
    col: str,
    p: int = DEFAULT_P,
):
    """Start an availableNow stream folding each micro-batch's values of
    ``col`` into the persisted HLL register table at ``catalog_root``.
    Returns the StreamingQuery (caller awaits termination). Query the
    current estimate any time with :func:`current_estimate`.

    Scale shape per batch: one scan of the batch, one (register)-keyed
    shuffle bounded by m = 2^p rows, a max-merge against an m-row-max
    stored table, one m-row rewrite commit. Nothing is ever proportional
    to the number of distinct keys.
    """
    return exactly_once_stream(
        stream, catalog_root, REGISTER_TABLE, checkpoint_dir, hll_fold(col, p)
    )


def current_estimate(spark, catalog_root: str, p: int = DEFAULT_P) -> float:
    """Cardinality estimate from the persisted register table as of the
    newest committed snapshot (O(2^p) driver state, same estimator as
    operators/hll.py)."""
    from ..operators.hll import hll_estimate

    cat = SnapshotCatalog(spark, catalog_root)
    return hll_estimate(cat.read_table(REGISTER_TABLE), p)

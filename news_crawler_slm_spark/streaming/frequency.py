"""Streaming approximate frequency: a count-min cell table maintained
exactly-once across micro-batches — "roughly how often has this stream
ever seen each token/host/url" as O(depth·width) state, updated per
batch, queryable at any time, without ever shuffling or storing the key
universe (operators/cms.py is the batch algebra; this module is its
stream-side end-to-end proof, the frequency sibling of
streaming/cardinality.py).

Exactly-once matters more here than for the HLL sink: CMS merge is
cell-wise ADDITION, which is commutative and associative but NOT
idempotent, so re-folding a replayed batch would double-count where the
HLL's max-merge shrugs it off. The shared key-ledger protocol of
streaming/catalog_sink.py (ledger ``cms_cells_folded``) folds each input
file, or each non-file batch's content, exactly once.

Stream ≡ batch equivalence is pinned in tests/test_streaming.py: the
folded cell table is IDENTICAL to one batch ``cms_table`` over the union
of all input files, and estimates are overcounts-only vs exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.cms import DEFAULT_DEPTH, DEFAULT_WIDTH, cms_lookup, cms_table
from ..sources.tables import SnapshotCatalog
from .catalog_sink import exactly_once_stream, merged_with

CELLS_TABLE = "cms_cells"


def cms_fold(col: str, depth: int = DEFAULT_DEPTH, width: int = DEFAULT_WIDTH):
    """Fold of the cell sink: sketch only the new rows, then sum-merge them
    into the persisted cell table (a depth·width-bounded rewrite)."""

    def fold(cat: SnapshotCatalog, rows: DataFrame):
        delta = cms_table(rows, col, depth, width)
        merged = merged_with(
            cat, CELLS_TABLE, delta, ["row", "col"], F.sum("cnt").alias("cnt")
        )
        return {CELLS_TABLE: merged}, {}

    return fold


def stream_cms_cells(
    stream: DataFrame,
    catalog_root: str,
    checkpoint_dir: str,
    col: str,
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
):
    """Start an availableNow stream folding each micro-batch's values of
    ``col`` into the persisted CMS cell table at ``catalog_root``.
    Returns the StreamingQuery (caller awaits termination). Query current
    estimates any time with :func:`current_counts`.

    Scale shape per batch: one scan of the batch's NEW files, one
    (row, col)-keyed shuffle bounded by depth·width cells, a cell-sum
    merge against a depth·width-max stored table, one bounded rewrite
    commit. Nothing is ever proportional to the number of distinct keys.
    """
    return exactly_once_stream(
        stream, catalog_root, CELLS_TABLE, checkpoint_dir, cms_fold(col, depth, width)
    )


def current_counts(
    spark,
    catalog_root: str,
    items: DataFrame,
    col: str,
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> DataFrame:
    """Count-min estimates for ``items[col]`` from the persisted cell
    table as of the newest committed snapshot (broadcast-items probe,
    same estimator as operators/cms.py — overestimate-only)."""
    cat = SnapshotCatalog(spark, catalog_root)
    return cms_lookup(cat.read_table(CELLS_TABLE), items, col, depth, width)

"""Exactly-once streaming writes INTO the snapshot catalog — the bridge
between the engine's two halves: Structured Streaming upstream, the
Iceberg-ish SnapshotCatalog downstream — and the one exactly-once protocol
every streaming sink in the package uses (this module's
``stream_to_catalog`` appends rows; ``cardinality.py`` max-merges HLL
registers; ``frequency.py`` sum-merges CMS cells).

The file source replays at-least-once: a crash between the sink's commit
and the checkpoint write re-delivers the last batch, and a replaced
checkpoint re-batches every file from batch 0. The sink makes that
exactly-once with a per-sink KEY LEDGER, the table ``<table>_folded`` in
the same catalog, committed in the same atomic snapshot as the data. Per
micro-batch (:func:`exactly_once_batch`):

1. One identity job: ``groupBy(input_file_name())`` gives each input
   file's row count and an order-free content fingerprint, the sum of
   ``xxhash64`` over all columns as ``decimal(38,0)`` (a long sum can
   overflow, which raises under ANSI).
2. Keys: the batch's file paths when every row has one; otherwise (rate,
   socket, memory sources) the single key ``batch:<id>:<rows>:<fp>``.
3. Ledger check: keys anti-joined against the ledger. No new key -> return
   without committing (a replay). Some new files -> only their rows fold,
   so a replaced checkpoint with fresh files neither loses the fresh rows
   nor re-folds the old ones.
4. Fold: the sink builds the tables to write from the new rows.
5. Commit under ``next_snapshot_id(floor=STREAM_ID_BASE)``, with the new
   keys appended to the ledger in the same snapshot. Commit and ledger
   land together or not at all; a manifest orphaned by a crash before the
   CURRENT swap is never reachable, its id never reused, and its keys are
   absent from the ledger, so the batch simply folds again.

Dedup never depends on the snapshot id, and the ledger is the whole
history: a non-file replay however old is still caught. The ledger is
metadata-scale (one row per input file or non-file batch) and each commit
appends only its delta. Should it outgrow a broadcast anti-join, a
sliding-window learned cuckoo filter (PAPERS.md) is the scale path.

Stream ids start above STREAM_ID_BASE, clear of crawl rounds (contiguous
low ids) and compaction snapshots (COMPACTION_ID_BASE range).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.tables import SnapshotCatalog

STREAM_ID_BASE = 2_000_000_000

# fold(catalog, new_rows) -> (full-rewrite tables, append tables)
Fold = Callable[
    [SnapshotCatalog, DataFrame], tuple[dict[str, DataFrame], dict[str, DataFrame]]
]


def _keys(spark, keys: list[str]) -> DataFrame:
    # built on the JVM: a createDataFrame frame is a Python RDD, and each
    # job over it waits on Python workers (about 2 s a job against 0.2-0.4 s
    # on a 4-core local[8] session)
    arr = F.array(*[F.lit(k) for k in keys]).cast("array<string>")
    return spark.range(1).select(F.explode(arr).alias("key"))


def exactly_once_batch(
    catalog_root: str, table: str, fold: Fold, output_partitions: int | None = 1
) -> Callable[[DataFrame, int], None]:
    """The ``foreachBatch`` function of the protocol in the module doc:
    fold each micro-batch's not-yet-folded rows into the catalog at
    ``catalog_root``, keyed in the ledger ``<table>_folded``."""
    ledger = f"{table}_folded"

    def run(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cat = SnapshotCatalog(spark, catalog_root)
        fp = F.xxhash64(*[batch_df[c] for c in batch_df.columns])
        ident = (
            batch_df.groupBy(F.input_file_name().alias("file"))
            .agg(
                F.count("*").alias("n"),
                F.sum(fp.cast("decimal(38,0)")).alias("fp"),
            )
            .collect()
        )  # O(#batch files) driver rows
        rows = {r["file"]: r["n"] for r in ident}  # key -> row count
        if not all(rows):  # no file identity: key the batch by its content
            n, fp_sum = sum(rows.values()), sum(r["fp"] for r in ident)
            rows = {f"batch:{batch_id}:{n}:{fp_sum}": n}
        keys = sorted(rows)
        try:
            folded = cat.read_table(ledger)
        except (KeyError, FileNotFoundError):  # first batch: no ledger yet
            new = keys
        else:
            new = sorted(
                r["key"]
                for r in _keys(spark, keys)
                .join(F.broadcast(folded), "key", "left_anti")
                .collect()
            )
        if not new:
            return  # replay: every key already folded
        new_rows = (
            batch_df
            if len(new) == len(keys)
            else batch_df.where(F.input_file_name().isin(new))
        )
        tables, appends = fold(cat, new_rows)
        cat.commit(
            cat.next_snapshot_id(floor=STREAM_ID_BASE),
            tables=tables,
            appends={**appends, ledger: _keys(spark, new)},
            counters={
                "stream_batch": batch_id,
                "stream_rows": sum(rows[k] for k in new),
            },
            output_partitions=output_partitions,
        )

    return run


def exactly_once_stream(
    stream: DataFrame,
    catalog_root: str,
    table: str,
    checkpoint_dir: str,
    fold: Fold,
    output_partitions: int | None = 1,
):
    """Start an availableNow stream running :func:`exactly_once_batch` on
    each micro-batch. Returns the StreamingQuery (caller awaits
    termination)."""
    return (
        stream.writeStream.foreachBatch(
            exactly_once_batch(catalog_root, table, fold, output_partitions)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def merged_with(
    cat: SnapshotCatalog, table: str, delta: DataFrame, by: list[str], agg: Column
) -> DataFrame:
    """``delta`` merged into the current ``table`` by ``agg`` per ``by``
    key (``delta`` alone before the table's first commit) — the fold of a
    mergeable sketch."""
    try:
        prev = cat.read_table(table)
    except (KeyError, FileNotFoundError):
        return delta
    return prev.unionByName(delta).groupBy(*by).agg(agg)


def stream_to_catalog(
    stream: DataFrame,
    catalog_root: str,
    table: str,
    checkpoint_dir: str,
    output_partitions: int | None = 1,
):
    """Start an availableNow stream appending each micro-batch's new rows
    to ``table`` in the catalog at ``catalog_root``, exactly once. Returns
    the StreamingQuery (caller awaits termination)."""
    return exactly_once_stream(
        stream,
        catalog_root,
        table,
        checkpoint_dir,
        lambda _cat, rows: ({}, {table: rows}),
        output_partitions,
    )

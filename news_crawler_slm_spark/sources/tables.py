"""Icebergish snapshot layer — Parquet data + JSON manifests.

No Iceberg/Delta jars exist in this sandbox (verified; no network), so the
engine ships a thin snapshot layer with an Iceberg-shaped API: atomic
snapshot commits, parent lineage, user counters, time-travel reads by
snapshot id. Swappable for real Iceberg on a cluster —
callers only touch :class:`SnapshotCatalog`.

Reference analog: ``finished_publishers.txt`` + per-publisher files
(/root/reference/data_extraction/crawl_articles.py:30, 61-66, 73-79, 116-118)
— resume granularity there is a whole publisher, and a partially-crawled
publisher file is *truncated* on rerun ("w" mode, :79). Here a snapshot
commits atomically (all tables of a round or none), so resume is exact
(north rule: "resumable from checkpoint with per-partition lineage +
metrics").

Commit protocol (rename-as-atomic, single-writer — the crawl driver):
  1. write each table's parquet under  <root>/data/<table>/snap-<id>/
  2. write manifest to a temp file, fsync
  3. os.replace() it to <root>/manifests/snap-<id>.json     (atomic)
  4. os.replace() a CURRENT pointer file                    (atomic)
A crash between steps leaves at worst orphaned data dirs, never a corrupt
catalog; resume reads CURRENT.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

# Maintenance commits (compaction) take ids at/above this floor so they can
# never collide with crawl-round snapshot ids (rounds are contiguous from 1).
COMPACTION_ID_BASE = 1_000_000_000

# Table writes after a commit's ``serial_first`` set run as up to this many
# concurrent Spark jobs (SnapshotCatalog.commit).
COMMIT_PARALLELISM = 2


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    tables: dict[str, list[str]]  # table name -> ordered list of data paths
    counters: dict[str, Any] = field(default_factory=dict)
    schemas: dict[str, str] = field(default_factory=dict)  # table -> schema json

    def to_json(self) -> str:
        return json.dumps(
            {
                "snapshot_id": self.snapshot_id,
                "parent_id": self.parent_id,
                "tables": self.tables,
                "counters": self.counters,
                "schemas": self.schemas,
            },
            sort_keys=True,
        )

    @staticmethod
    def from_json(s: str) -> "Snapshot":
        d = json.loads(s)
        tables = {
            t: (p if isinstance(p, list) else [p]) for t, p in d["tables"].items()
        }
        return Snapshot(
            snapshot_id=d["snapshot_id"],
            parent_id=d["parent_id"],
            tables=tables,
            counters=d.get("counters", {}),
            schemas=d.get("schemas", {}),
        )


class SnapshotCatalog:
    """A directory of snapshots over a set of named tables."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # ------------------------------------------------------------- reads
    def _current_path(self) -> str:
        return os.path.join(self.root, "CURRENT")

    def current_snapshot_id(self) -> int | None:
        try:
            with open(self._current_path(), "r", encoding="utf-8") as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def snapshot(self, snapshot_id: int | None = None) -> Snapshot | None:
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if sid is None:
            return None
        path = os.path.join(self.root, "manifests", f"snap-{sid}.json")
        with open(path, "r", encoding="utf-8") as f:
            return Snapshot.from_json(f.read())

    def read_table(self, table: str, snapshot_id: int | None = None) -> DataFrame:
        """Time-travel read: table contents at a given (default: current)
        snapshot. Append-chain tables resolve to a multi-path parquet scan
        (Iceberg-manifest style — history is never rewritten)."""
        snap = self.snapshot(snapshot_id)
        if snap is None or table not in snap.tables:
            raise KeyError(f"table {table!r} not present in snapshot {snapshot_id}")
        paths = snap.tables[table]

        def _read(p: str):
            # manifest-recorded schema: no inference jobs, and empty
            # (partitioned) snapshots read back as a typed empty relation
            schema_json = snap.schemas.get(table)
            reader = self.spark.read
            if schema_json is not None:
                from pyspark.sql.types import StructType

                reader = reader.schema(StructType.fromJson(json.loads(schema_json)))
            return reader.parquet(p)

        if len(paths) == 1:
            return _read(paths[0])
        # append-chain: each delta dir is its own partition-discovery root
        # (hive-partitioned deltas under different snap dirs cannot share
        # one multi-path read), unioned by name — Iceberg-manifest style.
        dfs = [_read(p) for p in paths]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def lineage(self) -> list[Snapshot]:
        """Snapshots from current back to the root (lineage chain)."""
        out: list[Snapshot] = []
        sid = self.current_snapshot_id()
        while sid is not None:
            try:
                snap = self.snapshot(sid)
            except FileNotFoundError:
                # expired horizon (expire_snapshots): the chain legitimately
                # ends where retention cut it
                break
            if snap is None:
                break
            out.append(snap)
            sid = snap.parent_id
        return out

    def read_table_incremental(
        self,
        table: str,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Rows APPENDED to a chain table strictly after ``from_snapshot_id``
        up to ``to_snapshot_id`` (default: CURRENT) — the Iceberg
        incremental-append scan (changed-data capture).

        Reads ONLY the delta files the later manifests added: cost is
        O(new data), independent of table history — the shape that lets a
        downstream consumer (the incremental near-dup index,
        operators/incremental_dedup.py; a feature-store sync; a training-
        data refresh) follow a 10^10-url crawl without ever rescanning it.

        Only valid along an append-only stretch of the chain: if the later
        snapshot's path list does not extend the earlier one (a compaction
        rewrote the chain, retention GC re-rooted it, or the table is a
        full-rewrite table like ``frontier``), the delta is NOT expressible
        as a file difference and this raises ValueError — callers then fall
        back to a full-snapshot diff. Same restriction as Iceberg's
        incremental reads across rewrite/replace snapshots.
        """
        to_snap = self.snapshot(to_snapshot_id)
        if to_snap is None:
            raise ValueError("read_table_incremental: no committed snapshot")
        from_snap = self.snapshot(from_snapshot_id)
        old = list(from_snap.tables.get(table, [])) if from_snap else []
        new = list(to_snap.tables.get(table, []))
        if new[: len(old)] != old:
            raise ValueError(
                f"read_table_incremental({table!r}): snapshot "
                f"{to_snap.snapshot_id} does not append-extend "
                f"{from_snapshot_id} (compaction/rewrite boundary) — "
                "read full snapshots and diff instead"
            )
        delta = new[len(old):]
        schema_json = to_snap.schemas.get(table)
        reader = self.spark.read
        if schema_json is not None:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(json.loads(schema_json)))
        if not delta:
            if schema_json is None:
                raise ValueError(
                    f"read_table_incremental({table!r}): empty delta and no "
                    "recorded schema"
                )
            return self.spark.createDataFrame(
                [], StructType.fromJson(json.loads(schema_json))
            )
        return reader.parquet(*delta)

    def rollback(self, snapshot_id: int) -> Snapshot:
        """Iceberg rollback: make an ANCESTOR snapshot current again.

        Pure metadata — one atomic CURRENT swap; no data moves, no
        manifests are deleted (the abandoned branch stays time-travelable
        until retention GC collects it). The target must be in the current
        lineage: rolling "forward" to an unrelated or newer id would
        fabricate history. Writers simply continue from the rolled-back
        state — a resumed crawl re-runs the abandoned rounds and, because
        every round is a pure function of the durable snapshot it starts
        from, reproduces the original run EXACTLY (pinned by
        test_snapshot_catalog/test_crawl); re-committed snapshot ids
        overwrite the abandoned branch's manifests and data dirs in place.
        Stale seen-filter blobs from the abandoned branch are safe by the
        bloom contract (over-approximation only prunes less; the exact
        anti-join decides).

        This is the bad-round recovery tool: a poisoned fetch batch or a
        mis-deployed extractor rewinds with one call instead of a restore.
        """
        target = self.snapshot(snapshot_id)  # FileNotFoundError if expired
        ancestors = [s.snapshot_id for s in self.lineage()]
        if snapshot_id not in ancestors:
            raise ValueError(
                f"rollback: snapshot {snapshot_id} is not an ancestor of "
                f"CURRENT (lineage: {ancestors}) — cannot roll forward or "
                "across branches"
            )
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".tmp")
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            f.write(str(snapshot_id))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._current_path())
        return target

    # ------------------------------------------------------------- commits
    def commit(
        self,
        snapshot_id: int,
        tables: dict[str, DataFrame] | None = None,
        appends: dict[str, DataFrame] | None = None,
        counters: dict[str, Any] | Any = None,
        output_partitions: int | None = None,
        partition_by: dict[str, list[str]] | None = None,
        serial_first: tuple[str, ...] = (),
    ) -> Snapshot:
        """Atomically commit a new snapshot.

        ``tables``: full rewrites (e.g. frontier — its content churns).
        ``appends``: delta-only writes; the manifest chains the new path
        onto the parent's path list (e.g. seen/pages/crawl_log — history is
        immutable, so appending a delta file is O(round), not O(history);
        this is the Iceberg append pattern and the only sane shape at
        10^10 URLs).
        ``counters``: a dict, or a zero-arg callable evaluated AFTER the
        table writes and BEFORE the manifest swap — lets callers derive
        counters from write-side Observations (one job instead of a separate
        counting action) while keeping them in the same atomic snapshot.
        ``output_partitions``: coalesce width for tiny test-scale states;
        leave None at scale.
        ``serial_first``: table names whose writes run SERIALLY before the
        rest; the remaining writes then run as up to COMMIT_PARALLELISM
        concurrent Spark jobs. Shape for the crawl: the python-UDF-heavy
        ``pages`` write gets the whole python worker pool to itself, then
        the small JVM-only state writes (frontier/seen/log/counters) overlap
        each other's stage gaps — concurrency where it helps, isolation
        where python workers would contend (measured round-1: fully
        concurrent python stages are slower on one shared local JVM).
        """
        parent = self.current_snapshot_id()
        parent_snap = self.snapshot(parent) if parent is not None else None
        paths: dict[str, list[str]] = (
            {t: list(p) for t, p in parent_snap.tables.items()} if parent_snap else {}
        )
        schemas: dict[str, str] = dict(parent_snap.schemas) if parent_snap else {}

        def _write(name: str, df: DataFrame) -> str:
            path = os.path.join(self.root, "data", name, f"snap-{snapshot_id}")
            if output_partitions is not None:
                df = df.coalesce(output_partitions)
            writer = df.write.mode("overwrite")
            # hive-style layout (e.g. frontier/seen by bucket): co-located
            # per-bucket scans + partition pruning at 10^10-URL scale
            cols = (partition_by or {}).get(name)
            if cols:
                writer = writer.partitionBy(*cols)
            writer.parquet(path)
            schemas[name] = df.schema.json()
            return path

        # Writes after ``serial_first`` run as concurrent Spark jobs so
        # independent writes overlap each other's stage gaps. Python-UDF
        # writes belong in ``serial_first``: on one shared local JVM,
        # concurrent python stages contend for the worker pool. Failure of
        # any write aborts the commit before the manifest swap — atomicity
        # holds either way.
        from concurrent.futures import ThreadPoolExecutor

        jobs = [(name, df, False) for name, df in (tables or {}).items()] + [
            (name, df, True) for name, df in (appends or {}).items()
        ]
        if jobs:
            head = [j for j in jobs if j[0] in serial_first]
            rest = [j for j in jobs if j[0] not in serial_first]
            written = [(n, _write(n, df), ap) for n, df, ap in head]
            if len(rest) <= 1:
                written += [(n, _write(n, df), ap) for n, df, ap in rest]
            else:
                with ThreadPoolExecutor(
                    max_workers=min(COMMIT_PARALLELISM, len(rest))
                ) as ex:
                    written += list(
                        ex.map(lambda j: (j[0], _write(j[0], j[1]), j[2]), rest)
                    )
            for name, path, is_append in written:
                if is_append:
                    paths.setdefault(name, []).append(path)
                else:
                    paths[name] = [path]

        if callable(counters):
            counters = counters()
        snap = Snapshot(snapshot_id, parent, paths, counters or {}, schemas)

        manifest_dir = os.path.join(self.root, "manifests")
        fd, tmp = tempfile.mkstemp(dir=manifest_dir, suffix=".tmp")
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            f.write(snap.to_json())
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(manifest_dir, f"snap-{snapshot_id}.json"))

        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".tmp")
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            f.write(str(snapshot_id))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._current_path())
        return snap

    def next_snapshot_id(self, floor: int = 0) -> int:
        """Smallest unused id that is also > ``floor`` — for out-of-band
        commits that must never collide with an id another writer will
        use."""
        import re

        ids = [floor]
        for f in os.listdir(os.path.join(self.root, "manifests")):
            m = re.match(r"snap-(\d+)\.json$", f)
            if m:
                ids.append(int(m.group(1)))
        return max(ids) + 1

    def compact(
        self,
        table: str,
        snapshot_id: int | None = None,
        output_partitions: int | None = None,
        partition_by: dict[str, list[str]] | None = None,
    ) -> Snapshot:
        """Rewrite ``table``'s append chain into ONE data directory and
        commit that as a new snapshot — the Iceberg rewrite-data-files
        action.  An append-chain table accrues one delta file set per round
        (the O(round) commit cost that makes a 10^10-URL crawl affordable),
        so after many rounds reads pay a long union of small scans;
        compaction pays one full rewrite to restore a single scan.

        History stays immutable: earlier snapshots keep referencing the old
        delta directories (time travel intact — asserted in
        tests/test_snapshot_catalog.py), only the NEW manifest points at
        the compacted path.  Counters carry over from the parent (so a
        crawl resume still finds its round number) plus a
        ``compacted_<table>`` marker.

        Snapshot-id discipline: crawl rounds use the contiguous low id
        range (snapshot k = round k), so maintenance commits default to a
        RESERVED HIGH range (COMPACTION_ID_BASE, Iceberg's
        separate-sequence-number idea) — a resumed crawl continuing at
        round k+1 can then never collide with a compaction snapshot and
        silently overwrite its data dir (that exact bug is pinned by
        tests/test_crawl.py::test_resume_after_compaction_equals_uninterrupted).
        """
        parent = self.current_snapshot_id()
        if parent is None:
            raise ValueError("nothing to compact: catalog has no snapshot")
        if snapshot_id is None:
            snapshot_id = self.next_snapshot_id(floor=COMPACTION_ID_BASE)
        parent_snap = self.snapshot(parent)
        assert parent_snap is not None
        counters = dict(parent_snap.counters)
        counters[f"compacted_{table}"] = len(parent_snap.tables[table])
        return self.commit(
            snapshot_id,
            tables={table: self.read_table(table)},
            counters=counters,
            output_partitions=output_partitions,
            partition_by=partition_by,
        )

    # ------------------------------------------------------- maintenance
    def expire_snapshots(self, keep_last: int = 1) -> dict[str, int]:
        """Iceberg expire_snapshots + remove_orphan_files in one pass:
        keep the ``keep_last`` most recent snapshots ON THE CURRENT
        LINEAGE, delete every other manifest, then delete every data
        directory under ``data/`` that no surviving manifest references.

        Append-chain subtlety this is tested for: a kept snapshot's chain
        references delta directories WRITTEN BY long-expired snapshots —
        those dirs are reachable and must survive; only truly unreferenced
        dirs (from expired full-rewrite tables, aborted commits, or
        pre-compaction chains no kept manifest sees) are removed. Time
        travel to an expired snapshot stops working by design; current
        reads are untouched. Without expiry a 10^4-round crawl keeps every
        frontier/host_counts full-rewrite ever committed — the storage
        amplification this maintenance op exists to fix (compaction fixes
        read amplification; this fixes retention).

        Crash safety: manifests are deleted before data dirs, so a crash
        mid-expiry can strand orphan DATA (re-run to collect) but can
        never leave a manifest pointing at deleted data.
        """
        import re

        lineage = self.lineage()
        keep = lineage[: max(1, keep_last)]
        keep_ids = {s.snapshot_id for s in keep}
        referenced: set[str] = set()
        for s in keep:
            for plist in s.tables.values():
                referenced.update(os.path.normpath(p) for p in plist)

        removed_manifests = 0
        mdir = os.path.join(self.root, "manifests")
        for f in os.listdir(mdir):
            m = re.match(r"snap-(\d+)\.json$", f)
            if m and int(m.group(1)) not in keep_ids:
                os.remove(os.path.join(mdir, f))
                removed_manifests += 1

        removed_dirs = 0
        ddir = os.path.join(self.root, "data")
        for table in sorted(os.listdir(ddir)):
            tdir = os.path.join(ddir, table)
            if not os.path.isdir(tdir):
                continue
            for d in sorted(os.listdir(tdir)):
                full = os.path.normpath(os.path.join(tdir, d))
                if os.path.isdir(full) and full not in referenced:
                    shutil.rmtree(full, ignore_errors=True)
                    removed_dirs += 1
        return {
            "kept_snapshots": len(keep),
            "removed_manifests": removed_manifests,
            "removed_data_dirs": removed_dirs,
        }

    # ------------------------------------------------------------- utils
    def destroy(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)

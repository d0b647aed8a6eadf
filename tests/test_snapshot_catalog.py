"""SnapshotCatalog unit behaviors not covered by the crawl e2e tests:
time travel by snapshot id, append-chain resolution, schema-manifest reads
of empty partitioned tables, and crash-safety of the commit protocol."""

from __future__ import annotations

import os

from news_crawler_slm_spark.sources.tables import SnapshotCatalog


def test_time_travel_and_append_chain(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    a1 = spark.createDataFrame([(1, "x")], "id int, v string")
    a2 = spark.createDataFrame([(2, "y")], "id int, v string")
    f1 = spark.createDataFrame([(10,)], "k int")
    f2 = spark.createDataFrame([(20,)], "k int")

    cat.commit(1, tables={"front": f1}, appends={"log": a1}, counters={"r": 1})
    cat.commit(2, tables={"front": f2}, appends={"log": a2}, counters={"r": 2})

    # current = snapshot 2: full rewrite visible, append chain unioned
    assert {r.k for r in cat.read_table("front").collect()} == {20}
    assert {r.id for r in cat.read_table("log").collect()} == {1, 2}

    # time travel to snapshot 1
    assert {r.k for r in cat.read_table("front", snapshot_id=1).collect()} == {10}
    assert {r.id for r in cat.read_table("log", snapshot_id=1).collect()} == {1}

    # lineage walks child -> parent
    assert [s.snapshot_id for s in cat.lineage()] == [2, 1]
    assert cat.snapshot(2).parent_id == 1


def test_empty_partitioned_table_reads_typed(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path / "cat2"))
    empty = spark.createDataFrame([], "bucket int, url_hash long, url string")
    cat.commit(1, tables={"state": empty}, partition_by={"state": ["bucket"]})
    got = cat.read_table("state")
    assert got.count() == 0
    assert set(got.columns) == {"bucket", "url_hash", "url"}


def test_uncommitted_manifest_is_invisible(spark, tmp_path):
    """Data written without a manifest swap must not surface (atomicity)."""
    root = str(tmp_path / "cat3")
    cat = SnapshotCatalog(spark, root)
    df = spark.createDataFrame([(1,)], "a int")
    cat.commit(1, tables={"t": df})
    # simulate a crash mid-commit-2: data dir exists, manifest/CURRENT don't
    df.write.mode("overwrite").parquet(os.path.join(root, "data", "t", "snap-2"))
    assert cat.current_snapshot_id() == 1
    assert {r.a for r in cat.read_table("t").collect()} == {1}


def test_compact_append_chain_preserves_content_and_history(spark, tmp_path):
    """compact() rewrites the append chain into one path: content and
    counters identical, old snapshots still time-travel to the delta
    layout, and the new manifest lists a single data dir for the table."""
    cat = SnapshotCatalog(spark, str(tmp_path / "cat4"))
    for rnd in (1, 2, 3):
        delta = spark.createDataFrame([(rnd * 10 + i,) for i in range(3)], "id long")
        cat.commit(rnd, appends={"log": delta}, counters={"round": rnd})
    assert len(cat.snapshot(3).tables["log"]) == 3

    snap = cat.compact("log", snapshot_id=100, output_partitions=1)
    assert snap.tables["log"] == [
        os.path.join(str(tmp_path / "cat4"), "data", "log", "snap-100")
    ]
    got = sorted(r.id for r in cat.read_table("log").collect())
    assert got == [10, 11, 12, 20, 21, 22, 30, 31, 32]
    # counters carried forward (a crawl resume still sees its round) + marker
    assert snap.counters["round"] == 3
    assert snap.counters["compacted_log"] == 3
    # time travel to the pre-compaction snapshot still reads the deltas
    assert len(cat.snapshot(3).tables["log"]) == 3
    old = sorted(r.id for r in cat.read_table("log", snapshot_id=2).collect())
    assert old == [10, 11, 12, 20, 21, 22]


def test_expire_snapshots_gc_preserves_reachable_deltas(spark, tmp_path):
    """expire_snapshots must (1) keep the newest N lineage snapshots and
    their reads byte-identical, (2) PRESERVE append-chain delta dirs that
    were written by now-expired snapshots but are still referenced by kept
    manifests, and (3) delete the full-rewrite data dirs only expired
    manifests referenced."""
    cat = SnapshotCatalog(spark, str(tmp_path / "gc"))
    for i in range(1, 5):
        cat.commit(
            i,
            tables={"front": spark.createDataFrame([(i * 10,)], "k int")},
            appends={"log": spark.createDataFrame([(i, "v")], "id int, v string")},
            counters={"r": i},
        )

    before_log = sorted(r.id for r in cat.read_table("log").collect())
    stats = cat.expire_snapshots(keep_last=2)
    assert stats["kept_snapshots"] == 2 and stats["removed_manifests"] == 2
    # snap-1/snap-2's front rewrites are unreferenced -> collected; every
    # log delta (incl. those written at snapshots 1-2) stays referenced
    assert stats["removed_data_dirs"] == 2

    assert sorted(r.id for r in cat.read_table("log").collect()) == before_log
    assert {r.k for r in cat.read_table("front").collect()} == {40}
    # time travel inside the horizon works, beyond it raises
    assert {r.k for r in cat.read_table("front", snapshot_id=3).collect()} == {30}
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        cat.snapshot(1)

    # delta dirs of rounds 1-2 still on disk (referenced by kept chains)
    log_dirs = sorted(os.listdir(os.path.join(str(tmp_path / "gc"), "data", "log")))
    assert log_dirs == ["snap-1", "snap-2", "snap-3", "snap-4"]
    front_dirs = sorted(
        os.listdir(os.path.join(str(tmp_path / "gc"), "data", "front"))
    )
    assert front_dirs == ["snap-3", "snap-4"]


def test_expire_is_idempotent_and_crawl_continues(spark, tmp_path):
    """A second expire collects nothing new, and the catalog accepts new
    commits after expiry (the maintenance op must not wedge the writer)."""
    cat = SnapshotCatalog(spark, str(tmp_path / "gc2"))
    for i in range(1, 4):
        cat.commit(i, tables={"t": spark.createDataFrame([(i,)], "x int")})
    cat.expire_snapshots(keep_last=1)
    again = cat.expire_snapshots(keep_last=1)
    assert again["removed_manifests"] == 0 and again["removed_data_dirs"] == 0
    cat.commit(4, tables={"t": spark.createDataFrame([(4,)], "x int")})
    assert {r.x for r in cat.read_table("t").collect()} == {4}
    assert [s.snapshot_id for s in cat.lineage()] == [4, 3]


def test_crawl_with_retention_gc_matches_unexpired(spark, tmp_path):
    """run_crawl(expire_keep=2) with compaction: final crawl state and the
    full append-chain contents must equal a run without expiry, including
    a resume ACROSS an expiry boundary; manifest count stays bounded."""
    from news_crawler_slm_spark.crawl.rounds import run_crawl, synthetic_fetcher
    from news_crawler_slm_spark.crawl.semantics import CrawlParams
    from news_crawler_slm_spark.sources.synthetic_web import WebScale, web_dataframes

    dfs = web_dataframes(spark, WebScale(n_hosts=6, pages_per_host_max=8))
    params = CrawlParams(round_budget=4.0, n_buckets=2, n_salts=2)
    fetch = synthetic_fetcher(dfs["web"])
    kw = dict(
        seeds=dfs["seeds"], robots=dfs["robots"], fetcher=fetch, params=params,
        compact_every=2,
    )

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    run_crawl(spark, a, max_rounds=4, **kw)
    run_crawl(spark, b, max_rounds=2, expire_keep=2, **kw)
    run_crawl(spark, b, max_rounds=2, expire_keep=2, **kw)  # resume past GC

    def table_rows(root, t):
        return sorted(
            tuple(r) for r in SnapshotCatalog(spark, root).read_table(t).collect()
        )

    for t in ("crawl_log", "pages", "frontier", "seen", "host_counts"):
        assert table_rows(a, t) == table_rows(b, t), t

    n_manifests = len(os.listdir(os.path.join(b, "manifests")))
    assert n_manifests <= 2


def test_incremental_read_appends_only(spark, tmp_path):
    """read_table_incremental: exactly the rows later snapshots appended,
    cost O(delta files); empty range -> typed empty; rewrite tables and
    compaction boundaries refuse (not expressible as a file diff)."""
    import pytest

    cat = SnapshotCatalog(spark, str(tmp_path / "inc"))
    mk = lambda i: spark.createDataFrame([(i, f"v{i}")], "id int, v string")
    cat.commit(1, tables={"front": mk(100)}, appends={"log": mk(1)})
    cat.commit(2, tables={"front": mk(200)}, appends={"log": mk(2)})
    cat.commit(3, tables={"front": mk(300)}, appends={"log": mk(3)})

    got = {r.id for r in cat.read_table_incremental("log", 1).collect()}
    assert got == {2, 3}
    got = {r.id for r in cat.read_table_incremental("log", 1, 2).collect()}
    assert got == {2}
    # incremental ≡ full-snapshot difference along the same range
    full3 = {r.id for r in cat.read_table("log", snapshot_id=3).collect()}
    full1 = {r.id for r in cat.read_table("log", snapshot_id=1).collect()}
    assert {r.id for r in cat.read_table_incremental("log", 1, 3).collect()} == full3 - full1

    # empty range: typed empty frame, no files read
    empty = cat.read_table_incremental("log", 3, 3)
    assert empty.count() == 0 and set(empty.columns) == {"id", "v"}

    # full-rewrite table: path list replaced, not extended -> refuse
    with pytest.raises(ValueError, match="rewrite"):
        cat.read_table_incremental("front", 1)

    # compaction rewrites the chain -> the boundary refuses too
    cat.compact("log")
    with pytest.raises(ValueError, match="rewrite"):
        cat.read_table_incremental("log", 2)
    # but ranges entirely AFTER the compaction work again
    base = cat.current_snapshot_id()
    cat.commit(4, appends={"log": mk(4)})
    assert {r.id for r in cat.read_table_incremental("log", base).collect()} == {4}


def test_rollback_and_rerun_reproduces_run(spark, tmp_path):
    """Rollback is a metadata-only rewind, and because every crawl round is
    a pure function of the durable snapshot it starts from, re-running the
    abandoned rounds reproduces the original run EXACTLY — tables equal
    row-for-row to a never-rolled-back crawl. Also: rolling forward or to
    a non-ancestor refuses."""
    import pytest

    from news_crawler_slm_spark.crawl.rounds import run_crawl, synthetic_fetcher
    from news_crawler_slm_spark.crawl.semantics import CrawlParams
    from news_crawler_slm_spark.sources.synthetic_web import WebScale, web_dataframes

    params = CrawlParams(round_budget=6.0, max_articles=12, max_rounds=5)
    dfs = web_dataframes(spark, WebScale(n_hosts=8, pages_per_host_max=12, seed=3))
    fetcher = synthetic_fetcher(dfs["web"])

    ref_root, rb_root = str(tmp_path / "ref"), str(tmp_path / "rb")
    run_crawl(spark, ref_root, dfs["seeds"], dfs["robots"], fetcher, params)
    run_crawl(spark, rb_root, dfs["seeds"], dfs["robots"], fetcher, params)
    ref, cat = SnapshotCatalog(spark, ref_root), SnapshotCatalog(spark, rb_root)
    final = cat.current_snapshot_id()
    assert final == ref.current_snapshot_id()

    # rewind two rounds, then refuse bad targets
    cat.rollback(final - 2)
    assert cat.current_snapshot_id() == final - 2
    with pytest.raises(ValueError, match="ancestor"):
        cat.rollback(final)  # the abandoned branch tip is not an ancestor now
    with pytest.raises(FileNotFoundError):
        cat.rollback(987654)

    # the abandoned rounds re-run and land on the identical final state
    run_crawl(spark, rb_root, dfs["seeds"], dfs["robots"], fetcher, params)
    assert cat.current_snapshot_id() == final
    for t in ("seen", "pages", "crawl_log", "frontier", "host_counts"):
        got = sorted(map(tuple, cat.read_table(t).collect()))
        exp = sorted(map(tuple, ref.read_table(t).collect()))
        assert got == exp, t


def test_append_chain_schema_evolution_adds_nullable_column(spark, tmp_path):
    """The pages 'etag' upgrade path: a chain whose older delta files lack
    a column reads cleanly under the newest snapshot's recorded schema
    (missing column -> null), while time travel to the pre-upgrade
    snapshot still reads the old shape."""
    cat = SnapshotCatalog(spark, str(tmp_path / "evo"))
    cat.commit(
        1,
        appends={"pages": spark.createDataFrame(
            [("u1", "t1")], "url string, text string")},
    )
    cat.commit(
        2,
        appends={"pages": spark.createDataFrame(
            [("u2", "t2", '"e2"')], "url string, text string, etag string")},
    )
    rows = {r["url"]: (r["text"], r["etag"]) for r in cat.read_table("pages").collect()}
    assert rows == {"u1": ("t1", None), "u2": ("t2", '"e2"')}
    old = cat.read_table("pages", snapshot_id=1)
    assert set(old.columns) == {"url", "text"}
    # the incremental read of the upgrade delta carries the new column
    inc = cat.read_table_incremental("pages", 1, 2)
    assert [tuple(r) for r in inc.collect()] == [("u2", "t2", '"e2"')]


def test_corpus_drift_ks_between_snapshots(spark, tmp_path):
    """corpus_drift_ks: exact two-sample KS between the text-length
    distributions of live_pages at two snapshots. Snapshot 2 refreshes a
    url without changing its length (no drift vs itself) and snapshot 3
    appends a batch of much longer documents (real drift) — the exact
    integers must match a python twin, and the time-travel side must see
    the corpus as of the OLDER snapshot (refreshed rows resolved by
    max fetch_round within each snapshot)."""
    from news_crawler_slm_spark.crawl.rounds import corpus_drift_ks, live_pages

    cat = SnapshotCatalog(spark, str(tmp_path / "drift"))
    schema = "url string, text string, lang string, publisher string, fetch_round long"
    batch1 = [(f"https://h/p{i}", "x" * (50 + i % 5), "en", "P", 1) for i in range(40)]
    cat.commit(1, appends={"pages": spark.createDataFrame(batch1, schema)})
    # refresh one url at the same length: live corpus distribution unchanged
    cat.commit(2, appends={"pages": spark.createDataFrame(
        [("https://h/p0", "y" * 50, "en", "P", 2)], schema)})
    same = corpus_drift_ks(cat, 1, 2).collect()[0]
    assert (same["n0"], same["n1"]) == (40, 40)
    assert same["d_scaled"] == 0 and same["ks_micro"] == 0

    # a recrawl lands 10 much longer docs: distribution genuinely moves
    batch3 = [(f"https://h/new{i}", "z" * 500, "en", "P", 3) for i in range(10)]
    cat.commit(3, appends={"pages": spark.createDataFrame(batch3, schema)})
    drift = corpus_drift_ks(cat, 2, 3).collect()[0]
    assert (drift["n0"], drift["n1"]) == (40, 50)

    # python twin on the exact live corpora
    def lens(sid):
        return sorted(len(r["text"]) for r in live_pages(cat, sid).collect())

    la, lb = lens(2), lens(3)
    support = sorted(set(la) | set(lb))
    cum0 = cum1 = best = 0
    for v in support:
        cum0 += la.count(v)
        cum1 += lb.count(v)
        best = max(best, abs(cum0 * len(lb) - cum1 * len(la)))
    assert drift["d_scaled"] == best
    assert drift["ks_micro"] == (2 * best * 1000000 + len(la) * len(lb)) // (
        2 * len(la) * len(lb)
    )
    assert drift["ks_micro"] == 200000  # 10 of 50 moved past the old support


def test_ks_statistic_guards_empty_side(spark):
    """ADVICE r06: an empty side must raise a clear error when the result
    is evaluated, never emit a null/0-division ks_micro row — and the
    guard is lazy (building the frame runs no job and raises nothing)."""
    import pytest

    from news_crawler_slm_spark.operators.drift import ks_statistic

    df = spark.createDataFrame([(0, 1.0), (0, 2.0)], "g int, v double")
    frame = ks_statistic(df, "g", "v")  # lazy: must not raise here
    with pytest.raises(Exception, match="non-empty"):
        frame.collect()


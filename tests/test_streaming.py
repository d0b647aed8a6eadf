"""Structured-Streaming path: windowed aggregation ≡ batch twin, and the
applyInPandasWithState first-seen dedup with exactly-once restarts."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from news_crawler_slm_spark import schemas
from news_crawler_slm_spark.streaming.ingest import (
    pages_stream,
    run_available_now,
    windowed_lang_counts,
)
from news_crawler_slm_spark.streaming.stateful import first_seen_dedup


def _ts(h, m=0, s=0):
    return dt.datetime(2026, 1, 1, h, m, s)


def _write_pages(spark, path, rows):
    spark.createDataFrame(rows, schemas.PAGES).coalesce(1).write.mode("append").parquet(path)


_BATCH1 = [
    ("https://a/p1", _ts(0, 5), None, "hello world", "en", "A", 1),
    ("https://a/p2", _ts(0, 20), None, "hallo welt zwei", "de", "A", 2),
    ("https://b/p1", _ts(1, 10), None, "bonjour", "fr", "B", 3),
    ("https://a/p1", _ts(1, 30), None, "hello world dup", "en", "A", 4),  # dup url
]
_BATCH2 = [
    ("https://a/p1", _ts(2, 0), None, "dup again", "en", "A", 5),  # old url
    ("https://c/p1", _ts(2, 15), None, "nuevo", "es", "C", 6),  # new url
]


def test_windowed_counts_match_batch_twin(spark, tmp_path):
    src = str(tmp_path / "pages")
    _write_pages(spark, src, _BATCH1 + _BATCH2)

    q = (
        windowed_lang_counts(pages_stream(spark, src), "1 hour", "2 hours")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("winlang")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.window_start, r.lang): (r.n_pages, r.mean_text_len)
        for r in spark.sql("select * from winlang").collect()
    }
    batch = (
        spark.read.schema(schemas.PAGES)
        .parquet(src)
        .groupBy(F.window("warc_ts", "1 hour").alias("w"), "lang")
        .agg(F.count("*").alias("n"), F.avg(F.length("text")).alias("m"))
        .collect()
    )
    want = {(r.w.start, r.lang): (r.n, r.m) for r in batch}
    assert got == want and len(got) >= 5


def test_first_seen_dedup_exactly_once_across_restarts(spark, tmp_path):
    src = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    _write_pages(spark, src, _BATCH1)
    run_available_now(first_seen_dedup(pages_stream(spark, src)), out, ckpt)
    first = {r.url: r.warc_ts for r in spark.read.parquet(out).collect()}
    # one row per distinct url, earliest (warc_ts, url) wins
    assert first == {
        "https://a/p1": _ts(0, 5),
        "https://a/p2": _ts(0, 20),
        "https://b/p1": _ts(1, 10),
    }

    # restart with new files: previously-seen urls must NOT re-emit
    _write_pages(spark, src, _BATCH2)
    run_available_now(first_seen_dedup(pages_stream(spark, src)), out, ckpt)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 4  # 3 from batch1 + only the genuinely new url
    assert {r.url for r in rows} == {
        "https://a/p1", "https://a/p2", "https://b/p1", "https://c/p1"
    }
    assert os.path.isdir(ckpt)


def test_session_windows_in_batch_close_and_timeout_eviction(spark, tmp_path):
    """Gap sessions close two ways: a later event past the gap closes the
    previous session INSIDE the batch; the open tail session is evicted by
    the event-time timeout once later data advances the watermark past
    last + gap. Final emitted sessions == hand-computed gap sessions."""
    from news_crawler_slm_spark.streaming.stateful import session_windows

    src = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    rows = [
        ("https://a/1", _ts(0, 0), None, "x", "en", "A", 1),
        ("https://a/2", _ts(0, 10), None, "x", "en", "A", 2),
        ("https://a/3", _ts(0, 20), None, "x", "en", "A", 3),
        ("https://a/4", _ts(1, 30), None, "x", "en", "A", 4),  # >30m gap
        ("https://a/5", _ts(1, 35), None, "x", "en", "A", 5),
        ("https://b/1", _ts(0, 5), None, "x", "en", "B", 6),
    ]
    _write_pages(spark, src, rows)
    run_available_now(session_windows(pages_stream(spark, src)), out, ckpt)
    got1 = {
        (r.publisher, r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    # A's first session closed in-batch (an event past the gap arrived);
    # B's tail already timed out in the run's trailing no-data batch (its
    # timeout 0:35 < the post-batch watermark 1:34); A's open tail
    # (timeout 2:05) is still in state
    assert got1 == {
        ("A", _ts(0, 0), _ts(0, 20), 3),
        ("B", _ts(0, 5), _ts(0, 5), 1),
    }

    # two sentinel batches push the watermark past every open timeout
    _write_pages(spark, src, [("https://z/1", _ts(0) + dt.timedelta(days=1), None, "x", "en", "ZZZ", 7)])
    run_available_now(session_windows(pages_stream(spark, src)), out, ckpt)
    _write_pages(spark, src, [("https://z/2", _ts(0) + dt.timedelta(days=2), None, "x", "en", "ZZZ", 8)])
    run_available_now(session_windows(pages_stream(spark, src)), out, ckpt)

    got = {
        (r.publisher, r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(out).collect()
        if r.publisher != "ZZZ"
    }
    assert got == {
        ("A", _ts(0, 0), _ts(0, 20), 3),
        ("A", _ts(1, 30), _ts(1, 35), 2),
        ("B", _ts(0, 5), _ts(0, 5), 1),
    }


def test_session_window_absorbs_late_event_within_watermark(spark, tmp_path):
    """A cross-batch late event admitted by the watermark (ts < open
    session's last, but >= watermark) must merge into the session by
    min/max — never move session_end or the eviction timeout backwards.
    Matches the batch twin, which orders by ts."""
    from news_crawler_slm_spark.streaming.stateful import session_windows

    src = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    _write_pages(spark, src, [("https://l/1", _ts(12, 0), None, "x", "en", "L", 1)])
    run_available_now(session_windows(pages_stream(spark, src)), out, ckpt)
    # late by 30s — watermark after batch 1 is 11:59, so it is admitted
    _write_pages(spark, src, [("https://l/2", _ts(11, 59, 30), None, "x", "en", "L", 2)])
    run_available_now(session_windows(pages_stream(spark, src)), out, ckpt)
    # sentinel advances the watermark far past the session's timeout
    _write_pages(spark, src, [("https://z/9", _ts(12) + dt.timedelta(days=1), None, "x", "en", "ZZZ", 3)])
    run_available_now(session_windows(pages_stream(spark, src)), out, ckpt)

    got = {
        (r.publisher, r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(out).collect()
        if r.publisher == "L"
    }
    assert got == {("L", _ts(11, 59, 30), _ts(12, 0), 2)}


def test_session_windows_stream_equals_batch_on_sf001_events(spark, tmp_path):
    """Stream ≡ batch sessionization at fixture scale: the sf0.01 events
    table (10k events, 150 skewed users, 30 days) is replayed as a 4-batch
    time-ordered file stream through ``session_windows``, plus a controlled
    cross-batch LATE event (admitted by the 30-min watermark) — and the
    emitted session set must equal a batch window-function twin computed
    over the very same files, with per-user session counts also matching
    the independently-oracled ``sessionization`` registry query (lag/cumsum
    vs stateful timeout eviction: two different algorithms, one answer)."""
    from pyspark.sql import Window

    from news_crawler_slm_spark.plans import REGISTRY
    from news_crawler_slm_spark.streaming.stateful import session_windows

    sf = "/root/testdata/sf0.01"
    src = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    e = spark.read.parquet(f"{sf}/events.parquet").select(
        F.concat(F.lit("https://e/"), F.col("event_id").cast("string")).alias("url"),
        F.col("ts").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.lit("x").alias("text"),
        F.lit("en").alias("lang"),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("publisher"),
        F.col("event_id").cast("long").alias("position"),
    )
    wq = Window.orderBy("warc_ts", "url")
    quarts = e.withColumn("q", F.ntile(4).over(wq)).cache()
    b2max = quarts.where(F.col("q") == 2).agg(F.max("warc_ts")).collect()[0][0]

    def _late(mins_before, eid):
        return (
            f"https://late/{eid}", b2max - dt.timedelta(minutes=mins_before),
            None, "x", "en", "LATEPUB", 900000 + eid,
        )

    for q in (1, 2, 3, 4):
        batch = quarts.where(F.col("q") == q).drop("q")
        batch.coalesce(1).write.mode("append").parquet(src)
        if q == 2:  # open a LATEPUB session near the batch-2 boundary
            _write_pages(spark, src, [_late(20, 1), _late(10, 2)])
        if q == 3:  # 15 min late vs batch-2 max — inside the 30-min watermark
            _write_pages(spark, src, [_late(15, 3)])
        run_available_now(session_windows(pages_stream(spark, src), "30 minutes"), out, ckpt)
    quarts.unpersist()

    # sentinel flushes every open tail session via the event-time timeout
    far = b2max + dt.timedelta(days=400)
    for i in (1, 2):
        _write_pages(spark, src, [(f"https://z/{i}", far + dt.timedelta(days=i), None, "x", "en", "ZZZ", i)])
        run_available_now(session_windows(pages_stream(spark, src), "30 minutes"), out, ckpt)

    got = {
        (r.publisher, r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(out).collect()
        if r.publisher != "ZZZ"
    }

    # batch twin over the SAME files, with the stream's exact gap semantics
    # (millisecond-truncated timestamps — _session_fn compares in ms)
    pages = spark.read.schema(schemas.PAGES).parquet(src).where(F.col("publisher") != "ZZZ")
    wp = Window.partitionBy("publisher").orderBy("warc_ts", "url")
    ts_ms = F.floor(F.unix_micros("warc_ts") / 1000)
    lag_ms = F.lag(ts_ms).over(wp)
    new_s = F.when(lag_ms.isNull() | (ts_ms - lag_ms > 30 * 60 * 1000), 1).otherwise(0)
    twin = (
        pages.select("publisher", "warc_ts", "url", new_s.alias("ns"))
        .withColumn("sid", F.sum("ns").over(wp.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("publisher", "sid")
        .agg(
            F.min("warc_ts").alias("session_start"),
            F.max("warc_ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
    )
    want = {
        (r.publisher, r.session_start, r.session_end, r.n_events)
        for r in twin.collect()
    }
    assert got == want
    assert len(got) > 1000  # fixture-scale: thousands of sessions, not toys
    # the late LATEPUB event merged into ONE 3-event session on both sides
    late_sessions = [g for g in got if g[0] == "LATEPUB"]
    assert len(late_sessions) == 1 and late_sessions[0][3] == 3

    # independent oracle: per-user session/event counts from the registry's
    # lag/cumsum query (driver-checked vs DuckDB) on the original events
    reg = {
        f"u{r.user_id}": (r.n_sessions, r.n_events)
        for r in REGISTRY["sessionization"][0](spark, sf).collect()
    }
    mine: dict[str, list[int]] = {}
    for pub, _s, _e, n in got:
        if pub != "LATEPUB":
            acc = mine.setdefault(pub, [0, 0])
            acc[0] += 1
            acc[1] += n
    assert {k: tuple(v) for k, v in mine.items()} == reg


def test_session_windows_rejects_delay_over_gap(spark, tmp_path):
    """ADVICE r03: delay > gap silently merged sessions the batch twin
    splits — now rejected at construction."""
    import pytest

    src = str(tmp_path / "pages")
    _write_pages(spark, src, _BATCH1)
    from news_crawler_slm_spark.streaming.stateful import session_windows

    with pytest.raises(ValueError, match="session gap"):
        session_windows(pages_stream(spark, src), "31 minutes")
    # boundary value is legal
    session_windows(pages_stream(spark, src), "30 minutes")


def test_quality_gate_stream_equals_batch(spark, tmp_path):
    """The streaming quality gate is a stateless projection+filter, so the
    stream run over a set of files must equal the batch run row-for-row —
    including the attached metric columns — and actually reject rows."""
    from news_crawler_slm_spark.streaming.quality import quality_gate

    src = str(tmp_path / "pages")
    rows = [
        ("https://q/keep1", _ts(0, 1), None, "the cat sat on the mat today", "en", "Q", 1),
        ("https://q/short", _ts(0, 2), None, "too short", "en", "Q", 2),
        ("https://q/punct", _ts(0, 3), None, "!!! ??? ... ### $$$ %%% @@@ ^^^", "en", "Q", 3),
        ("https://q/keep2", _ts(0, 4), None, "a quick brown fox jumps over the lazy dog", "en", "Q", 4),
        ("https://q/empty", _ts(0, 5), None, "", "en", "Q", 5),
    ]
    _write_pages(spark, src, rows)

    q = (
        quality_gate(pages_stream(spark, src), min_tokens=5, max_punct_ratio=0.3)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("qualgate")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from qualgate").collect()

    batch = quality_gate(
        spark.read.schema(schemas.PAGES).parquet(src), min_tokens=5, max_punct_ratio=0.3
    ).collect()

    got_m = {r["url"]: (r["n_tokens"], round(r["punct_ratio"], 9), round(r["stopword_ratio"], 9)) for r in got}
    want_m = {r["url"]: (r["n_tokens"], round(r["punct_ratio"], 9), round(r["stopword_ratio"], 9)) for r in batch}
    assert got_m == want_m
    assert set(got_m) == {"https://q/keep1", "https://q/keep2"}  # rejects really dropped


def test_sliding_token_trends_match_batch_twin(spark, tmp_path):
    """Sliding windows: every token occurrence must land in BOTH overlapping
    windows (1h window / 30m slide), the drained stream must equal the
    batch twin of the same files, and the top-k cut must rank per window
    with the deterministic (n DESC, token ASC) tie-break. Complete-mode
    memory sink: append would hold back windows the 2h watermark has not
    closed (the same protocol as the tumbling-window twin test above)."""
    from news_crawler_slm_spark.streaming.ingest import (
        sliding_token_counts,
        trending_tokens,
    )

    src = str(tmp_path / "pages")
    _write_pages(spark, src, _BATCH1 + _BATCH2)

    q = (
        sliding_token_counts(pages_stream(spark, src), "1 hour", "30 minutes")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("toktrend")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    counts = spark.sql("select * from toktrend")
    got = {
        (r.window_start, r.window_end, r.token): r.n for r in counts.collect()
    }

    batch = spark.read.schema(schemas.PAGES).parquet(src)
    twin = {
        (r.window_start, r.window_end, r.token): r.n
        for r in sliding_token_counts(batch, "1 hour", "30 minutes").collect()
    }
    assert got == twin and len(got) > 0
    # "hello" at 00:05 lands in [23:30,00:30) AND [00:00,01:00)
    hello = {(k[0], k[1]) for k in got if k[2] == "hello"}
    assert (dt.datetime(2025, 12, 31, 23, 30), dt.datetime(2026, 1, 1, 0, 30)) in hello
    assert (dt.datetime(2026, 1, 1, 0, 0), dt.datetime(2026, 1, 1, 1, 0)) in hello

    top = trending_tokens(counts, k=2)
    per_window: dict[tuple, list] = {}
    for r in top.collect():
        per_window.setdefault((r.window_start, r.window_end), []).append(
            (r.rank, r.n, r.token)
        )
    assert per_window
    for _w, rows in per_window.items():
        assert len(rows) <= 2
        rows.sort()
        # ranks are 1..k and ordered by (n desc, token asc)
        assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
        for (_r1, n1, t1), (_r2, n2, t2) in zip(rows, rows[1:]):
            assert (-n1, t1) <= (-n2, t2)


def test_stream_to_catalog_exactly_once(spark, tmp_path):
    """foreachBatch idempotent sink: new files append exactly once across
    restarts, a re-run with NOTHING new commits nothing, a fresh checkpoint
    (batch ids restarting at 0) cannot double-append, and a fresh
    checkpoint over history plus a new file appends exactly the new rows —
    the key ledger, not the batch id, decides what is new."""
    from news_crawler_slm_spark.sources.tables import SnapshotCatalog
    from news_crawler_slm_spark.streaming.catalog_sink import stream_to_catalog

    src = str(tmp_path / "pages")
    root = str(tmp_path / "cat")
    ckpt = str(tmp_path / "ckpt")

    _write_pages(spark, src, _BATCH1)
    stream_to_catalog(
        pages_stream(spark, src).drop("html"), root, "pages_raw", ckpt
    ).awaitTermination()
    cat = SnapshotCatalog(spark, root)
    assert cat.read_table("pages_raw").count() == len(_BATCH1)

    # nothing new: the drained stream commits no batch
    before = cat.current_snapshot_id()
    stream_to_catalog(
        pages_stream(spark, src).drop("html"), root, "pages_raw", ckpt
    ).awaitTermination()
    assert cat.current_snapshot_id() == before

    # new files append exactly once
    _write_pages(spark, src, _BATCH2)
    stream_to_catalog(
        pages_stream(spark, src).drop("html"), root, "pages_raw", ckpt
    ).awaitTermination()
    assert cat.read_table("pages_raw").count() == len(_BATCH1) + len(_BATCH2)

    # fresh checkpoint: the file source replays EVERYTHING as batch 0, but
    # every file is on the ledger -> nothing committed, no dupes
    before = cat.current_snapshot_id()
    ckpt2 = str(tmp_path / "ckpt2")
    stream_to_catalog(
        pages_stream(spark, src).drop("html"), root, "pages_raw", ckpt2
    ).awaitTermination()
    assert cat.read_table("pages_raw").count() == len(_BATCH1) + len(_BATCH2)
    assert cat.current_snapshot_id() == before

    # fresh checkpoint WITH a new file: batch 0 re-batches history plus the
    # new file under a reused batch id; only the new file's rows append
    batch3 = [("https://d/p1", _ts(3, 0), None, "quatro", "pt", "D", 7)]
    _write_pages(spark, src, batch3)
    ckpt3 = str(tmp_path / "ckpt3")
    stream_to_catalog(
        pages_stream(spark, src).drop("html"), root, "pages_raw", ckpt3
    ).awaitTermination()
    got = sorted(r.position for r in cat.read_table("pages_raw").collect())
    assert got == sorted(r[-1] for r in _BATCH1 + _BATCH2 + batch3)


def test_stream_to_catalog_orphan_manifest_recovery(spark, tmp_path):
    """A manifest written without the CURRENT swap (crash window) must be
    redone, not skipped: simulate by writing an orphan manifest at the
    first stream snapshot id. The batch's keys are not on the ledger, so
    it folds; the orphan's id is never reused and never reachable."""
    import json
    import os

    from news_crawler_slm_spark.sources.tables import Snapshot, SnapshotCatalog
    from news_crawler_slm_spark.streaming.catalog_sink import (
        STREAM_ID_BASE,
        stream_to_catalog,
    )

    src = str(tmp_path / "pages")
    root = str(tmp_path / "cat")
    _write_pages(spark, src, _BATCH1)

    cat = SnapshotCatalog(spark, root)
    sid = cat.next_snapshot_id(floor=STREAM_ID_BASE)
    orphan = Snapshot(sid, None, {"pages_raw": []}, {"orphan": 1})
    with open(os.path.join(root, "manifests", f"snap-{sid}.json"), "w") as f:
        f.write(orphan.to_json())

    stream_to_catalog(
        pages_stream(spark, src).drop("html"), root, "pages_raw",
        str(tmp_path / "ckpt"),
    ).awaitTermination()
    assert cat.read_table("pages_raw").count() == len(_BATCH1)
    assert not any("orphan" in s.counters for s in cat.lineage())


def test_streaming_hll_registers_equal_batch_sketch(spark, tmp_path):
    """Streaming cardinality (streaming/cardinality.py): folding the files
    through the exactly-once HLL sink, one micro-batch per file, must
    yield the IDENTICAL register table as one batch hll_registers over
    the union — the end-to-end proof of the sketch's merge algebra — and
    the estimate must track the exact distinct-url count. A re-run with
    nothing new commits nothing; a replay from a fresh checkpoint cannot
    corrupt the registers (max-merge + key-ledger dedup)."""
    from news_crawler_slm_spark.operators.hll import hll_estimate, hll_registers
    from news_crawler_slm_spark.sources.tables import SnapshotCatalog
    from news_crawler_slm_spark.streaming.cardinality import (
        REGISTER_TABLE,
        current_estimate,
        stream_hll_registers,
    )

    src = str(tmp_path / "pages")
    root = str(tmp_path / "hll_cat")
    ckpt = str(tmp_path / "hll_ckpt")
    _write_pages(spark, src, _BATCH1)
    _write_pages(spark, src, _BATCH2)

    stream = pages_stream(spark, src).drop("html")
    stream_hll_registers(stream, root, ckpt, "url").awaitTermination()

    cat = SnapshotCatalog(spark, root)
    got = {
        (r["register"], r["rank"])
        for r in cat.read_table(REGISTER_TABLE).collect()
    }
    batch = spark.createDataFrame(_BATCH1 + _BATCH2, schemas.PAGES)
    want = {
        (r["register"], r["rank"])
        for r in hll_registers(batch, "url").collect()
    }
    assert got == want

    exact = len({r[0] for r in _BATCH1 + _BATCH2})
    est = current_estimate(spark, root)
    assert est == hll_estimate(cat.read_table(REGISTER_TABLE))
    # tiny cardinality: linear counting is near-exact
    assert abs(est - exact) / exact < 0.05

    # drained stream: nothing new, nothing committed
    before = cat.current_snapshot_id()
    stream_hll_registers(
        pages_stream(spark, src).drop("html"), root, ckpt, "url"
    ).awaitTermination()
    assert cat.current_snapshot_id() == before

    # fresh checkpoint, SAME files: replays everything as batch 0 whose
    # files are all on the ledger -> skipped, registers unchanged
    ckpt2 = str(tmp_path / "hll_ckpt2")
    stream_hll_registers(
        pages_stream(spark, src).drop("html"), root, ckpt2, "url"
    ).awaitTermination()
    assert cat.current_snapshot_id() == before
    got2 = {
        (r["register"], r["rank"])
        for r in cat.read_table(REGISTER_TABLE).collect()
    }
    assert got2 == want

    # fresh checkpoint WITH new files: batch 0 re-batches history + the new
    # file — same batchId, DIFFERENT content. batchId-only dedup silently
    # skipped this and lost the new urls forever; the ledger folds the new
    # file, so the registers equal the batch sketch over ALL rows
    batch3 = [
        ("https://d/p1", _ts(3, 0), None, "quatro", "pt", "D", 7),
        ("https://d/p2", _ts(3, 5), None, "cinque", "it", "D", 8),
    ]
    _write_pages(spark, src, batch3)
    ckpt3 = str(tmp_path / "hll_ckpt3")
    stream_hll_registers(
        pages_stream(spark, src).drop("html"), root, ckpt3, "url"
    ).awaitTermination()
    all_rows = spark.createDataFrame(_BATCH1 + _BATCH2 + batch3, schemas.PAGES)
    want3 = {
        (r["register"], r["rank"])
        for r in hll_registers(all_rows, "url").collect()
    }
    got3 = {
        (r["register"], r["rank"])
        for r in cat.read_table(REGISTER_TABLE).collect()
    }
    assert got3 == want3
    exact3 = len({r[0] for r in _BATCH1 + _BATCH2 + batch3})
    assert abs(current_estimate(spark, root) - exact3) / exact3 < 0.05


def test_streaming_cms_cells_equal_batch_sketch(spark, tmp_path):
    """Streaming frequency (streaming/frequency.py): folding the files
    through the exactly-once CMS sink must yield the IDENTICAL cell table
    as one batch cms_table over the union — the end-to-end proof of the
    sum-merge algebra — and estimates must be overcounts-only vs exact.
    Because cell merge is ADDITION (not idempotent like HLL max), the
    dedup bar is higher: a drained re-run commits nothing, a fresh
    checkpoint over the same files folds nothing, and a fresh checkpoint
    WITH new files folds exactly the new files' rows (the key ledger —
    re-folding history would double-count every cell)."""
    from news_crawler_slm_spark.operators.cms import cms_table
    from news_crawler_slm_spark.sources.tables import SnapshotCatalog
    from news_crawler_slm_spark.streaming.frequency import (
        CELLS_TABLE,
        current_counts,
        stream_cms_cells,
    )

    src = str(tmp_path / "pages")
    root = str(tmp_path / "cms_cat")
    ckpt = str(tmp_path / "cms_ckpt")
    _write_pages(spark, src, _BATCH1)
    _write_pages(spark, src, _BATCH2)

    def cells(df):
        return {(r["row"], r["col"]): r["cnt"] for r in df.collect()}

    stream_cms_cells(pages_stream(spark, src).drop("html"), root, ckpt, "url").awaitTermination()

    cat = SnapshotCatalog(spark, root)
    batch = spark.createDataFrame(_BATCH1 + _BATCH2, schemas.PAGES)
    want = cells(cms_table(batch, "url"))
    assert cells(cat.read_table(CELLS_TABLE)) == want

    # estimates: overestimate-only, and exact here (tiny key set, w >> keys)
    items = spark.createDataFrame(
        [("https://a/p1",), ("https://c/p1",), ("https://never/x",)], "url string"
    )
    got = {r["url"]: r["estimate"] for r in current_counts(spark, root, items, "url").collect()}
    true = {}
    for u, *_ in _BATCH1 + _BATCH2:
        true[u] = true.get(u, 0) + 1
    assert got["https://a/p1"] >= true["https://a/p1"]
    assert got["https://c/p1"] >= true["https://c/p1"]
    assert got["https://a/p1"] == 3 and got["https://c/p1"] == 1
    assert got["https://never/x"] >= 0

    # drained stream: nothing new, nothing committed
    before = cat.current_snapshot_id()
    stream_cms_cells(pages_stream(spark, src).drop("html"), root, ckpt, "url").awaitTermination()
    assert cat.current_snapshot_id() == before

    # fresh checkpoint, SAME files: batch 0 re-batches all of history —
    # every file is on the ledger, so the sink folds nothing (a re-fold
    # here would DOUBLE every cell count)
    ckpt2 = str(tmp_path / "cms_ckpt2")
    stream_cms_cells(pages_stream(spark, src).drop("html"), root, ckpt2, "url").awaitTermination()
    assert cells(cat.read_table(CELLS_TABLE)) == want

    # fresh checkpoint WITH new files: only the new files' rows fold
    batch3 = [
        ("https://a/p1", _ts(3, 0), None, "dup once more", "en", "A", 7),
        ("https://d/p1", _ts(3, 5), None, "quatro", "pt", "D", 8),
    ]
    _write_pages(spark, src, batch3)
    ckpt3 = str(tmp_path / "cms_ckpt3")
    stream_cms_cells(pages_stream(spark, src).drop("html"), root, ckpt3, "url").awaitTermination()
    all_rows = spark.createDataFrame(_BATCH1 + _BATCH2 + batch3, schemas.PAGES)
    assert cells(cat.read_table(CELLS_TABLE)) == cells(cms_table(all_rows, "url"))
    got3 = {r["url"]: r["estimate"] for r in current_counts(spark, root, items, "url").collect()}
    assert got3["https://a/p1"] == 4


def test_cms_fold_skips_old_non_file_replay(spark, tmp_path):
    """In-memory batches have no input file, so the ledger key is the
    batch's (id, row count, content fingerprint). A replay of batch 0 after
    19 later commits must still fold nothing: the whole ledger decides,
    not a recent window of snapshots."""
    from news_crawler_slm_spark.operators.cms import cms_table
    from news_crawler_slm_spark.sources.tables import SnapshotCatalog
    from news_crawler_slm_spark.streaming.catalog_sink import exactly_once_batch
    from news_crawler_slm_spark.streaming.frequency import CELLS_TABLE, cms_fold

    root = str(tmp_path / "cms_mem")
    run = exactly_once_batch(root, CELLS_TABLE, cms_fold("url"))

    def batch(i):  # built on the JVM: no Python worker round trip per job
        urls = F.array(F.lit(f"https://m/{i}"), F.lit("https://m/common"))
        return spark.range(1).select(F.explode(urls).alias("url"))

    def cells(df):
        return {(r["row"], r["col"]): r["cnt"] for r in df.collect()}

    for i in range(20):
        run(batch(i), i)
    cat = SnapshotCatalog(spark, root)
    want = [(f"https://m/{i}",) for i in range(20)] + [("https://m/common",)] * 20
    folded = cells(cat.read_table(CELLS_TABLE))
    assert folded == cells(cms_table(spark.createDataFrame(want, "url string"), "url"))

    before = cat.current_snapshot_id()
    run(batch(0), 0)
    assert cat.current_snapshot_id() == before
    assert cells(cat.read_table(CELLS_TABLE)) == folded

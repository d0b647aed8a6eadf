"""Per-layer metrics of the traced run.

Spans come from the wrappers in ``trace.py`` (``crawl.rounds`` around each
``run_crawl`` call; ``crawl.frontier``, ``crawl.bloom`` and
``sources.tables.commit`` inside it). Lazy work runs inside ``commit``, so
each table write is read off the Spark event log instead: the SQL execution
that wrote ``data/<table>/snap-N`` becomes a ``sources.tables.write.<table>``
child span of the commit. A span's self time is its duration minus what its
children cover, so per round

    wall = frontier + bloom + writes + manifest (commit self) + other

where ``other`` is the round span's own self time (state re-read, plan
building outside the wrapped calls, the HLL merge plan, ...). The share of
the wall the named layers cover is ``(wall - other) / wall``.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import time

from perfbench import eventlog
from perfbench.trace import Tracer, self_times, union_length

WRITE_TABLES = ("pages", "frontier", "seen", "crawl_log", "host_counts", "host_url_hll")


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def html_clean_sample(shape, web, seed: int) -> dict:
    """Direct sequential ``clean_html`` calls on a seeded sample of the
    workload's pages: per-page cost and output/input bytes."""
    from news_crawler_slm_spark.functions.html_clean import clean_html
    from perfbench import workloads

    if shape.name == "crawl_extract":
        pages = [h for _u, h in workloads.extract_sample(seed, "html_clean", 16)]
    else:
        import random

        rows = random.Random(f"{seed}:html_clean").sample(web.rows["web"], 64)
        pages = [r[1].decode("utf-8") for r in rows]
    per_page = []
    for _ in range(3):
        for html in pages:
            t = time.perf_counter()
            clean_html(html)
            per_page.append(time.perf_counter() - t)
    out_bytes = sum(len(clean_html(h).encode("utf-8")) for h in pages)
    in_bytes = sum(len(h.encode("utf-8")) for h in pages)
    return {"ms_per_page": 1e3 * _median(per_page), "out_over_in_bytes": out_bytes / in_bytes}


def state_counts(spark, loop) -> dict:
    """Frontier and seen rows of the last crawl, and on-disk bytes per page
    row over every measured crawl."""
    from news_crawler_slm_spark.sources.tables import SnapshotCatalog

    last = [c for c in loop.crawls if c["rounds"]][-1]
    cat = SnapshotCatalog(spark, last["root"])
    disk, rows = 0, 0
    for c in loop.crawls:
        if not c["rounds"]:
            continue
        pdir = os.path.join(c["root"], "data", "pages")
        for dirpath, _dirs, files in os.walk(pdir):
            disk += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files
                        if f.endswith(".parquet"))
        rows += SnapshotCatalog(spark, c["root"]).read_table("pages").count()
    return {
        "frontier_rows": cat.read_table("frontier").count(),
        "seen_rows": cat.read_table("seen").count(),
        "bytes_per_page": disk / max(1, rows),
    }


def _add_write_spans(tracer: Tracer, execs, epoch_minus_perf: float) -> dict[int, list]:
    """Attach each catalog write execution to the commit span it ran in.
    Returns commit span id -> executions."""
    commits = [s for s in tracer.spans if s["name"] == "sources.tables.commit"]
    by_commit: dict[int, list] = {c["id"]: [] for c in commits}
    for ex in execs.values():
        if ex.table is None or not ex.end_ms:
            continue
        s = ex.start_ms / 1e3 - epoch_minus_perf
        e = ex.end_ms / 1e3 - epoch_minus_perf
        for c in commits:  # commits run one at a time
            if c["start"] <= s <= c["end"]:
                tracer.add(f"sources.tables.write.{ex.table}", c["trace_id"],
                           max(s, c["start"]), min(e, c["end"]), parent=c["id"],
                           execution=ex.id)
                by_commit[c["id"]].append(ex)
                break
    return by_commit


def _add_batch_spans(tracer: Tracer, loop, epoch_minus_perf: float) -> None:
    for op in loop.streams:
        for kind, sink in op["sinks"].items():
            parent = next(
                (s["id"] for s in tracer.spans
                 if s["name"] == f"streaming.{kind}" and abs(s["start"] - sink["start"]) < 1e-3),
                None,
            )
            for b in sink["batches"]:
                t = dt.datetime.fromisoformat(b["ts"].replace("Z", "+00:00")).timestamp()
                start = t - epoch_minus_perf
                tracer.add(f"streaming.{kind}.batch", f"batch-{b['batch']}", start,
                           start + b["s"], parent=parent)


def per_layer(loop, tracer: Tracer, events_dir: str, web_path: str,
              epoch_minus_perf: float, sample: dict, counts: dict,
              setup: dict) -> dict:
    execs = eventlog.read_executions(events_dir, {"web": web_path})
    by_commit = _add_write_spans(tracer, execs, epoch_minus_perf)
    _add_batch_spans(tracer, loop, epoch_minus_perf)
    spans = tracer.spans
    selfs = self_times(spans)
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)

    popped = {r["trace_id"]: r["popped"] for r in loop.rounds}
    rounds = []
    for r in (s for s in spans if s["name"] == "crawl.rounds"):
        rnd = int(r["trace_id"].rsplit("-", 1)[1])
        wall = r["end"] - r["start"]
        ch = {c["name"]: c for c in kids.get(r["id"], [])}
        commit = ch.get("sources.tables.commit")
        writes = kids.get(commit["id"], []) if commit else []
        cexecs = by_commit.get(commit["id"], []) if commit else []
        rexecs = [ex for ex in execs.values()
                  if r["start"] <= ex.start_ms / 1e3 - epoch_minus_perf <= r["end"]]
        per_table = {t: sum(w["end"] - w["start"] for w in writes if w["name"].endswith("." + t))
                     for t in WRITE_TABLES}
        pages_ex = [ex for ex in cexecs if ex.table == "pages"]
        parts = {
            "frontier": selfs[ch["crawl.frontier"]["id"]] if "crawl.frontier" in ch else 0.0,
            "bloom": selfs[ch["crawl.bloom"]["id"]] if "crawl.bloom" in ch else 0.0,
            "writes": union_length([(w["start"], w["end"]) for w in writes]),
            "manifest": selfs[commit["id"]] if commit else 0.0,
            "other": selfs[r["id"]],
        }
        rounds.append({
            "round": rnd, "wall": wall, "popped": popped.get(r["trace_id"], 0), **parts,
            "commit": (commit["end"] - commit["start"]) if commit else 0.0,
            "accounted": (wall - parts["other"]) / wall,
            "fetch_execs": sum(1 for ex in rexecs if "web" in ex.scans_run),
            "tables": per_table,
            "python_s": sum(ex.python_s for ex in pages_ex),
            "py_sent": sum(ex.python_bytes_sent for ex in pages_ex),
            "py_recv": sum(ex.python_bytes_received for ex in pages_ex),
        })
    steady = [r for r in rounds if r["round"] >= 2] or rounds

    def med(key):
        return _median(r[key] for r in steady)

    m: dict[str, tuple[float, str]] = {
        "crawl.frontier.pop_s": (med("frontier"), "s"),
        "crawl.frontier.popped": (med("popped"), "count"),
        "crawl.frontier.frontier_rows": (counts["frontier_rows"], "count"),
        "crawl.frontier.seen_rows": (counts["seen_rows"], "count"),
        "crawl.bloom.update_s": (med("bloom"), "s"),
        "crawl.rounds.wall_s": (med("wall"), "s"),
        "crawl.rounds.fetch_execs_per_round": (med("fetch_execs"), "count"),
        "crawl.rounds.other_s": (med("other"), "s"),
        "crawl.rounds.accounted_frac": (min((r["accounted"] for r in rounds), default=0.0), "ratio"),
        "sources.tables.commit_s": (med("commit"), "s"),
        "sources.tables.manifest_s": (med("manifest"), "s"),
        "sources.tables.bytes_per_page": (counts["bytes_per_page"], "bytes"),
    }
    for t in WRITE_TABLES:
        m[f"sources.tables.write.{t}_s"] = (_median(r["tables"][t] for r in steady), "s")
    m.update({
        "functions.html_clean.ms_per_page": (sample["ms_per_page"], "ms"),
        "functions.html_clean.out_over_in_bytes": (sample["out_over_in_bytes"], "ratio"),
        "functions.html_clean.python_s": (med("python_s"), "s"),
        "functions.html_clean.python_bytes_sent": (med("py_sent"), "bytes"),
        "functions.html_clean.python_bytes_received": (med("py_recv"), "bytes"),
    })
    st = loop.streams[0] if loop.streams else None
    all_batches = [b["s"] for k in (st["sinks"] if st else {}) for b in st["sinks"][k]["batches"]]
    m["streaming.rows_per_s"] = (st["rows"] / st["wall_s"] if st else 0.0, "rows/s")
    m["streaming.batch_p50_s"] = (_median(all_batches), "s")
    for kind in ("catalog_sink", "cardinality", "frequency"):
        sink = st["sinks"].get(kind) if st else None
        m[f"streaming.{kind}.batch_s"] = (
            _median(b["add_s"] for b in sink["batches"]) if sink else 0.0, "s")
        m[f"streaming.{kind}.batches"] = (len(sink["batches"]) if sink else 0, "count")
        rp = (loop.replay or {}).get("sinks", {}).get(kind)
        m[f"streaming.{kind}.replay_s"] = (rp["wall_s"] if rp else 0.0, "s")
    m.update({
        "session.start_s": (setup["start_s"], "s"),
        "sources.synthetic_web.gen_s": (setup["gen_s"], "s"),
        "session.warmup_s": (setup["warmup_s"], "s"),
    })
    return m


def corpus_layers(loop) -> dict:
    """plans.corpus / plans.training of the corpus refresh (crawl_frontier
    only: the bench web's filler pages are no corpus)."""
    co = loop.corpora[0]
    return {
        "plans.corpus.docs_s": (co["docs_s"], "s"),
        "plans.training.pack_s": (co["pack_s"], "s"),
        "plans.corpus.docs_in": (co["docs_in"], "count"),
        "plans.training.packed_docs": (co["packed"], "count"),
        "plans.corpus.docs_per_s": (co["docs_in"] / co["wall_s"], "docs/s"),
        "plans.cached_rdds_left": (co["cached_rdds_left"], "count"),
    }

"""The two workloads: one closed-loop client running crawl rounds, driven
from this process, over a web generated from the seed.

``crawl_extract`` crawls ``bench_web_dataframes`` (about 98 KB of html per
page). A run measures one crawl: two rounds in a fresh catalog, and round 2
pops every page, so fetch plus the Arrow ``clean_html`` pages write is more
than half of its wall. Set-up runs round 1 of a throwaway crawl of the same
web to warm up.

``crawl_frontier`` crawls the Zipf article web of ``web_dataframes`` (about
1 KB pages). One crawl continues for the whole run and every round is its
own ``run_crawl`` call, so every round resumes from the catalog. Round 1
is the warm-up; the measured rounds (2, 3, 4) are dominated by per-round
fixed costs: pop, discovery and seen-dedup, bloom, table writes, manifest,
state re-read.

The traced run adds two operations after the crawl loop, over the crawl's
own output: a stream ingest that folds the crawl's ``pages`` files through
the three streaming sinks (and a fresh-checkpoint replay of it), and a
corpus refresh (``corpus_from_crawl`` plus the packed-training count).
"""

from __future__ import annotations

import contextlib
import os
import random
import statistics
import sys
import time
from dataclasses import dataclass, field

STREAM_FILES_PER_TRIGGER = 4
HLL_P = 12
CMS_DEPTH, CMS_WIDTH = 4, 256

# input sizes (CONTRACT.md)
EXTRACT_HOSTS, EXTRACT_PAGES, EXTRACT_PARAS = 8, 96, 800
FRONTIER_HOSTS, FRONTIER_PAGES_MAX, FRONTIER_LINKS = 120, 240, 6
TEXT_SAMPLE = 8  # pages per crawl whose text is checked against clean_html
MIN_ROUNDS = 2  # measured rounds every run makes, whatever --seconds says


@dataclass
class Shape:
    name: str
    # k: fresh k-round crawls; None: one crawl continues across the run
    rounds_per_crawl: int | None
    # the rounds a run measures when --seconds allows: one whole fresh crawl,
    # or rounds 2-4 of the continuing crawl. Fixed, because rounds differ:
    # later ones pop fewer pages, so a run that got further would read slower
    measured_rounds: int
    # the traced run refreshes the corpus from the crawl (the bench web's
    # filler pages are no corpus: its repetition and dedup stages blow up)
    corpus: bool = False
    extra_conf: dict = field(default_factory=dict)


SHAPES = {
    "crawl_extract": Shape(
        "crawl_extract", rounds_per_crawl=2, measured_rounds=2,
        # bench.py's html-heavy setting: ~100 KB rows per Arrow batch
        extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "128"},
    ),
    "crawl_frontier": Shape(
        "crawl_frontier", rounds_per_crawl=None, measured_rounds=3, corpus=True
    ),
}


@dataclass
class Web:
    web: object  # DataFrame over the generated parquet
    seeds: object
    robots: object
    params: object  # CrawlParams
    rows: dict | None = None  # crawl_frontier: the simulator's input rows


def make_web(spark, shape: Shape, seed: int, out_dir: str, cores: int) -> Web:
    """Generate the workload's web from the seed and park it on parquet, so
    every fetch reads the same bytes from the page cache."""
    from news_crawler_slm_spark import schemas
    from news_crawler_slm_spark.crawl.semantics import CrawlParams
    from news_crawler_slm_spark.sources.synthetic_web import (
        WebScale,
        bench_web_dataframes,
        generate_web,
    )

    path = os.path.join(out_dir, "web.parquet")
    if shape.name == "crawl_extract":
        dfs = bench_web_dataframes(
            spark, n_hosts=EXTRACT_HOSTS, pages_per_host=EXTRACT_PAGES,
            body_paras=EXTRACT_PARAS, seed=seed, partitions=2 * cores,
        )
        dfs["web"].write.parquet(path)
        params = CrawlParams(
            round_budget=float(EXTRACT_PAGES), max_articles=100_000, n_buckets=16
        )
        return Web(spark.read.parquet(path), dfs["seeds"], dfs["robots"], params)
    rows = generate_web(
        WebScale(n_hosts=FRONTIER_HOSTS, pages_per_host_max=FRONTIER_PAGES_MAX,
                 links_per_page=FRONTIER_LINKS, seed=seed)
    )
    spark.createDataFrame(rows["web"], schemas.WEB).repartition(2 * cores).write.parquet(path)
    params = CrawlParams(round_budget=10.0, max_articles=100_000, n_buckets=16)
    return Web(
        spark.read.parquet(path),
        spark.createDataFrame(rows["seeds"], schemas.SEEDS),
        spark.createDataFrame(rows["robots"], schemas.ROBOTS),
        params,
        rows=rows,
    )


PAGES_DDL = (
    "url string, text string, lang string, publisher string, fetch_round int, "
    "etag string, last_modified string"
)
SINKS = ("catalog_sink", "cardinality", "frequency")


class Loop:
    """One client issuing operations back to back. An operation is one
    crawl round, one stream ingest or one corpus refresh; each is timed, and
    one that raises is counted as failed instead of ending the run."""

    def __init__(self, spark, shape: Shape, web: Web, root: str):
        self.spark, self.shape, self.web, self.root = spark, shape, web, root
        self.tracer = None  # the traced run sets one after the warm-up
        self.crawls: list[dict] = []  # {"root", "rounds"}
        self.rounds: list[dict] = []  # measured rounds
        self.streams: list[dict] = []
        self.corpora: list[dict] = []
        self.replay: dict | None = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._crawl: dict | None = None
        self.stream_roots = {k: os.path.join(root, "stream", k) for k in SINKS}
        self.source_glob = os.path.join(root, "crawls", "*", "data", "pages", "*")

    def _span(self, name: str, trace_id: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        self.tracer.current_trace = trace_id
        return self.tracer.span(name, trace_id)

    def _fail(self, what: str, e: Exception) -> None:
        self.failed += 1
        self.errors.append(f"{what}: {type(e).__name__}: {e}")
        print(f"perfbench: {self.errors[-1]}", file=sys.stderr)

    # ------------------------------------------------------------ ops
    def crawl_round(self, record: bool = True) -> dict | None:
        """Run one round of the current crawl (starting a fresh one when
        needed). Returns the round record, or None when the crawl ended."""
        from news_crawler_slm_spark.crawl.rounds import run_crawl, synthetic_fetcher

        if self._crawl is None:
            self._crawl = {"root": os.path.join(self.root, "crawls", f"c{len(self.crawls)}"),
                           "rounds": 0}
            self.crawls.append(self._crawl)
        c = self._crawl
        rnd = c["rounds"] + 1
        got: dict = {}

        def on_round(_rnd, counters, _round_s, pop_s):
            got.update(counters, pop_s=pop_s)

        self.attempted += record
        t0 = time.perf_counter()
        try:
            with self._span("crawl.rounds", f"{os.path.basename(c['root'])}/round-{rnd}"):
                run_crawl(
                    self.spark, c["root"], self.web.seeds, self.web.robots,
                    synthetic_fetcher(self.web.web), self.web.params,
                    max_rounds=1, output_partitions=None, on_round=on_round,
                )
        except Exception as e:
            self._fail(f"round {rnd} of {c['root']}", e)
            self._crawl = None
            return None
        t1 = time.perf_counter()
        if not got:  # empty frontier: nothing was popped, the crawl is over
            self.attempted -= record
            self._crawl = None
            return None
        c["rounds"] = rnd
        if self.shape.rounds_per_crawl is not None and rnd >= self.shape.rounds_per_crawl:
            self._crawl = None
        rec = {"crawl": c["root"], "round": rnd, "wall_s": t1 - t0,
               "trace_id": f"{os.path.basename(c['root'])}/round-{rnd}",
               "fetched": got["fetched"], "popped": got["popped"], "pop_s": got["pop_s"]}
        if record:
            self.rounds.append(rec)
        return rec

    def _start_sink(self, kind: str, checkpoint: str):
        from news_crawler_slm_spark.streaming.cardinality import stream_hll_registers
        from news_crawler_slm_spark.streaming.catalog_sink import stream_to_catalog
        from news_crawler_slm_spark.streaming.frequency import stream_cms_cells

        src = (
            self.spark.readStream.schema(PAGES_DDL)
            .option("maxFilesPerTrigger", str(STREAM_FILES_PER_TRIGGER))
            .parquet(self.source_glob)
        )
        root = self.stream_roots[kind]
        if kind == "catalog_sink":
            return stream_to_catalog(src, root, "pages", checkpoint, output_partitions=1)
        if kind == "cardinality":
            return stream_hll_registers(src, root, checkpoint, "url", p=HLL_P)
        return stream_cms_cells(src, root, checkpoint, "publisher", CMS_DEPTH, CMS_WIDTH)

    def _stream_rows(self) -> int:
        from news_crawler_slm_spark.sources.tables import SnapshotCatalog

        try:
            return SnapshotCatalog(self.spark, self.stream_roots["catalog_sink"]).read_table("pages").count()
        except KeyError:
            return 0

    def stream_ingest(self, replay: bool = False) -> dict | None:
        """Fold every crawl ``pages`` file not yet ingested through the three
        sinks, one availableNow query per sink, in bounded micro-batches.
        ``replay`` restarts every sink on a fresh checkpoint over the same
        files instead (it must add nothing) and is not recorded."""
        mode = "replay" if replay else "measured"
        rows_before = self._stream_rows()
        op = {"mode": mode, "wall_s": 0.0, "sinks": {}}
        self.attempted += 1
        try:
            for kind in SINKS:
                t0 = time.perf_counter()
                with self._span(f"streaming.{kind}", f"stream-{mode}-{len(self.streams)}"):
                    q = self._start_sink(kind, os.path.join(self.root, "stream", f"ckpt-{mode}", kind))
                    q.awaitTermination()
                t1 = time.perf_counter()
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
                batches = [
                    {"batch": p["batchId"], "s": p["durationMs"].get("triggerExecution", 0) / 1e3,
                     "add_s": p["durationMs"].get("addBatch", 0) / 1e3, "ts": p["timestamp"]}
                    for p in q.recentProgress
                    if p["numInputRows"] > 0
                ]
                op["sinks"][kind] = {"wall_s": t1 - t0, "start": t0, "end": t1, "batches": batches}
                op["wall_s"] += t1 - t0
        except Exception as e:
            self._fail(f"stream ingest ({mode})", e)
            return None
        op["rows"] = self._stream_rows() - rows_before
        if not replay:
            self.streams.append(op)
        return op

    def corpus_refresh(self, catalog_root: str) -> dict | None:
        """corpus_from_crawl plus the packed-training count over a crawl
        catalog, built fresh as a user would; the caches it leaves behind are
        counted, then released."""
        from news_crawler_slm_spark.plans.corpus import corpus_from_crawl
        from news_crawler_slm_spark.plans.pipeline import PreprocessParams
        from news_crawler_slm_spark.plans.training import TrainingPrepParams
        from news_crawler_slm_spark.sources.tables import SnapshotCatalog

        self.attempted += 1
        catalog = SnapshotCatalog(self.spark, catalog_root)
        # every url is fetched once per crawl: the docs the corpus reads
        docs_in = sum(int(s.counters["fetched"]) for s in catalog.lineage())
        trace_id = f"corpus-{len(self.corpora)}"
        try:
            t0 = time.perf_counter()
            with self._span("plans.corpus", trace_id):
                res = corpus_from_crawl(
                    catalog,
                    PreprocessParams(token_threshold=10**9, cap_n=10**9),
                    TrainingPrepParams(token_budget=4096, gate="composite"),
                )
            t1 = time.perf_counter()
            with self._span("plans.training", trace_id):
                packed = res.training.count()
            t2 = time.perf_counter()
        except Exception as e:
            self._fail(f"corpus refresh of {catalog_root}", e)
            return None
        finally:
            cached = len(self.spark.sparkContext._jsc.getPersistentRDDs())
            self.spark.catalog.clearCache()
        rec = {"catalog": catalog_root, "docs_in": docs_in, "packed": packed,
               "docs_s": t1 - t0, "pack_s": t2 - t1, "wall_s": t2 - t0,
               "cached_rdds_left": cached}
        self.corpora.append(rec)
        return rec

    # ------------------------------------------------------------ loop
    def warm_up(self) -> "Loop":
        """crawl_extract: the first round of a crawl of the same web in its
        own catalog. crawl_frontier: the first round of the measured crawl.
        Returns the loop that holds the warm-up crawl."""
        warm = self
        if self.shape.rounds_per_crawl is not None:
            warm = Loop(self.spark, self.shape, self.web, os.path.join(self.root, "warm"))
        warm.crawl_round(record=False)
        return warm

    def run(self, seconds: float) -> float:
        """Closed loop of the shape's measured rounds, back to back. Past
        MIN_ROUNDS, the next round starts only if the last one says it ends
        within ``seconds``. Returns the loop's wall time."""
        t0 = time.perf_counter()
        last = 0.0
        while len(self.errors) < 3 and len(self.rounds) < self.shape.measured_rounds:
            elapsed = time.perf_counter() - t0
            if len(self.rounds) >= MIN_ROUNDS and elapsed + last > seconds:
                break
            rec = self.crawl_round()
            if rec is not None:
                last = rec["wall_s"]
        return time.perf_counter() - t0


# ---------------------------------------------------------------- metrics
def end_to_end(loop: Loop) -> dict:
    """crawl_pps: pages over crawl wall, every measured round; steady_pps:
    median over measured rounds >= 2 of the round's pages over its wall."""
    rounds = loop.rounds
    wall = sum(r["wall_s"] for r in rounds)
    steady = [r["fetched"] / r["wall_s"] for r in rounds if r["round"] >= 2]
    return {
        "crawl_pps": (sum(r["fetched"] for r in rounds) / wall if wall else 0.0, "pages/s"),
        "steady_pps": (statistics.median(steady) if steady else 0.0, "pages/s"),
    }


# ---------------------------------------------------------------- gates
def check_crawls(loop: Loop, seed: int) -> list[str]:
    """Every measured crawl's output against its oracle."""
    from news_crawler_slm_spark.sources.tables import SnapshotCatalog

    fails: list[str] = []
    for c in loop.crawls:
        if c["rounds"] == 0:
            continue
        cat = SnapshotCatalog(loop.spark, c["root"])
        try:
            if loop.shape.name == "crawl_extract":
                fails += _check_extract(cat, c, seed)
            else:
                fails += _check_frontier(cat, c, loop.web)
        except Exception as e:
            fails.append(f"gate on {c['root']}: {type(e).__name__}: {e}")
    return fails


def extract_sample(seed: int, salt: str, k: int = TEXT_SAMPLE) -> list[tuple[str, str]]:
    """A seeded sample of crawl_extract pages as (url, html), rebuilt
    sequentially from the generator's pure per-page function."""
    from news_crawler_slm_spark.sources.synthetic_web import LANGS, _bench_page_html

    urls = [(h, i) for h in range(EXTRACT_HOSTS) for i in range(EXTRACT_PAGES)]
    out = []
    for h, i in random.Random(f"{seed}:{salt}").sample(urls, k):
        host = f"bench{h}.example.com"
        html = _bench_page_html(seed, host, i, LANGS[h % len(LANGS)], EXTRACT_PARAS)
        out.append((f"https://{host}/p{i}", html.decode("utf-8")))
    return out


def _check_extract(cat, c, seed: int) -> list[str]:
    from news_crawler_slm_spark.functions.html_clean import clean_html

    if c["rounds"] < 2:
        return []  # a crawl the run cut short has no complete url set yet
    fails = []
    pages = {r["url"]: r["text"] for r in cat.read_table("pages").select("url", "text").collect()}
    expected = {
        f"https://bench{h}.example.com/p{i}"
        for h in range(EXTRACT_HOSTS)
        for i in range(EXTRACT_PAGES)
    }
    if set(pages) != expected or len(pages) != cat.read_table("pages").count():
        fails.append(f"{c['root']}: pages url set differs from the bench web")
    for url, html in extract_sample(seed, c["root"]):
        if pages.get(url) != clean_html(html):
            fails.append(f"{c['root']}: text of {url} differs from clean_html")
    return fails


def _check_frontier(cat, c, web: Web) -> list[str]:
    """crawl_log order, seen set and page texts equal the sequential
    simulator's over the same rows and rounds; every round was a resume."""
    from news_crawler_slm_spark.crawl.semantics import CrawlParams
    from news_crawler_slm_spark.crawl.simulator import simulate

    p = web.params
    sim = simulate(
        web.rows["seeds"], web.rows["robots"], web.rows["web"],
        CrawlParams(round_budget=p.round_budget, max_articles=p.max_articles,
                    max_rounds=c["rounds"], n_buckets=p.n_buckets),
    )
    fails = []
    log = [
        (r["round"], r["seq"], r["host"], r["url"], r["status"])
        for r in cat.read_table("crawl_log").orderBy("round", "seq").collect()
    ]
    if log != sim.crawl_log:
        fails.append(f"{c['root']}: crawl_log differs from the simulator")
    if {r["url"] for r in cat.read_table("seen").select("url").collect()} != sim.seen:
        fails.append(f"{c['root']}: seen set differs from the simulator")
    pages = {
        r["url"]: (r["text"], r["lang"], r["publisher"])
        for r in cat.read_table("pages").collect()
    }
    if pages != sim.pages:
        fails.append(f"{c['root']}: page texts differ from the simulator")
    return fails


def check_stream(loop: Loop) -> list[str]:
    """The stream ingest equals its batch twins over the same files, and a
    fresh-checkpoint replay adds nothing."""
    from news_crawler_slm_spark.operators.cms import cms_table
    from news_crawler_slm_spark.operators.hll import hll_registers
    from news_crawler_slm_spark.sources.tables import SnapshotCatalog
    from news_crawler_slm_spark.streaming.cardinality import REGISTER_TABLE
    from news_crawler_slm_spark.streaming.frequency import CELLS_TABLE

    if not loop.streams:
        return ["no stream ingest ran"]
    spark = loop.spark
    fails = []
    batch = spark.read.schema(PAGES_DDL).parquet(loop.source_glob)
    cats = {k: SnapshotCatalog(spark, r) for k, r in loop.stream_roots.items()}
    want, got = batch.count(), cats["catalog_sink"].read_table("pages").count()
    if want != got:
        fails.append(f"stream catalog holds {got} rows, input has {want}")
    hll_want = {(r["register"], r["rank"]) for r in hll_registers(batch, "url", HLL_P).collect()}
    hll_got = {(r["register"], r["rank"]) for r in cats["cardinality"].read_table(REGISTER_TABLE).collect()}
    if hll_want != hll_got:
        fails.append("stream HLL registers differ from batch hll_registers")
    cms_want = {
        (r["row"], r["col"], r["cnt"])
        for r in cms_table(batch, "publisher", CMS_DEPTH, CMS_WIDTH).collect()
    }
    cms_got = {(r["row"], r["col"], r["cnt"]) for r in cats["frequency"].read_table(CELLS_TABLE).collect()}
    if cms_want != cms_got:
        fails.append("stream CMS cells differ from batch cms_table")
    before = {k: c.current_snapshot_id() for k, c in cats.items()}
    loop.replay = loop.stream_ingest(replay=True)
    after = {k: c.current_snapshot_id() for k, c in cats.items()}
    if before != after:
        fails.append(f"fresh-checkpoint replay committed snapshots: {before} -> {after}")
    return fails


def check_corpus(loop: Loop) -> list[str]:
    return [
        f"corpus over {c['catalog']}: docs_in={c['docs_in']} packed={c['packed']}"
        for c in loop.corpora
        if c["docs_in"] <= 0 or not 0 <= c["packed"] <= c["docs_in"]
    ]

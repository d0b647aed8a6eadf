#!/usr/bin/env python3
"""Benchmark command.

    python3 perfbench/run.py --workload crawl_extract|crawl_frontier \
        --seed N --seconds S --trace 0|1

Run from the repository root. One process starts a local Spark session on
every core of the box, generates the workload's inputs from the seed, warms
up, then runs one closed-loop client through the workload's measured
rounds (``--seconds`` caps them) and checks every output against an
independent oracle. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). The line
before it holds the run's detail (op samples, ``ops_total``,
``ops_failed_frac``, gate failures). CONTRACT.md documents every name.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "news_crawler_slm_spark")
# fits one local JVM plus its Python workers in 15 GB. The heap is fixed and
# touched at start, so the JVM's RSS does not swing with the collector's
# sizing; of the heap, only the data the program caches is counted
DRIVER_MEM = "4g"


class MemorySampler(threading.Thread):
    """Peak memory of this process's descendants, sampled together:

    - outside the JVM heap, from /proc: the driver JVM's RSS less its
      committed heap, plus the Python workers' PSS (forked workers share
      pages with the daemon they fork from);
    - on the heap, from Spark: the in-memory bytes of every cached or
      persisted dataset. The rest of the heap's use is garbage not yet
      collected, broadcast blocks not yet cleaned and execution pages, whose
      amounts follow the collector and task timing, not the program.
    """

    def __init__(self, spark, period_s: float = 0.25):
        super().__init__(daemon=True)
        self.sc = spark.sparkContext._jsc.sc()
        mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.heap_committed = mx.getMemoryMXBean().getHeapMemoryUsage().getCommitted()
        self.period_s = period_s
        self.peak_bytes = 0
        self.peak_parts = {"outside_heap": 0, "cached": 0}
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    @staticmethod
    def _tree() -> dict[int, int]:
        """pid -> parent pid of every process on the box."""
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat", "rb") as f:
                    stat = f.read()
            except OSError:
                continue
            # the command name may hold spaces: fields follow the last ')'
            parent[int(d)] = int(stat[stat.rindex(b")") + 2:].split()[1])
        return parent

    @staticmethod
    def _comm(pid: int) -> str:
        try:
            with open(f"/proc/{pid}/comm") as f:
                return f.read().strip()
        except OSError:
            return ""

    def _resident(self, pid: int, jvm: bool) -> int:
        try:
            if jvm:
                with open(f"/proc/{pid}/statm") as f:
                    return int(f.read().split()[1]) * self._page
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass  # the process ended between listing and reading
        return 0

    def cached(self) -> int:
        return sum(info.memSize() for info in self.sc.getRDDStorageInfo())

    def processes(self) -> int:
        parent, me, total = self._tree(), os.getpid(), 0
        for pid in parent:
            p, hops = parent.get(pid), 0
            while p not in (None, 0, me) and hops < 64:
                p, hops = parent.get(p), hops + 1
            if p != me:
                continue
            if self._comm(pid) == "java":
                # a process the JVM is spawning is still a copy of it: skip
                if self._comm(parent[pid]) != "java":
                    total += self._resident(pid, jvm=True) - self.heap_committed
            else:
                total += self._resident(pid, jvm=False)
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            parts = {"outside_heap": self.processes(), "cached": self.cached()}
            self.peak_bytes = max(self.peak_bytes, sum(parts.values()))
            for k, v in parts.items():
                self.peak_parts[k] = max(self.peak_parts[k], v)
            self._stop_evt.wait(self.period_s)

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak_bytes / 2**20


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _prepare_env(tmp: str) -> None:
    """Python workers must import the package from this checkout, and every
    Spark scratch file stays under the run's temp dir."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    for d in ("local", "tmp", "warehouse", "events"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _session(shape, cores: int, tmp: str, trace: bool):
    from news_crawler_slm_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
            f"-Dderby.system.home={os.path.join(tmp, 'tmp')}"
        ),
        "spark.ui.showConsoleProgress": "false",
        **shape.extra_conf,
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(tmp, "events"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(f"perfbench-{shape.name}", cores=cores,
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to end
    (its Python workers end with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args) -> dict:
    from perfbench import workloads
    from perfbench.trace import Tracer, install

    shape = workloads.SHAPES[args.workload]
    cores = _cores()
    tag = f"{args.workload}-{args.seed}-{'trace' if args.trace else 'e2e'}"
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{tag}-{os.getpid()}")
    os.makedirs(tmp)
    _prepare_env(tmp)
    mem = None
    spark = None
    fails: list[str] = []
    layers, extras = None, {}
    try:
        t0 = time.perf_counter()
        spark = _session(shape, cores, tmp, bool(args.trace))
        t1 = time.perf_counter()
        mem = MemorySampler(spark)
        mem.start()
        web = workloads.make_web(spark, shape, args.seed, os.path.join(tmp, "gen"), cores)
        t2 = time.perf_counter()
        loop = workloads.Loop(spark, shape, web, os.path.join(tmp, "run"))
        warm = loop.warm_up()
        t3 = time.perf_counter()
        setup = {"start_s": t1 - t0, "gen_s": t2 - t1, "warmup_s": t3 - t2}
        if warm is not loop:
            loop.errors += warm.errors
            loop.failed += warm.failed

        tracer = None
        if args.trace:
            tracer = loop.tracer = Tracer()
            install(tracer)
        epoch_minus_perf = time.time() - time.perf_counter()
        loop_s = loop.run(float(args.seconds))
        peak_mb = mem.stop()  # over input generation, warm-up and the loop
        e2e = workloads.end_to_end(loop)
        if args.trace:
            loop.stream_ingest()
            if shape.corpus:
                loop.corpus_refresh(loop.crawls[-1]["root"])
            loop.tracer = None  # the gates below are not traced

        fails += workloads.check_crawls(loop, args.seed)
        if args.trace:
            from perfbench import layers as L

            fails += workloads.check_stream(loop) + workloads.check_corpus(loop)
            sample = L.html_clean_sample(shape, web, args.seed)
            counts = L.state_counts(spark, loop)
            _stop(spark)
            spark = None
            layers = L.per_layer(
                loop, tracer, os.path.join(tmp, "events"),
                os.path.join(tmp, "gen", "web.parquet"), epoch_minus_perf,
                sample, counts, setup,
            )
            # the same end-to-end numbers, measured with tracing on: their
            # gap to an untraced run of the seed is the tracing overhead
            layers.update({f"trace.{k}": v for k, v in e2e.items()})
            extras = L.corpus_layers(loop) if loop.corpora else {}
            out = os.path.join(ROOT, ".perfbench_out", tag)
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(out, "spans.jsonl"))
            with open(os.path.join(out, "layers.json"), "w", encoding="utf-8") as f:
                json.dump({k: {"value": v, "unit": u} for k, (v, u) in {**layers, **extras}.items()},
                          f, indent=1)
    finally:
        if mem is not None:
            mem.stop()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(tmp))
    e2e["setup_s"] = (setup["start_s"] + setup["gen_s"] + setup["warmup_s"], "s")
    e2e["peak_rss_mb"] = (peak_mb, "MB")
    # an op that raised is counted by the loop; each failed oracle check
    # counts one more failed op
    attempted = loop.attempted
    failed = min(attempted, loop.failed + len(fails))
    fails = loop.errors + fails
    detail = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "loop_s": loop_s, "setup": setup,
        "peak_mb_parts": {k: v / 2**20 for k, v in mem.peak_parts.items()},
        "ops_total": attempted, "ops_failed_frac": failed / max(1, attempted),
        "rounds": [{k: r[k] for k in ("crawl", "round", "wall_s", "fetched", "pop_s")}
                   for r in loop.rounds],
        "stream_ops": [{"wall_s": s["wall_s"], "rows": s["rows"]} for s in loop.streams],
        "corpus_ops": loop.corpora,
        "failures": fails,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "extra_layers": {k: {"value": v, "unit": u} for k, (v, u) in extras.items()},
    }
    metrics = layers if args.trace else e2e
    return {
        "detail": detail,
        "result": {
            "correct": not fails,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["crawl_extract", "crawl_frontier"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(PACKAGE):
        print(f"perfbench: package not found at {PACKAGE}; run from a full checkout",
              file=sys.stderr)
        return 2
    out = run(args)
    print(json.dumps({"detail": out["detail"]}, default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())

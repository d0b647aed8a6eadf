#!/usr/bin/env python
"""Noop-sink isolated per-query timing (optimization guide §1.4) — the
round-7 working harness.  NOT the driver bench: bench.py is frozen for
measurement; this file exists so individual queries can be timed (and
re-timed after a change) without paying the full bench's crawl legs.

Usage: python bench_extra.py [query ...]
  no args -> every bench.py HEADLINE query.
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf1.0 — the driver's r06
     measurement scale), SPARK_GRAFT_CPUS, SPARK_GRAFT_EXTRA_REPEATS (default 3).
Prints one JSON line {name: best_sec, ...} and a sorted table to stderr.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
REPEATS = int(os.environ.get("SPARK_GRAFT_EXTRA_REPEATS", "3"))


def main() -> None:
    names = sys.argv[1:]

    import bench
    import __spark_entry__ as entry_mod
    from news_crawler_slm_spark.session import cache_scope, get_spark

    if not names:
        names = list(bench.HEADLINE)
    spark = get_spark("bench-extra")
    qs = entry_mod.queries()
    sc = spark.sparkContext
    # one scope over build, warm-up and timed passes: the timed runs read
    # the caches the warm-up filled, and all are released at the end
    with cache_scope():
        dfs = {n: qs[n](spark, SF_DIR) for n in names}
        for n in names:  # warm-up (JIT, file index, page cache)
            sc.setJobDescription(f"warmup:{n}")
            dfs[n].write.format("noop").mode("overwrite").save()
        best = {n: float("inf") for n in names}
        for r in range(REPEATS):
            for n in names:
                sc.setJobDescription(f"timed{r}:{n}")
                t0 = time.monotonic()
                dfs[n].write.format("noop").mode("overwrite").save()
                best[n] = min(best[n], time.monotonic() - t0)
    sc.setJobDescription(None)
    out = {n: round(best[n], 4) for n in names}
    for n, s in sorted(out.items(), key=lambda kv: -kv[1]):
        print(f"{s:9.3f}  {n}", file=sys.stderr)
    print(f"{'total':>9}  {sum(out.values()):.3f}", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

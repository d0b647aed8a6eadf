"""Record the tiny event log that ``test_eventlog.py`` reads.

    python3 perfbench/testdata/record_eventlog.py

Four SQL executions:

1. the write of the input, ``web.parquet``, which the other three read as
   the marked scan "web";
2. a pandas UDF over the scan, written to ``data/pages/snap-1``;
3. an aggregate over a cached projection of the scan, written to
   ``data/host_counts/snap-1`` (it materializes the cache, so the scan runs);
4. a projection of the same cache written to ``data/seen/snap-1`` (the
   cache serves it: its plan prints the scan, but the scan does not run).

Only the SQL, job and task events are kept (without the plan text), and
the recording directory is replaced by ``/data/example`` so the file names
no machine path.
"""

# no ``from __future__ import annotations``: pandas_udf reads the hints
import glob
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
KEEP = ("SQLExecutionStart", "SQLExecutionEnd", "SQLAdaptiveExecutionUpdate",
        "DriverAccumUpdates", "SparkListenerJobStart", "SparkListenerTaskEnd")
NEUTRAL = "/data/example"


def main() -> int:
    import pandas as pd
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    work = tempfile.mkdtemp(prefix="perfbench-evlog-")
    events = os.path.join(work, "events")
    os.makedirs(events)
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + events)
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    try:
        web_path = os.path.join(work, "web.parquet")
        spark.range(200).selectExpr(
            "id", "concat('<p>', cast(id as string), '</p>') as html"
        ).repartition(2).write.parquet(web_path)
        web = spark.read.parquet(web_path)

        @F.pandas_udf("string")
        def strip(html: pd.Series) -> pd.Series:
            return html.str.replace("<p>", "").str.replace("</p>", "")

        data = os.path.join(work, "cat", "data")
        web.select("id", strip("html").alias("text")).write.parquet(f"{data}/pages/snap-1")
        slim = web.select("id").cache()
        slim.groupBy((F.col("id") % 10).alias("host")).count().write.parquet(
            f"{data}/host_counts/snap-1"
        )
        slim.select((F.col("id") * 2).alias("url_hash")).write.parquet(f"{data}/seen/snap-1")
    finally:
        spark.stop()

    out = os.path.join(HERE, "eventlog_tiny.jsonl")
    with open(out, "w", encoding="utf-8") as f:
        for path in sorted(glob.glob(os.path.join(events, "**", "*"), recursive=True)):
            if not os.path.isfile(path) or os.path.basename(path).startswith((".", "appstatus")):
                continue
            with open(path, encoding="utf-8") as src:
                for line in src:
                    e = json.loads(line)
                    if e["Event"].endswith(KEEP):
                        # the reader needs the plan tree, not its text
                        e.pop("physicalPlanDescription", None)
                        e.pop("details", None)
                        if e["Event"] == "SparkListenerJobStart":
                            e["Properties"] = {
                                k: v for k, v in e.get("Properties", {}).items()
                                if k == "spark.sql.execution.id"
                            }
                        f.write(json.dumps(e).replace(work, NEUTRAL) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())

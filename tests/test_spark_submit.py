"""The north rule's packaging claim, executed literally: build the
--py-files zip with scripts/make_pyfiles.py, then `spark-submit --py-files
<zip> scripts/crawl_job.py` in a fresh JVM with the repo root NOT on
sys.path — the job must import the engine from the shipped zip alone, run
a real crawl, and resume from the committed catalog on re-submit."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAKE = os.path.join(REPO, "scripts", "make_pyfiles.py")
JOB = os.path.join(REPO, "scripts", "crawl_job.py")


def _submit(zip_path: str, catalog: str, rounds: int) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--py-files", zip_path,
            JOB,
            "--catalog", catalog,
            "--rounds", str(rounds),
            "--hosts", "6",
            "--pages", "18",
        ],
        capture_output=True,
        text=True,
        timeout=420,
        cwd="/tmp",  # NOT the repo root: imports must come from the zip
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    last = [l for l in proc.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(last)


def test_spark_submit_pyfiles_runs_and_resumes(tmp_path):
    zip_path = str(tmp_path / "news_crawler_slm_spark.zip")
    subprocess.run([sys.executable, MAKE, zip_path], check=True)
    # the shipped zip must carry every engine module
    with zipfile.ZipFile(zip_path) as z:
        names = set(z.namelist())
    import pathlib

    src = pathlib.Path(REPO) / "news_crawler_slm_spark"
    missing = [
        str(p.relative_to(REPO))
        for p in src.rglob("*.py")
        if str(p.relative_to(REPO)) not in names
    ]
    assert not missing, f"zip is missing: {missing}"

    catalog = str(tmp_path / "cat")
    first = _submit(zip_path, catalog, rounds=2)
    assert first["rounds_run"] == 2 and first["fetched"] > 0

    # re-submit against the same catalog: exactly-once resume, no refetch
    second = _submit(zip_path, catalog, rounds=1)
    assert second["final_round"] == first["final_round"] + 1
    assert second["rounds_run"] == 1

#!/usr/bin/env python
"""Build dist/news_crawler_slm_spark.zip for spark-submit --py-files.

    python scripts/make_pyfiles.py [OUT]   # OUT defaults to the path above

Plain-zip of the package source (no wheels needed offline); executors add
the zip to sys.path, so every mapInPandas/pandas_udf closure can import
``news_crawler_slm_spark.*`` on any worker node.
"""

from __future__ import annotations

import argparse
import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "news_crawler_slm_spark"
OUT = os.path.join(REPO, "dist", f"{PKG}.zip")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("out", nargs="?", default=OUT, help="zip path to write")
    out = os.path.abspath(ap.parse_args().out)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(os.path.join(REPO, PKG)):
            for fn in sorted(files):
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    z.write(full, os.path.relpath(full, REPO))
    print(out)


if __name__ == "__main__":
    main()

"""Cold and warm timings of individual registry rows from one checkout.

For each named query, the first `.count()` in the process is reported
as `cold` (rows that persist a frame are judged on it: their warm reps
re-read the cached frame), then REPS timed warm runs give `median`.
clearCache runs between queries.  Prints one JSON line.  Interleave
invocations across checkouts (A B A B) so both sides see the same
weather; keep the query order the same on both sides, since only the
first row pays the Python workers' start-up.

Usage: python tools/ab_rows.py <repo_dir> <q1,q2,...> [sf_dir]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

repo = os.path.abspath(sys.argv[1])
names = sys.argv[2].split(",")
SF_DIR = os.path.abspath(sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1")
REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5")))

sys.path.insert(0, repo)
# Python workers import the package from the JVM's working directory,
# which comes before PYTHONPATH: start Spark from `repo` so that they
# run the same checkout as this process
os.chdir(repo)

from snappydata_spark import get_spark  # noqa: E402
from snappydata_spark.operators import QUERIES  # noqa: E402


def _timed(fn, spark) -> float:
    t0 = time.time()
    fn(spark, SF_DIR).count()
    return round(time.time() - t0, 3)


def main():
    spark = get_spark("ab-rows")
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    out = {}
    for name in names:
        fn = QUERIES[name]
        cold = _timed(fn, spark)
        runs = [_timed(fn, spark) for _ in range(REPS)]
        out[name] = {
            "cold": cold,
            "median": round(statistics.median(runs), 3),
            "runs": runs,
            "load1": round(os.getloadavg()[0], 2),
        }
        spark.catalog.clearCache()
    print(json.dumps({"repo": repo, "rows": out}))


if __name__ == "__main__":
    main()

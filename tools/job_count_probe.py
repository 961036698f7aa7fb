#!/usr/bin/env python
"""Spark-job-count receipts for the r13 eager→lazy checkpoint folding.

For each named query, runs it bench-style once inside a job group and
reports how many Spark jobs the driver scheduled (statusTracker ids in
the group) plus the wall time. The folding claim is "same work, fewer
scheduled jobs" — this is the receipt for the 'fewer jobs' half; the
bench A/B is the wall-time half; parity is the same-results half.

Usage: python tools/job_count_probe.py --names a,b,c [--runs 1]
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from whisky_wine_etl_spark import plans  # noqa: E402
from whisky_wine_etl_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--names", required=True)
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--out", default="")
    args = ap.parse_args()

    names = [n for n in args.names.split(",") if n]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    plans.load_all()
    spark = get_spark(cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    plans.QUERIES["flagship_q5_revenue_by_nation"](spark, sf_dir).collect()

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    out: dict[str, dict] = {}
    for name in names:
        jobs, walls = [], []
        for i in range(args.runs):
            group = f"jobcount:{name}:{i}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            df = plans.QUERIES[name](spark, sf_dir)
            df.collect()
            walls.append(round(time.perf_counter() - t0, 3))
            sc.setJobGroup(None, None)
            jobs.append(len(tracker.getJobIdsForGroup(group)))
            spark.catalog.clearCache()
            gc.collect()
        out[name] = {"jobs": jobs, "wall_s": walls}
    doc = json.dumps(out, indent=1, sort_keys=True)
    if args.out:
        with open(args.out, "w") as f:
            f.write(doc)
    print(doc)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

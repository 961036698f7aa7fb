#!/usr/bin/env python
"""Per-query fixed-overhead profiler (r13, guide §1 / VERDICT r12 next-1).

Splits each HEADLINE query's bench-style wall time into:

- build_s: calling plans.QUERIES[name](spark, sf_dir) — py4j round
  trips + DataFrame construction (+ any driver-side fit loops/jobs the
  query runs while building);
- plan_s: forcing queryExecution().executedPlan() — Catalyst analysis,
  optimization and physical planning, no execution;
- exec_s: the subsequent collect()/noop write, which reuses the
  already-planned QueryExecution.

The (build_s + plan_s) component is the per-query fixed overhead the
r12 verdict flagged (~90-290 ms/query x 130 queries); this tool finds
WHERE it lives so the fix targets the right queries.

Usage: python tools/overhead_profile.py [--names a,b] [--runs 3] [--out f]
Honors SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS like bench.py.
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
    ap.add_argument("--names", default="")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out", default="")
    args = ap.parse_args()

    import bench

    names = [n for n in args.names.split(",") if n] or list(bench.HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    plans.load_all()
    spark = get_spark(cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    plans.QUERIES[bench.HEADLINE[0]](spark, sf_dir).collect()  # warmup

    full_table_results = {"wine_pipeline"}
    rows: dict[str, dict] = {}
    for name in names:
        samples = {"build_s": [], "plan_s": [], "exec_s": []}
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"overhead:{name}")
            t0 = time.perf_counter()
            df = plans.QUERIES[name](spark, sf_dir)
            t1 = time.perf_counter()
            # force full Catalyst planning without executing
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            if name in full_table_results:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.collect()
            t3 = time.perf_counter()
            samples["build_s"].append(t1 - t0)
            samples["plan_s"].append(t2 - t1)
            samples["exec_s"].append(t3 - t2)
            spark.sparkContext.setJobDescription(None)
            spark.catalog.clearCache()
            gc.collect()

        def med(xs: list[float]) -> float:
            s = sorted(xs)
            m = len(s) // 2
            return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2

        rows[name] = {k: round(med(v), 3) for k, v in samples.items()}
        rows[name]["total_s"] = round(sum(rows[name].values()), 3)

    out = {
        "queries": rows,
        "sum_build_s": round(sum(r["build_s"] for r in rows.values()), 2),
        "sum_plan_s": round(sum(r["plan_s"] for r in rows.values()), 2),
        "sum_exec_s": round(sum(r["exec_s"] for r in rows.values()), 2),
    }
    line = json.dumps(out, indent=1, sort_keys=True)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line)
    print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

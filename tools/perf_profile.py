#!/usr/bin/env python
"""Per-query perf profiler for the r12 optimization round.

For each named query (default: every bench HEADLINE entry):

- times `n` executions with the SAME methodology as bench.py
  (collect(), or noop sink for full-table results), reporting the
  median;
- optionally writes `.explain("formatted")` to
  plans/r12/<query>_<tag>.txt (the judge-facing plan evidence).

Usage:
    python tools/perf_profile.py [--names a,b,c] [--runs 3]
        [--explain-tag before] [--no-time]

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
    ap.add_argument("--explain-tag", default="")
    ap.add_argument("--no-time", action="store_true")
    ap.add_argument("--out", default="")
    ap.add_argument("--plan-dir", default="r13")
    args = ap.parse_args()

    import bench

    names = [n for n in args.names.split(",") if n] or list(bench.HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    plans.load_all()
    spark = get_spark(cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # same warmup as bench.py
    plans.QUERIES[bench.HEADLINE[0]](spark, sf_dir).collect()

    full_table_results = {"wine_pipeline"}
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    plan_dir = os.path.join(here, "plans", args.plan_dir)
    if args.explain_tag:
        os.makedirs(plan_dir, exist_ok=True)

    results: dict[str, list[float]] = {n: [] for n in names}
    for name in names:
        if args.explain_tag:
            import contextlib
            import io

            df = plans.QUERIES[name](spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(
                os.path.join(plan_dir, f"{name}_{args.explain_tag}.txt"), "w"
            ) as f:
                f.write(buf.getvalue())
            spark.catalog.clearCache()
            gc.collect()
        if args.no_time:
            continue
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.perf_counter()
            df = plans.QUERIES[name](spark, sf_dir)
            if name in full_table_results:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.collect()
            results[name].append(time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)
            spark.catalog.clearCache()
            gc.collect()

    if not args.no_time:
        def med(xs: list[float]) -> float:
            s = sorted(xs)
            m = len(s) // 2
            return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2

        timings = {n: round(med(xs), 3) for n, xs in results.items()}
        out = {
            "queries": timings,
            "samples": {n: [round(x, 3) for x in xs] for n, xs in results.items()},
            "total": round(sum(timings.values()), 3),
        }
        line = json.dumps(out, indent=1, sort_keys=True)
        if args.out:
            with open(args.out, "w") as f:
                f.write(line)
        print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

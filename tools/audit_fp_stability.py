"""FP-order stability audit for the driver slate (VERDICT r5 item 4).

The one red driver row of round 5 (ts_cusum_rate_drift) passed local
parity — meaning the local Spark+DuckDB pair produced bit-identical
values while the driver's pair did not. The only mechanism for that is
environment-dependent float accumulation order (different Spark task
splits, different DuckDB thread counts) feeding a rounding boundary.

This audit perturbs exactly those knobs and requires BIT-IDENTICAL
canonicalized outputs:

* Spark: each query runs under (shuffle.partitions=32, default scan
  splits) and again under (shuffle.partitions=7, 1 MiB scan splits) —
  different partition counts change both scan-side and shuffle-side
  float summation order.
* DuckDB: each oracle runs with threads=8 and threads=1 — parallel
  aggregation order vs sequential.

A query whose output survives both perturbations has no float-order
surface for the driver to diverge on (short of a different DuckDB
ROUND implementation, which the floor-pin discipline addresses
separately).

Usage: python tools/audit_fp_stability.py <sf_dir> [name1,name2,...]
Default names: the exact 50-query slate the round-6 driver will pull.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from whisky_wine_etl_spark import plans  # noqa: E402
from whisky_wine_etl_spark.parity import _canon_rows, duckdb_connection  # noqa: E402
from whisky_wine_etl_spark.session import get_spark  # noqa: E402


def driver_slate(n: int = 50) -> list[str]:
    """The EXACT slate the driver pulls: defer to __spark_entry__'s
    ordering (unverified first, then the git-derived recheck tier) instead
    of re-deriving it here — a local re-derivation drifted once
    already (it predated the recheck tier and silently audited the
    wrong 50 names)."""
    import importlib.util

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(repo, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return list(mod.queries())[:n]


def spark_canon(spark, name: str, sf_dir: str):
    df = plans.QUERIES[name](spark, sf_dir)
    rows = [tuple(r) for r in df.collect()]
    out = _canon_rows(list(df.columns), rows)
    spark.catalog.clearCache()
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    plans.load_all()
    names = sys.argv[2].split(",") if len(sys.argv) > 2 else driver_slate()
    spark = get_spark(cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    con = duckdb_connection(sf_dir)
    bad: list[str] = []
    for name in names:
        msgs = []
        # --- Spark under two partitionings ---
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
            spark.conf.unset("spark.sql.files.maxPartitionBytes")
            a = spark_canon(spark, name, sf_dir)
            spark.conf.set("spark.sql.shuffle.partitions", "7")
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 20))
            b = spark_canon(spark, name, sf_dir)
            spark.conf.set("spark.sql.shuffle.partitions", "32")
            spark.conf.unset("spark.sql.files.maxPartitionBytes")
            if a != b:
                diffs = [(x, y) for x, y in zip(a, b) if x != y][:2]
                msgs.append(f"SPARK-UNSTABLE first_diffs={diffs}")
        except Exception as e:  # noqa: BLE001
            msgs.append(f"SPARK-ERROR {type(e).__name__}: {str(e).splitlines()[0][:120]}")
        # --- DuckDB under two thread counts ---
        if name in plans.ORACLES:
            try:
                sql = plans.ORACLES[name]
                con.execute("SET threads=8")
                rel = con.execute(sql)
                dc = [d[0] for d in rel.description]
                da = _canon_rows(dc, rel.fetchall())
                con.execute("SET threads=1")
                rel = con.execute(sql)
                db_ = _canon_rows(dc, rel.fetchall())
                con.execute("SET threads=8")
                if da != db_:
                    diffs = [(x, y) for x, y in zip(da, db_) if x != y][:2]
                    msgs.append(f"DUCK-UNSTABLE first_diffs={diffs}")
            except Exception as e:  # noqa: BLE001
                msgs.append(f"DUCK-ERROR {type(e).__name__}: {str(e).splitlines()[0][:120]}")
        status = "; ".join(msgs) if msgs else "STABLE"
        print(f"{name:<40} {status}", flush=True)
        if msgs:
            bad.append(name)
    print(f"\n{len(names) - len(bad)}/{len(names)} stable")
    if bad:
        print("unstable:", ",".join(bad))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())

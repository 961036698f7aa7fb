"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in the ``whisky_wine_etl_spark`` package; this
module only adapts the package's query registry to the contract.
"""

from __future__ import annotations

import functools
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from whisky_wine_etl_spark import plans, recheck  # noqa: E402
from whisky_wine_etl_spark.session import tune_session  # noqa: E402

plans.load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    tune_session(spark)
    return plans.QUERIES["flagship_q5_revenue_by_nation"](spark, "/root/testdata/sf0.001")


@functools.cache
def _recheck_tier() -> frozenset[str]:
    """Verified names changed since their green row (see
    whisky_wine_etl_spark/recheck.py), derived once per process."""
    return recheck.tier(_HERE, plans.QUERIES)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Ordered so a budget-capped driver verifies the highest-value
    queries first: queries with no green CORRECTNESS row yet before
    ones already verified, and, within the verified block, the recheck
    tier (queries whose code changed since their green row) first,
    then the rest oldest green round first, so spare slate slots
    refresh the stalest evidence. The tier applies only inside the
    verified block, so it never perturbs the unverified front block.
    Ties go to reference Part-A (wine_*) queries first, then keep
    registration order (the sort is stable)."""
    rounds = recheck.green_rounds(_HERE)
    tier = _recheck_tier()
    names = list(plans.QUERIES)
    names.sort(
        key=lambda n: (
            n in rounds,
            n in rounds and n not in tier,
            rounds.get(n, 0) if n not in tier else 0,
            not n.startswith("wine_"),
        )
    )
    return {n: plans.QUERIES[n] for n in names}


def oracle_sql() -> dict[str, str]:
    """DuckDB twins for every SQL-expressible query; names not present
    here get the driver's weaker rows-only check."""
    return dict(plans.ORACLES)

"""The benchmark's workloads: which queries, at which scale, in which order.

The query lists are copied here, not imported from ``bench.py``, so that
an edit there does not change what this benchmark measures. Each list is
run in this fixed order, once untimed and then in whole timed passes.
"""

from __future__ import annotations

from dataclasses import dataclass

from perfbench.datagen import TABLES


@dataclass(frozen=True)
class Workload:
    name: str
    scale: int  # key-shifted copies of the base tables (datagen.build)
    queries: tuple[str, ...]
    why: str
    tables: tuple[str, ...] = TABLES  # the inputs the queries read


# Queries that stream a whole input table; the summed numInputRows of
# their progress events must equal that table's row count.
STREAMS_WHOLE_TABLE = {"stream_tumbling_multibatch": "events"}

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "headline",
            1,
            (
                "flagship_q5_revenue_by_nation",  # 5-way join + agg
                "join_inner_equi",  # fact-fact shuffle join
                "topk_per_group",  # window + filter
                "sim_pca_project",  # mapInPandas partial Gram + driver eigh
                "stream_tumbling_multibatch",  # window state across three micro-batches
            ),
            "fixed-cost bound: small inputs, so query building, planning and job start-up dominate",
        ),
        Workload(
            "scaled-x20",
            20,  # copies of the shipped sf0.01 base: sf0.2-sized
            (
                "agg_count_distinct",  # lineitem scan + two distinct aggregates
                "agg_heavy_hitters_mg",  # mapInPandas candidates + exact recount
                "stream_tumbling_multibatch",  # window state across three micro-batches
            ),
            "data-bound: twenty key-shifted copies, so the batch queries' scans, shuffles and Python workers dominate",
            ("lineitem", "documents", "events"),
        ),
    )
}

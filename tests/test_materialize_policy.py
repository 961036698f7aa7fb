"""r13 guard (VERDICT r12 item 6): the materialization-policy helper.

- default policy is localCheckpoint for every frame (the bench's
  measured posture — plans unchanged byte-for-byte);
- SPARK_GRAFT_MATERIALIZE=persist switches FACT-SCALE frames to
  recomputable persist(MEMORY_AND_DISK) (cluster-safe: an executor
  loss recomputes instead of failing the job) while provably-small
  frames keep localCheckpoint;
- results are mode-invariant (same rows either way);
- an unknown mode fails loudly.
"""

from __future__ import annotations

import pytest

from whisky_wine_etl_spark.materialize import materialize


def _base(spark):
    return spark.range(100).selectExpr("id", "id % 7 as k")


def test_default_is_localcheckpoint_for_all_tiers(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_MATERIALIZE", raising=False)
    for fact in (False, True):
        out = materialize(_base(spark), fact_scale=fact)
        # a localCheckpoint plan is a scan of an internal RDD
        # (LogicalRDD), not the original Range node
        assert "LogicalRDD" in out._jdf.queryExecution().optimizedPlan().toString()
        assert out.count() == 100


def test_persist_mode_switches_only_fact_scale(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "persist")
    fact = materialize(_base(spark), fact_scale=True)
    # persist keeps lineage: the plan still contains the Range source
    assert "Range" in fact._jdf.queryExecution().optimizedPlan().toString()
    assert fact.storageLevel.useDisk and fact.storageLevel.useMemory
    assert fact.count() == 100
    fact.unpersist()

    small = materialize(_base(spark), fact_scale=False)
    assert "LogicalRDD" in small._jdf.queryExecution().optimizedPlan().toString()
    assert small.count() == 100


def test_results_mode_invariant(spark, monkeypatch):
    rows = {}
    for mode in ("localCheckpoint", "persist"):
        monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", mode)
        df = materialize(_base(spark), fact_scale=True)
        agg = df.groupBy("k").count().orderBy("k")
        rows[mode] = [tuple(r) for r in agg.collect()]
        df.unpersist()
    assert rows["localCheckpoint"] == rows["persist"]


def test_unknown_mode_raises(spark, monkeypatch):
    for mode in ("mystery", "checkpoint"):  # "checkpoint" is no longer a mode
        monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", mode)
        with pytest.raises(ValueError, match="SPARK_GRAFT_MATERIALIZE"):
            materialize(_base(spark), fact_scale=True)

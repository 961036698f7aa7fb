"""Behavior tests for round-4i: Misra–Gries heavy hitters, stream-stream
left outer join."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from whisky_wine_etl_spark import plans
from whisky_wine_etl_spark.catalog import load_table
from whisky_wine_etl_spark.operators.agg import heavy_hitters_exact

SF = "/root/testdata/sf0.001"

plans.load_all()


def test_heavy_hitters_exact_on_fixture(spark):
    """300×'hot' + 30×'warm' + 200 singletons, threshold 1/10 of 530:
    only 'hot' crosses 53 — found despite k≪distinct items."""
    rows = (
        [Row(v="hot")] * 300 + [Row(v="warm")] * 30 + [Row(v=f"u{i}") for i in range(200)]
    )
    df = spark.createDataFrame(rows).repartition(4)
    out = heavy_hitters_exact(df, "v", threshold_den=10, mg_counters=16).collect()
    assert [(r.item, r.cnt, r.n_total) for r in out] == [("hot", 300, 530)]


def test_heavy_hitters_matches_plain_groupby(spark):
    """The bounded-memory path must equal the unbounded groupBy twin
    on the real corpus query."""
    out = {
        r.item: (r.cnt, r.n_total)
        for r in plans.QUERIES["agg_heavy_hitters_mg"](spark, SF).collect()
    }
    docs = load_table(spark, SF, "documents")
    arr = docs.select(F.split("text", " ").alias("w")).filter(F.size("w") >= 2)
    grams = (
        arr.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> named_struct('a', element_at(w, i),"
                    " 'b', element_at(w, i + 1)))"
                )
            ).alias("p")
        )
        .filter((F.col("p.a") != "") & (F.col("p.b") != ""))
        .select(F.concat_ws(" ", "p.a", "p.b").alias("g"))
    )
    n = grams.count()
    plain = {
        r.g: r.c
        for r in grams.groupBy("g").agg(F.count("*").alias("c")).collect()
        if r.c * 750 > n
    }
    assert {k: v[0] for k, v in out.items()} == plain
    assert all(v[1] == n for v in out.values())


def test_heavy_hitters_counter_guard(spark):
    df = spark.createDataFrame([Row(v="a")])
    with pytest.raises(ValueError, match="superset guarantee"):
        heavy_hitters_exact(df, "v", threshold_den=100, mg_counters=50)


def test_stream_left_outer_covers_every_signup(spark):
    """One output group per signup: matched signups emit their inner
    rows, unmatched emit exactly one NULL row — so distinct signup ids
    equal the batch signup count and the NULL rows are exactly the
    non-converting signups."""
    out = plans.QUERIES["stream_left_outer_attribution"](spark, SF)
    rows = out.collect()
    ev = load_table(spark, SF, "events")
    n_signups = ev.filter(F.col("event_type") == "signup").count()
    assert len({r.signup_event_id for r in rows}) == n_signups
    null_rows = [r for r in rows if r.dt_sec is None]
    assert null_rows, "expected at least one non-converting signup"
    assert all(r.purchase_value is None for r in null_rows)
    # matched part equals the inner stream-stream join result
    inner = {
        (r.signup_event_id, r.dt_sec, r.purchase_value)
        for r in plans.QUERIES["stream_stream_attribution"](spark, SF).collect()
    }
    matched = {
        (r.signup_event_id, r.dt_sec, r.purchase_value)
        for r in rows
        if r.dt_sec is not None
    }
    assert matched == inner


def test_sentinel_landing_isolated_from_plain_landing(spark):
    """The sentinel dir must not pollute the plain multibatch landing
    (other streaming queries depend on it staying sentinel-free), and
    both dirs are removed once their with-blocks end."""
    import glob
    import os

    from whisky_wine_etl_spark.streaming import pipelines as sp

    with (
        sp.multibatch_landing(spark, SF, n_files=3) as plain,
        sp.multibatch_landing_with_sentinel(spark, SF, n_files=3) as sent,
    ):
        assert plain != sent
        assert not glob.glob(os.path.join(plain, "*sentinel*"))
        assert glob.glob(os.path.join(sent, "*sentinel*"))
        # sentinel file is mtime-last so it forms the final micro-batch
        files = sorted(
            glob.glob(os.path.join(sent, "part-*.parquet")), key=os.path.getmtime
        )
        assert "sentinel" in files[-1]
    assert not os.path.exists(plain) and not os.path.exists(sent)

"""Behavior tests for round-4ag: session windows across
micro-batches."""

from __future__ import annotations

from pyspark.sql import functions as F

from whisky_wine_etl_spark import plans
from whisky_wine_etl_spark.streaming import pipelines as sp

SF = "/root/testdata/sf0.001"

plans.load_all()


def test_session_multibatch_spans_file_boundary(spark):
    """The landing split must cut through at least one session —
    otherwise the test proves nothing about cross-batch state — and
    the multibatch result must equal the single-batch sessionization
    filtered by the final watermark."""
    out = plans.QUERIES["stream_session_multibatch"](spark, SF)
    rows = {tuple(r) for r in out.collect()}
    assert rows

    # file boundaries of the landing dir
    import glob

    bounds = []
    with sp.multibatch_landing(spark, SF, n_files=3) as landing:
        for f in sorted(glob.glob(landing + "/part-*.parquet")):
            mm = spark.read.parquet(f).agg(F.min("ts"), F.max("ts")).collect()[0]
            bounds.append((mm[0], mm[1]))
    cuts = [b[1] for b in bounds[:-1]]
    # at least one emitted session straddles a cut point
    straddles = [
        r for r in rows if any(r[0] <= c and (r[1]) > c for c in cuts)
    ]
    assert straddles, "landing split never cut a session — test is vacuous"

    # equality with the complete-mode single-source twin + watermark cut
    full = plans.QUERIES["stream_session_30m"](spark, SF)
    from whisky_wine_etl_spark.catalog import load_table

    max_ts = load_table(spark, SF, "events").agg(F.max("ts")).collect()[0][0]
    import datetime as dt

    wm = max_ts - dt.timedelta(minutes=10)
    expect = {tuple(r) for r in full.collect() if r.session_end <= wm}
    assert rows == expect


def test_sliding_multibatch_equals_watermark_cut_twin(spark):
    out = {tuple(r) for r in plans.QUERIES["stream_sliding_multibatch"](spark, SF).collect()}
    assert out
    full = plans.QUERIES["stream_sliding_1h_30m"](spark, SF)
    from whisky_wine_etl_spark.catalog import load_table
    import datetime as dt

    max_ts = load_table(spark, SF, "events").agg(F.max("ts")).collect()[0][0]
    wm = max_ts - dt.timedelta(minutes=10)
    expect = {tuple(r) for r in full.collect() if r.wend <= wm}
    assert out == expect

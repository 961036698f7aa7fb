"""Streaming semantics that the DuckDB oracle cannot check:
micro-batch progression, watermark advancement, late-data drops."""

from __future__ import annotations

import datetime as dt
import time

from pyspark.sql import functions as F

from whisky_wine_etl_spark.streaming import pipelines as sp


def _write_batch(spark, directory, rows, filename):
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    df.coalesce(1).write.mode("append").parquet(str(directory))
    # the file stream source orders files by modification time; keep the
    # write order unambiguous so micro-batch order is deterministic
    time.sleep(1.1)
    return df


T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def _ts(minutes: float) -> dt.datetime:
    return T0 + dt.timedelta(minutes=minutes)


def test_watermark_drops_late_rows(spark, tmp_path):
    """Three micro-batches (maxFilesPerTrigger=1). A late row arriving
    AFTER its window was watermark-evicted is dropped — the append-mode
    output for that window is final and the state-store metric records
    the drop. (A late row whose window state still exists merges — the
    watermark contract finalizes output at eviction, not before.)"""
    land = tmp_path / "land"
    land.mkdir()
    # file 1 → wm after batch 0: 14:05 - 10 min = 13:55
    _write_batch(
        spark,
        land,
        [
            (1, _ts(5), 1, "click", 1.0),
            (2, _ts(25), 1, "click", 1.0),
            (3, _ts(65), 1, "click", 1.0),
            (4, _ts(125), 1, "click", 1.0),
        ],
        "b1",
    )
    # file 2 → processed with wm 13:55: evicts+emits the 12:00 window (n=2)
    _write_batch(spark, land, [(5, _ts(185), 1, "click", 1.0)], "b2")
    # file 3: late row for the ALREADY-EVICTED 12:00 window → dropped
    _write_batch(spark, land, [(6, _ts(10), 1, "click", 1.0)], "b3")

    stream = sp.file_events_stream(spark, str(land), max_files_per_trigger=1)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("wstart"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    q.stop()
    final = {(r.wstart, r.n) for r in spark.table("late_test").collect()}
    assert dropped == 1  # the late row was discarded by the watermark
    assert (T0, 2) in final  # 12:00 window finalized WITHOUT the late row
    assert (_ts(60), 1) in final  # 13:00 window evicted at wm 14:55
    # 14:00/15:00 windows end after the final watermark → still open
    assert all(w not in (_ts(120), _ts(180)) for w, _ in final)


def test_multi_microbatch_matches_single_batch(spark, tmp_path):
    """Same data split across 3 micro-batches (in time order) produces
    the same tumbling aggregate as one batch — state carries across
    triggers."""
    land = tmp_path / "land2"
    land.mkdir()
    rows = [(i, _ts(i * 7), i % 3, "click", float(i)) for i in range(30)]
    for chunk in (rows[:10], rows[10:20], rows[20:]):
        _write_batch(spark, land, chunk, "x")

    stream = sp.file_events_stream(spark, str(land), max_files_per_trigger=1)
    agg = (
        stream.withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sv"))
        .select(F.col("window.start").alias("wstart"), "n", "sv")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("mb_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # ran as 3 separate micro-batches
    assert len(q.recentProgress) >= 3
    q.stop()
    streamed = {(r.wstart, r.n, r.sv) for r in spark.table("mb_test").collect()}

    batch = (
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
        )
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sv"))
        .select(F.col("window.start").alias("wstart"), "n", "sv")
    )
    assert streamed == {(r.wstart, r.n, r.sv) for r in batch.collect()}


def test_streaming_session_merges_across_batches(spark, tmp_path):
    """A session spanning two micro-batches merges into one window."""
    land = tmp_path / "land3"
    land.mkdir()
    _write_batch(spark, land, [(1, _ts(0), 7, "click", 1.0), (2, _ts(10), 7, "click", 1.0)], "a")
    _write_batch(spark, land, [(3, _ts(20), 7, "click", 1.0), (4, _ts(300), 7, "click", 1.0)], "b")
    stream = sp.file_events_stream(spark, str(land), max_files_per_trigger=1)
    sess = (
        stream.withWatermark("ts", "1 minute")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("session_window.start").alias("s"),
            F.col("session_window.end").alias("e"),
            "n",
        )
    )
    q = (
        sess.writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    got = {(r.s, r.e, r.n) for r in spark.table("sess_test").collect()}
    assert (T0, _ts(50), 3) in got  # rows 1-3 merged across batches
    assert (_ts(300), _ts(330), 1) in got


def test_stateful_anomalies_state_carries_across_batches(spark, tmp_path):
    """applyInPandasWithState: the running mean accumulated in batch 1
    must drive anomaly decisions in batch 2."""
    from whisky_wine_etl_spark.streaming.stateful import running_anomalies

    land = tmp_path / "land4"
    land.mkdir()
    # batch 1: user 7 mean settles at 10.0
    _write_batch(spark, land, [(1, _ts(0), 7, "c", 10.0), (2, _ts(1), 7, "c", 10.0)], "a")
    # batch 2: 25.0 > 2×10 → anomalous; 12.0 is not; user 8's first row
    # has no prior mean → never anomalous
    _write_batch(
        spark, land,
        [(3, _ts(2), 7, "c", 25.0), (4, _ts(3), 7, "c", 12.0), (5, _ts(4), 8, "c", 99.0)],
        "b",
    )
    stream = sp.file_events_stream(spark, str(land), max_files_per_trigger=1)
    q = (
        running_anomalies(stream)
        .writeStream.format("memory")
        .queryName("stateful_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 2
    q.stop()
    got = {r.event_id: r.anomalous for r in spark.table("stateful_test").collect()}
    assert got == {1: False, 2: False, 3: True, 4: False, 5: False}


def test_foreach_batch_max_upsert_matches_batch_twin(spark, tmp_path):
    """Streaming foreachBatch upsert over multiple micro-batches ends
    at exactly the batch groupBy-max result (max is order-insensitive,
    so any batching yields the same table)."""
    import pyspark.sql.functions as F

    from whisky_wine_etl_spark.streaming import pipelines as sp

    land = str(tmp_path / "landing")
    rows = [(i, f"2024-01-01 0{i % 8}:00:00", i % 5, "click", float((i * 37) % 100)) for i in range(60)]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    # three files → three micro-batches with maxFilesPerTrigger=1
    for part in range(3):
        df.filter(F.col("event_id") % 3 == part).coalesce(1).write.mode("append").parquet(land)

    target = str(tmp_path / "target")
    stream = sp.file_events_stream(spark, land, max_files_per_trigger=1)
    sp.run_foreach_batch_max_upsert(spark, stream, target, keys=["user_id"], value_col="value")

    got = {r["user_id"]: r["value"] for r in spark.read.parquet(target).collect()}
    want = {
        r["user_id"]: r["value"]
        for r in df.groupBy("user_id").agg(F.max("value").alias("value")).collect()
    }
    assert got == want


def test_multibatch_landing_is_range_ordered_and_multi_batch(spark, sf_small):
    """The registered stream_tumbling_multibatch query really runs one
    micro-batch per landing file (cross-batch window/watermark state),
    and the range split guarantees no cross-batch late data."""
    from whisky_wine_etl_spark.streaming import pipelines as sp

    import glob
    import os

    with sp.multibatch_landing(spark, sf_small, n_files=3) as landing:
        parts = sorted(glob.glob(os.path.join(landing, "part-*.parquet")))
        assert len(parts) == 3
        bounds = [
            spark.read.parquet(p).agg(F.min("ts"), F.max("ts")).first() for p in parts
        ]
        for earlier, later in zip(bounds, bounds[1:], strict=False):
            assert earlier[1] <= later[0]  # time-disjoint: nothing arrives late

        s = sp.tumbling_counts(sp.file_events_stream(spark, landing, max_files_per_trigger=1))
        q = (
            s.writeStream.format("memory")
            .queryName("mb_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        q.stop()
    assert len(data_batches) == 3  # one micro-batch per file


def test_tws_matches_applyinpandaswithstate(spark):
    """Spark 4's transformWithStateInPandas twin must emit row-for-row
    what the applyInPandasWithState operator emits. The TWS state
    server speaks protobuf from a separate python worker; skip when
    the environment can't import it (this container ships no
    google.protobuf), keeping the operator gated, not broken."""
    import pytest

    pytest.importorskip("google.protobuf.descriptor")
    from whisky_wine_etl_spark.streaming import pipelines as sp
    from whisky_wine_etl_spark.streaming.stateful import (
        running_anomalies,
        running_anomalies_tws,
    )

    sf = "/root/testdata/sf0.001"
    a = sp.run_to_memory(spark, running_anomalies(sp.events_stream(spark, sf)), "append")
    b = sp.run_to_memory(spark, running_anomalies_tws(sp.events_stream(spark, sf)), "append")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_events_schema_cache_invalidates_on_rewrite(spark, tmp_path):
    """The footer-probe memo must be keyed on the file's stat, not its
    path: the test driver regenerates events.parquet (sometimes with a
    different ts physical type) between rounds, and a stale cached
    schema would null or reject the ts column on the new file."""
    import os
    import shutil

    d = tmp_path / "sf"
    d.mkdir()
    path = str(d / "events.parquet")
    shutil.copy("/root/testdata/sf0.001/events.parquet", path)
    first = sp._events_raw_schema(spark, str(d))
    assert "ts" in first.fieldNames()
    # regenerate with a deliberately different schema (ts as long)
    spark.createDataFrame(
        [(1, 1_700_000_000_000_000_000, 1, "click", 1.0, "{}")],
        "event_id long, ts long, user_id long, event_type string, value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "_tmp"))
    part = next(p for p in os.listdir(str(d / "_tmp")) if p.endswith(".parquet"))
    shutil.copy(str(d / "_tmp" / part), path)
    second = sp._events_raw_schema(spark, str(d))
    assert second["ts"].dataType.simpleString() == "bigint"


def test_latest_per_key_update_mode_across_batches(spark, tmp_path):
    """Update-mode latest-state-per-key: each micro-batch emits only
    touched keys (not the full state table — the scale contract that
    rules out complete mode), and the sink-side keyed max_by
    compaction recovers exactly the batch ranked-window answer even
    when a key's rows span several batches out of final order within
    the key."""
    land = tmp_path / "landlpk"
    land.mkdir()
    b1 = [(1, _ts(0), 1, "click", 1.0), (2, _ts(1), 2, "view", 2.0)]
    b2 = [(3, _ts(10), 1, "buy", 3.0)]  # user 1 updated, user 2 untouched
    b3 = [(4, _ts(20), 3, "click", 4.0), (5, _ts(21), 1, "view", 5.0)]
    for chunk in (b1, b2, b3):
        _write_batch(spark, land, chunk, "x")

    stream = sp.file_events_stream(spark, str(land), max_files_per_trigger=1)
    latest = stream.groupBy("user_id").agg(
        F.expr(
            "max_by(named_struct('event_type', event_type, 'value', value,"
            " 'ts', ts, 'event_id', event_id),"
            " named_struct('ts', ts, 'event_id', event_id))"
        ).alias("m")
    )
    out = latest.select(
        "user_id",
        F.col("m.event_type").alias("last_event_type"),
        F.round("m.value", 4).alias("last_value"),
        F.col("m.ts").alias("__ord_ts"),
        F.col("m.event_id").alias("__ord_event_id"),
    )
    log = sp.run_to_memory(spark, out, "update").cache()
    per_user = {r.user_id: r.cnt for r in log.groupBy("user_id").count().withColumnRenamed("count", "cnt").collect()}
    # user 1 touched in 3 batches → 3 update rows; user 2 only in batch 1
    assert per_user[1] == 3
    assert per_user[2] == 1
    assert per_user[3] == 1
    compact = (
        log.groupBy("user_id")
        .agg(
            F.expr(
                "max_by(named_struct('let', last_event_type, 'lv', last_value),"
                " named_struct('ts', __ord_ts, 'event_id', __ord_event_id))"
            ).alias("m")
        )
        .select(
            "user_id",
            F.col("m.let").alias("last_event_type"),
            F.col("m.lv").alias("last_value"),
        )
    )
    got = {(r.user_id, r.last_event_type, r.last_value) for r in compact.collect()}
    assert got == {(1, "view", 5.0), (2, "view", 2.0), (3, "click", 4.0)}


def test_ephemeral_checkpoint_guards(spark, tmp_path, monkeypatch):
    """A writable SPARK_GRAFT_STREAM_CHK_BASE holds the per-query
    checkpoint; an unset or missing base falls back to None (Spark's
    own temporary checkpoint)."""
    monkeypatch.setenv("SPARK_GRAFT_STREAM_CHK_BASE", str(tmp_path))
    got = sp._ephemeral_checkpoint_dir(spark, "sink1")
    assert got is not None and got.startswith(str(tmp_path))
    assert got.endswith("sink1")

    monkeypatch.setenv("SPARK_GRAFT_STREAM_CHK_BASE", str(tmp_path / "absent"))
    assert sp._ephemeral_checkpoint_dir(spark, "sink1") is None
    monkeypatch.delenv("SPARK_GRAFT_STREAM_CHK_BASE")
    assert sp._ephemeral_checkpoint_dir(spark, "sink1") is None


def test_sessions_use_filesystem_checkpoint_manager(spark):
    """Every stream writes its checkpoint through the FileSystem-based
    manager: get_spark builds the session with it, and tune_session
    sets it on a session built elsewhere."""
    from whisky_wine_etl_spark.session import (
        CHECKPOINT_FILE_MANAGER,
        CHECKPOINT_FILE_MANAGER_CONF,
        tune_session,
    )

    assert CHECKPOINT_FILE_MANAGER.endswith(".FileSystemBasedCheckpointFileManager")
    assert spark.conf.get(CHECKPOINT_FILE_MANAGER_CONF) == CHECKPOINT_FILE_MANAGER

    other = spark.newSession()
    other.conf.unset(CHECKPOINT_FILE_MANAGER_CONF)
    assert other.conf.get(CHECKPOINT_FILE_MANAGER_CONF, None) != CHECKPOINT_FILE_MANAGER
    tune_session(other)
    assert other.conf.get(CHECKPOINT_FILE_MANAGER_CONF) == CHECKPOINT_FILE_MANAGER


def test_sessions_enable_python_filter_pushdown(spark):
    """Python data-source filter pushdown is a session setting, not one
    a query sets: get_spark builds the session with it, and
    tune_session sets it on a session built elsewhere."""
    from whisky_wine_etl_spark.session import PYTHON_FILTER_PUSHDOWN_CONF, tune_session

    assert spark.conf.get(PYTHON_FILTER_PUSHDOWN_CONF) == "true"
    other = spark.newSession()
    other.conf.set(PYTHON_FILTER_PUSHDOWN_CONF, "false")
    tune_session(other)
    assert other.conf.get(PYTHON_FILTER_PUSHDOWN_CONF) == "true"


def test_run_to_memory_leaves_no_temp_views(spark, sf_small):
    """run_to_memory drops its memory-sink view: three runs leave the
    session's temp views as they were, and every returned DataFrame
    still collects its rows after the later runs."""

    def views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    from whisky_wine_etl_spark.catalog import load_table

    aggs = [
        lambda df: df.groupBy("event_type").count(),
        lambda df: df.groupBy("user_id").agg(F.sum("value").alias("total")),
        lambda df: df.groupBy("event_type").agg(F.max("value").alias("top")),
    ]
    before = views()
    events = sp.events_stream(spark, sf_small)
    outs = [sp.run_to_memory(spark, agg(events), "complete") for agg in aggs]
    assert views() == before

    batch = load_table(spark, sf_small, "events")
    for got, agg in zip(outs, aggs):
        rows = got.collect()
        assert rows
        assert sorted(map(tuple, rows)) == sorted(map(tuple, agg(batch).collect()))

"""SparkSession factory.

Scale posture (SURVEY.md §4.3): AQE on (runtime re-plan, skew joins,
partition coalescing), UTC session timezone, Arrow enabled for the few
Pandas-UDF extension paths, shuffle partitions sized to the local core
count rather than the 200 default. On a real cluster the same builder
applies — only master/memory change.

ANSI contract (pinned in round 5): ``spark.sql.ansi.enabled`` is set to
TRUE explicitly in both ``get_spark`` and ``tune_session`` so the engine
never depends on the host default. The engine is ANSI-clean by
construction — every lossy cast in the query surface goes through
``try_cast``/``try_divide``/``try_to_*`` (the reference's T-1
``to_numeric(errors='coerce')`` semantics map to ``try_cast`` exactly,
so ANSI-on does not change wine-pipeline behavior), and scale-dependent
integer arithmetic is widened to DECIMAL(38,0) where products can
exceed int64 (see ``plans/round4ba.py``). ANSI-on is the safe posture:
a genuine overflow fails loudly instead of wrapping silently into a
wrong-but-green answer.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Streaming checkpoint writer: Hadoop's FileSystem API instead of the
# default FileContext one (see the comment in get_spark). The package
# name is the PySpark 4.1 one; a wrong name stops every stream from
# starting, so the streaming tests catch a rename.
CHECKPOINT_FILE_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
PYTHON_FILTER_PUSHDOWN_CONF = "spark.sql.python.filterPushdown.enabled"


def get_spark(
    app_name: str = "whisky-wine-etl-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    n = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or n
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # r13 (guide §1/§5 — the driver should do almost no per-query
        # work): PySpark 4's DataFrame-debugging aid wraps EVERY
        # DataFrame/Column API call with a Python stack walk plus two
        # extra py4j round trips (conf lookup + PySparkCurrentOrigin
        # .set) to attach user-code call sites to error messages.
        # Measured on this box: ~5-10 ms per DataFrame op with it on
        # vs ~5 ms off (same-process A/B: select p50 7.6-10.7 ->
        # 4.9-5.4 ms, 30-op withColumn chain 227-350 -> 148-150 ms) —
        # across ~130 bench queries that is tens of seconds of pure
        # driver-side overhead. Results are unaffected (error-message
        # enrichment only); scale-independent, so the same posture is
        # right on a cluster. Static conf: must be set at build time.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Every micro-batch writes offset-log, commit-log and state-store
        # files through a CheckpointFileManager. Spark's default one goes
        # through Hadoop's FileContext, which is slow on a local FS: in a
        # traced perfbench `headline` pass (4 micro-batches, local[4],
        # PySpark 4.1.2) the FileSystem-based manager cut offset-log
        # writes 143 -> 34.5 ms, commit-log writes 147.5 -> 36.5 ms and
        # state-store commits 1,497 -> 78.5 ms, and the median
        # micro-batch 561 -> 388 ms over ten paired runs. It writes a
        # temp file and renames it, which is atomic on a local path with
        # one writer per checkpoint, the only kind Spark allows; Spark
        # falls back to it itself when FileContext is unavailable.
        # Results are unaffected. Runtime conf, so tune_session sets it too.
        .config(CHECKPOINT_FILE_MANAGER_CONF, CHECKPOINT_FILE_MANAGER)
        # Python data sources whose reader implements pushFilters()
        # (sources/pyds.py range_events) are REJECTED outright, not
        # just left unpushed, while this is false. Runtime conf, so
        # tune_session sets it too, once per session rather than from
        # inside a query.
        .config(PYTHON_FILTER_PUSHDOWN_CONF, "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs this engine relies on to a session
    we did not build (the driver hands us its own SparkSession).

    Only touches confs that are safe to set mid-session.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    spark.conf.set(CHECKPOINT_FILE_MANAGER_CONF, CHECKPOINT_FILE_MANAGER)
    spark.conf.set(PYTHON_FILTER_PUSHDOWN_CONF, "true")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:
        pass
    # Same per-call debugging-aid shutdown as get_spark (see comment
    # there), for sessions we did NOT build: the conf is static, so on
    # a live session the only lever is PySpark's own memo of it. Best
    # effort — a PySpark release that renames the memo just keeps the
    # (correct, slower) default.
    try:
        import pyspark.errors.utils as _eu

        _eu._enable_debugging_cache = False
    except Exception:
        pass
    return spark

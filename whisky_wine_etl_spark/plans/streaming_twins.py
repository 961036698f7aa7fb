"""Streaming pipelines registered as driver-checkable queries.

Each entry RUNS the Structured Streaming pipeline to completion
(trigger(availableNow=True) → memory sink) and returns the sink as a
batch DataFrame, so the DuckDB oracle verifies the *streaming* result
directly — a stronger check than verifying a batch rewrite. The
pipelines are deterministic: windowed aggregations run in complete
mode (every closed-and-open window emitted), and the dedup projects
key columns only, so arrival order cannot leak into values.

SURVEY.md §2 Part B streaming row: watermark + tumbling / sliding /
session windows, streaming dedup. Late-data-drop semantics are
exercised in tests/test_streaming.py with a two-file landing dir and
maxFilesPerTrigger=1 (needs multiple micro-batches, so it cannot be
oracle-checked here — the contract's rows-only carve-out).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from whisky_wine_etl_spark.plans.registry import query
from whisky_wine_etl_spark.streaming import pipelines as sp


@query(
    "stream_tumbling_1h",
    """
SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS wend,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY 1, 2, 3
""",
)
def stream_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = sp.tumbling_counts(sp.events_stream(spark, sf_dir))
    return sp.run_to_memory(spark, s, "complete")


@query(
    "stream_tumbling_multibatch",
    """
WITH m AS (SELECT MAX(CAST(ts AS TIMESTAMP)) - INTERVAL 10 MINUTES AS wm FROM events),
agg AS (
  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS wstart,
         time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) + INTERVAL '1 hour' AS wend,
         event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(SUM(value), 4) AS sum_value
  FROM events
  GROUP BY 1, 2, 3
)
SELECT wstart, wend, event_type, n, sum_value
FROM agg, m WHERE wend <= m.wm
""",
)
def stream_tumbling_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-batch streaming under the oracle's eye: events split into
    3 time-range files (multibatch_landing), streamed one file per
    micro-batch — tumbling-window state and the watermark must carry
    across batches. Run in APPEND mode, so only windows the final
    watermark closed are emitted; because the files are range-ordered
    nothing arrives late, making the emitted set exactly closed-form:
    all 1 h windows with wend <= max(ts) - 10 min. A full value-hash
    check on genuine cross-batch state — stronger than the rows-only
    carve-out (late-data DROPS, which need disordered files, stay in
    tests/test_streaming.py)."""
    with sp.multibatch_landing(spark, sf_dir, n_files=3) as landing:
        s = sp.tumbling_counts(sp.file_events_stream(spark, landing, max_files_per_trigger=1))
        return sp.run_to_memory(spark, s, "append")


@query(
    "stream_sliding_1h_30m",
    """
WITH s AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) - k.k * INTERVAL '30 minutes' AS wstart,
         e.*
  FROM events e, (SELECT unnest(range(0, 2)) AS k) k(k)
)
SELECT wstart,
       wstart + INTERVAL '1 hour' AS wend,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 4) AS sum_value
FROM s
GROUP BY 1, 2
""",
)
def stream_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = sp.sliding_counts(sp.events_stream(spark, sf_dir))
    return sp.run_to_memory(spark, s, "complete")


@query(
    "stream_session_30m",
    """
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   < INTERVAL '30 minutes'
              THEN 0 ELSE 1 END AS new_sess
  FROM events
),
s AS (
  SELECT user_id, ts, value,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess
  FROM o
)
SELECT MIN(ts) AS session_start,
       MAX(ts) + INTERVAL '30 minutes' AS session_end,
       user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM s
GROUP BY user_id, sess
""",
)
def stream_session_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = sp.session_stats(sp.events_stream(spark, sf_dir))
    return sp.run_to_memory(spark, s, "complete")


@query(
    "stream_distinct_user_event",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def stream_distinct_user_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = sp.distinct_user_event(sp.events_stream(spark, sf_dir))
    return sp.run_to_memory(spark, s, "append")


@query(
    "stream_stateful_anomalies",
    """
WITH w AS (
  SELECT user_id, event_id, value,
         AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prior_avg
  FROM events
)
SELECT user_id, event_id, value,
       COALESCE(prior_avg IS NOT NULL AND value > 2.0 * prior_avg, FALSE) AS anomalous
FROM w
""",
)
def stream_stateful_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running-mean anomaly flags. Single-batch input makes the streaming
    result equal the event-time window computation, so the DuckDB
    oracle verifies the custom state logic exactly; cross-batch state
    carry is tested in tests/test_streaming.py."""
    from whisky_wine_etl_spark.streaming.stateful import running_anomalies

    s = running_anomalies(sp.events_stream(spark, sf_dir))
    return sp.run_to_memory(spark, s, "append")


@query(
    "stream_static_enrich",
    """
SELECT COALESCE(c.c_mktsegment, 'unknown') AS segment,
       e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(e.value), 4) AS sum_value
FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
GROUP BY 1, 2
""",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event STREAM enriched with the batch
    customer dimension (broadcast per micro-batch), aggregated by
    segment — verified directly against the equivalent batch join."""
    from whisky_wine_etl_spark.catalog import load_table

    dim = load_table(spark, sf_dir, "customer")
    s = sp.enrich_with_segment(sp.events_stream(spark, sf_dir), dim)
    return sp.run_to_memory(spark, s, "complete")


@query(
    "stream_stream_attribution",
    """
SELECT s.event_id AS signup_event_id,
       s.user_id,
       CAST(floor(epoch(p.ts)) AS BIGINT) - CAST(floor(epoch(s.ts)) AS BIGINT) AS dt_sec,
       ROUND(p.value, 4) AS purchase_value
FROM events s JOIN events p
  ON p.user_id = s.user_id
 AND p.ts >= s.ts AND p.ts < s.ts + INTERVAL 1 HOUR
WHERE s.event_type = 'signup' AND p.event_type = 'purchase'
""",
)
def stream_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM join (both sides unbounded, watermark + time-range
    condition bounding state) run to completion in append mode and
    verified against the batch theta join."""
    s = sp.stream_stream_attribution(sp.events_stream(spark, sf_dir))
    return sp.run_to_memory(spark, s, "append")

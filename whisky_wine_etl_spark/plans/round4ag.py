"""Round-4ag: session-window state across micro-batches — the
session analogue of stream_tumbling_multibatch.

Registered AFTER round4af so the driver's unverified-first ordering
keeps the earlier backlog in the front verification slots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from whisky_wine_etl_spark.plans.registry import query
from whisky_wine_etl_spark.streaming import pipelines as sp


@query(
    "stream_session_multibatch",
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
),
agg AS (
  SELECT MIN(ts) AS session_start,
         MAX(ts) + INTERVAL '30 minutes' AS session_end,
         user_id,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         ROUND(SUM(value), 4) AS sum_value
  FROM s
  GROUP BY user_id, sess
),
wm AS (SELECT MAX(ts) - INTERVAL '10 minutes' AS w FROM events)
SELECT a.* FROM agg a, wm WHERE a.session_end <= wm.w
""",
)
def stream_session_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows under MULTI-batch execution: events stream one
    range-partitioned file per micro-batch, so sessions that span a
    file boundary exist only if session state (including the
    merge-on-gap-overlap logic) carries across batches — the thing a
    single-batch run never exercises. Append mode emits exactly the
    sessions the final watermark closed: session_end (last event +
    30 min gap) <= max(ts) − 10 min, which the oracle states in
    closed form because the range-ordered files guarantee nothing
    arrives late. The emitted set hash-matches the batch
    sessionization — cross-batch session merging verified by value,
    not by rows-only counting."""
    with sp.multibatch_landing(spark, sf_dir, n_files=3) as landing:
        s = sp.session_stats(
            sp.file_events_stream(spark, landing, max_files_per_trigger=1)
        )
        return sp.run_to_memory(spark, s, "append")


@query(
    "stream_sliding_multibatch",
    """
WITH s AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) - k.k * INTERVAL '30 minutes' AS wstart,
         e.*
  FROM events e, (SELECT unnest(range(0, 2)) AS k) k(k)
),
agg AS (
  SELECT wstart, wstart + INTERVAL '1 hour' AS wend,
         CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(SUM(value), 4) AS sum_value
  FROM s GROUP BY 1, 2
),
wm AS (SELECT MAX(ts) - INTERVAL '10 minutes' AS w FROM events)
SELECT a.* FROM agg a, wm WHERE a.wend <= wm.w
""",
)
def stream_sliding_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (1 h / 30 min) windows under multi-batch execution —
    every event lives in TWO window states that must both survive the
    micro-batch boundary. Append mode emits windows the final
    watermark closed (wend <= max(ts) − 10 min, closed-form because
    the range-ordered landing guarantees no late rows). Completes the
    multibatch matrix: tumbling (round 3), session (above), sliding
    (here) — all hash-verified against batch oracles, not rows-only."""
    with sp.multibatch_landing(spark, sf_dir, n_files=3) as landing:
        s = sp.sliding_counts(
            sp.file_events_stream(spark, landing, max_files_per_trigger=1)
        )
        return sp.run_to_memory(spark, s, "append")

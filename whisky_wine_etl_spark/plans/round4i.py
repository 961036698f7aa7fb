"""Round-4i additions: bounded-memory exact heavy hitters
(Misra–Gries two-pass) and the stream-stream LEFT OUTER join.

Registered AFTER round4h (plans.load_all imports this module last) so
the driver's unverified-first ordering keeps the earlier backlog in
the front verification slots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whisky_wine_etl_spark.catalog import load_table
from whisky_wine_etl_spark.plans.registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Heavy hitters — the frequent-pattern primitive with the property the
# plain groupBy lacks: pass 1 never holds more than k counters per
# task, so it works even when the DISTINCT ITEM SET (here: word
# bigrams; at 100 TB, URLs / n-grams / join keys) doesn't fit in any
# single aggregation hash table. The exact recount of the candidate
# superset makes the final answer exact, so the oracle is the plain
# threshold GROUP BY.
# ---------------------------------------------------------------------------


@query(
    "agg_heavy_hitters_mg",
    """
WITH tk AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t,
         generate_subscripts(string_split(text, ' '), 1) AS i
  FROM documents
),
bg AS (
  SELECT a.t || ' ' || b.t AS item
  FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.i = a.i + 1
  WHERE a.t <> '' AND b.t <> ''
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM bg)
SELECT item, CAST(COUNT(*) AS BIGINT) AS cnt,
       (SELECT n_total FROM n) AS n_total
FROM bg GROUP BY item
HAVING COUNT(*) * 750 > (SELECT n_total FROM n)
""",
)
def agg_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word bigrams occurring more often than 1/750 of all bigram
    occurrences, found exactly with bounded memory: a map-only
    Misra–Gries candidate pass (k=1500 counters per task, Arrow
    batches) whose union provably superset-covers every true heavy
    hitter, then an exact broadcast-semi recount of candidates only.
    See operators/agg.heavy_hitters_exact for the guarantee.

    The bigram enumeration is a per-document array transform — no
    positional self-join; the oracle phrases the same adjacency as an
    index join, which IS quadratic-ish per doc and exists as ground
    truth only."""
    from whisky_wine_etl_spark.operators.agg import heavy_hitters_exact

    docs = _t(spark, sf_dir, "documents")
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
    return heavy_hitters_exact(grams, "g", threshold_den=750, mg_counters=1500)


# ---------------------------------------------------------------------------
# Stream-stream LEFT OUTER join — the attribution question the inner
# join can't answer: which signups NEVER converted inside the
# horizon? Outer emission is watermark-gated (a NULL row is a proof,
# valid only once no matching purchase can still arrive), which is
# exactly the semantics the sentinel flush batch exercises.
# ---------------------------------------------------------------------------


@query(
    "stream_left_outer_attribution",
    """
WITH s AS (
  SELECT event_id AS signup_event_id, user_id, ts AS sts
  FROM events WHERE event_type = 'signup'
),
p AS (
  SELECT user_id AS pu, ts AS pts, value
  FROM events WHERE event_type = 'purchase'
)
SELECT signup_event_id, user_id,
       CAST(floor(epoch(pts)) AS BIGINT) - CAST(floor(epoch(sts)) AS BIGINT)
         AS dt_sec,
       ROUND(value, 4) AS purchase_value
FROM s LEFT JOIN p
  ON pu = user_id AND pts >= sts AND pts < sts + INTERVAL 1 HOUR
""",
)
def stream_left_outer_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM left outer join across REAL micro-batches:
    signups joined to same-user purchases within 1 h, with one
    NULL-padded row for signups that never converted. Unmatched rows
    only leave state when the watermark passes signup_ts + horizon,
    so the landing dir ends with a far-future sentinel batch
    (multibatch_landing_with_sentinel) that flushes every real
    signup — making the append-mode stream result equal the batch
    left join, which is the oracle. State is bounded by
    watermark + horizon on both sides exactly as in the inner form.

    Cost pricing (VERDICT r4 item 6, re-measured r6): wall time is
    micro-batch MACHINERY, not plan cost. Per-batch progress metrics
    at sf0.1/local[32] show a ~0.8-1.2 s floor per micro-batch
    (addBatch + summed state-store commits across 8 partitions × 4
    join stores — even a 0-row finalize batch costs 0.75 s), so the
    batch COUNT is the lever: the outer join's semantics need real
    data in SOME batch strictly BEFORE the sentinel batch (unmatched
    rows may only emit once the watermark proves no match can
    arrive), not one-batch-per-file, so all 3 real files load in ONE
    trigger and the sentinel forms the second (cross-batch
    watermark-carry at one-file-per-trigger is what the dedicated
    stream_*_multibatch matrix covers). Measured: 5 batches ~5.5-6 s
    → 3 batches ~3.5 s warm; result rows identical (oracle
    hash-verified). The inherent part is the sentinel batch itself —
    without it the stream result would silently withhold the newest
    unmatched signups and stop equaling the batch left join."""
    from whisky_wine_etl_spark.streaming import pipelines as sp

    with sp.multibatch_landing_with_sentinel(spark, sf_dir, n_files=3) as landing:
        stream = sp.file_events_stream(spark, landing, max_files_per_trigger=3)
        out = sp.stream_stream_left_outer(stream)
        res = sp.run_to_memory(spark, out, "append")
    return res.filter(F.col("user_id") >= 0)

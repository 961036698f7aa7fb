"""Round-9a queries — registered at round-9 open via ``register()``.

Built and parity-tested during round 8 but deliberately held out of
the registry so CORRECTNESS_r08's 50-slot slate covered every
remaining unverified name (the 100% driver-verification milestone,
SURVEY §20 item 1). ``plans.load_all()`` now calls ``register()``:

- ``join_salted_skew`` — the join-side demonstration of
  agg_salted_skew's lever (operators/agg.salted_join): the same
  hot-key shape, salt-and-replicate instead of one straggler reducer,
  identical results by construction — the oracle is the plain join.
- ``stream_full_outer_attribution`` — stream-stream FULL OUTER join
  with two-sided watermark state eviction; the left-outer twin
  (plans/round4i.py) covers unmatched signups, this adds unmatched
  PURCHASES (both-sides-NULL-padding semantics are distinct: a
  purchase with no same-user signup in the preceding horizon emits a
  proof row once the signup watermark clears it).

Both names sort into the driver slate's unverified front block in
__spark_entry__.queries(); tests/test_round9_staged.py parity-checks
both against their oracles in every pytest run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whisky_wine_etl_spark.catalog import load_table
from whisky_wine_etl_spark.plans.registry import QUERIES, SparkQuery, query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# join_salted_skew — skew-safe inner equi-join, exact by construction.
# ---------------------------------------------------------------------------

_JOIN_SALTED_SKEW_SQL = """
WITH l AS (
  SELECT CASE WHEN l_linenumber >= 4 THEN 0 ELSE l_partkey END AS k,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
  FROM lineitem
)
SELECT p_brand,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS sum_price_cents
FROM l JOIN part ON p_partkey = k
GROUP BY p_brand
"""


def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join under manufactured key skew, executed with
    salt-and-replicate (operators/agg.salted_join): ~57% of lineitem
    rows are remapped onto ONE join key (partkey 0), the exact shape
    where a plain hash-shuffle join sends a third of the table to a
    single reducer. The left (skewed) side gets a uniform salt in
    0..7; the right side is replicated once per salt value through a
    single explode, so the join key becomes (k, salt) and the hot
    key's rows land on 8 reducers instead of 1. Exactness is by
    construction — every (l, r) match meets in exactly one bucket —
    and the oracle proves it: the SQL is the PLAIN join.

    Output is all-integer (cents sum, counts; discipline rule 1 of
    tools/logs/r8_oracle_fragility_audit.md). At 100 TB this is the
    explicit fallback for plans AQE's skew-join split can't touch
    (co-partitioned inputs, hinted strategies); the zero-code
    alternative (spark.sql.adaptive.skewJoin) is plan-tested
    elsewhere. Replication cost model in the operator docstring:
    right side pays |right| x salt_buckets through the shuffle, worth
    it exactly when hot-key rows >> that."""
    from whisky_wine_etl_spark.operators.agg import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_linenumber") >= 4, F.lit(0))
        .otherwise(F.col("l_partkey"))
        .alias("k"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = salted_join(li, pt, "k", "p_partkey", salt_buckets=8)
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sum_price_cents"),
    )


# ---------------------------------------------------------------------------
# stream_full_outer_attribution — two-sided watermark eviction.
# ---------------------------------------------------------------------------

_STREAM_FULL_OUTER_SQL = """
WITH s AS (
  SELECT event_id AS signup_event_id, user_id AS s_user, ts AS sts
  FROM events WHERE event_type = 'signup'
),
p AS (
  SELECT event_id AS purchase_event_id, user_id AS p_user, ts AS pts, value
  FROM events WHERE event_type = 'purchase'
)
SELECT signup_event_id,
       purchase_event_id,
       COALESCE(s_user, p_user) AS user_id,
       CAST(floor(epoch(pts)) AS BIGINT) - CAST(floor(epoch(sts)) AS BIGINT)
         AS dt_sec,
       CAST(FLOOR(value * 10000 + 0.5) AS BIGINT) AS value_4dp
FROM s FULL JOIN p
  ON p_user = s_user AND pts >= sts AND pts < sts + INTERVAL 1 HOUR
"""


def stream_full_outer_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM full outer join across REAL micro-batches:
    signups matched to same-user purchases within 1 h, one NULL-padded
    row for every signup that never converted AND one for every
    purchase no signup preceded — the side the left-outer twin
    (stream_left_outer_attribution, plans/round4i.py) cannot emit.
    Purchase-side state eviction is the new semantics under test: the
    join condition bounds signup_ts ∈ (purchase_ts − 1h, purchase_ts],
    so an unmatched purchase emits exactly when the signup watermark
    passes its ts — a proof no late signup can still claim it. The
    far-future sentinel batch (multibatch_landing_with_sentinel)
    advances BOTH watermarks past every real row, flushing both tails,
    which makes the append-mode stream equal the batch FULL JOIN — the
    oracle. Same 2-trigger batch plan as the left twin (3 real files
    in one trigger + sentinel; per-micro-batch state-store commit
    floor priced there). Output is all-integer apart from ids
    (value at 4 dp as BIGINT via the shared floor discipline)."""
    from whisky_wine_etl_spark.streaming import pipelines as sp

    with sp.multibatch_landing_with_sentinel(spark, sf_dir, n_files=3) as landing:
        stream = sp.file_events_stream(spark, landing, max_files_per_trigger=3)
        out = sp.stream_stream_full_outer(stream)
        res = sp.run_to_memory(spark, out, "append")
    return res.filter(F.col("user_id") >= 0)


STAGED: dict[str, tuple[SparkQuery, str]] = {
    "join_salted_skew": (join_salted_skew, _JOIN_SALTED_SKEW_SQL),
    "stream_full_outer_attribution": (
        stream_full_outer_attribution,
        _STREAM_FULL_OUTER_SQL,
    ),
}


def register() -> None:
    """Flip the staged queries into the live registry (round 9)."""
    for name, (fn, sql) in STAGED.items():
        if name not in QUERIES:
            query(name, sql)(fn)

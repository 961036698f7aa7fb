"""Round-4f additions: foreachBatch streaming upsert (registered over
the existing sink helper), Spearman rank correlation, and per-document
token entropy.

Registered AFTER round4e (plans.load_all imports this module last) so
the driver's unverified-first ordering keeps the earlier backlog in
the front verification slots.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whisky_wine_etl_spark.catalog import load_table
from whisky_wine_etl_spark.operators.keys import add_running_total
from whisky_wine_etl_spark.plans.registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# foreachBatch upsert — the streaming SINK side of the CDC story:
# stream_latest_per_key emits the update log; this pipeline MAINTAINS
# the keyed store across micro-batches (versioned-parquet
# reduce-merge, the plain-parquet stand-in for Delta/Iceberg MERGE).
# ---------------------------------------------------------------------------


@query(
    "stream_foreachbatch_upsert",
    """
SELECT user_id, ROUND(MAX(value), 4) AS max_value
FROM events GROUP BY user_id
""",
)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming max-per-user maintained through a foreachBatch
    reduce-merge sink across 3 REAL micro-batches, then read back
    from the published parquet target.

    The events table streams one time-range file per trigger
    (multibatch_landing), so the store genuinely carries state
    between batches; each batch pre-aggregates to one row per
    touched key before merging (merge join bounded by distinct keys,
    not batch rows), versions are committed _SUCCESS-atomically, and
    retried batch ids merge over the last version below them
    (idempotent). max() is commutative/associative, so the final
    table equals the batch groupBy — which is exactly the oracle.
    See streaming/pipelines.run_foreach_batch_max_upsert for the
    durability contract."""
    from whisky_wine_etl_spark.streaming import pipelines as sp

    target = os.path.join(
        tempfile.gettempdir(),
        "sg_febupsert_"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
        + "_"
        + hashlib.md5(spark.sparkContext.applicationId.encode()).hexdigest()[:10],
    )
    # each call streams a landing dir of its own, which an earlier call's
    # checkpoint cannot resume, so every call starts a fresh stream
    for d in (target, target + "_chk", target + "_versions"):
        shutil.rmtree(d, ignore_errors=True)
    with sp.multibatch_landing(spark, sf_dir, n_files=3) as landing:
        stream = sp.file_events_stream(spark, landing, max_files_per_trigger=1).select(
            "user_id", "value"
        )
        sp.run_foreach_batch_max_upsert(
            spark, stream, target, keys=["user_id"], value_col="value"
        )
    return spark.read.parquet(target).select(
        "user_id", F.round("value", 4).alias("max_value")
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation — the monotonic-association measure
# (rank-based, outlier-robust) next to the Pearson coefficient that
# agg_stats_corr_regr already reports.
# ---------------------------------------------------------------------------


@query(
    "stat_spearman_corr",
    """
WITH s AS (
  SELECT o_totalprice AS x, c_acctbal AS y
  FROM orders JOIN customer ON c_custkey = o_custkey
),
r AS (
  SELECT rank() OVER (ORDER BY x)
           + (CAST(COUNT(*) OVER (PARTITION BY x) AS DOUBLE) - 1) / 2 AS rx,
         rank() OVER (ORDER BY y)
           + (CAST(COUNT(*) OVER (PARTITION BY y) AS DOUBLE) - 1) / 2 AS ry,
         x, y
  FROM s
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(corr(x, y), 4) AS pearson,
       ROUND(corr(rx, ry), 4) AS spearman
FROM r
""",
)
def stat_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (average ranks for ties) between
    order price and the ordering customer's account balance, with
    the Pearson coefficient alongside.

    Scale plan: the oracle ranks every row through global windows
    (ground truth, single-task at scale). The engine builds each
    variable's average-rank map on its DISTINCT-VALUE frame — one
    partial-agg shuffle to (value, count), a two-pass range-partition
    running total (operators/keys.add_running_total, exclusive form)
    for the cumulative counts, avg_rank = cum_before + (t+1)/2 —
    then joins the two tiny maps back by value and takes one corr
    aggregate. No global sort ever touches the fact join."""
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    s = orders.join(
        cust, orders.o_custkey == cust.c_custkey
    ).select(F.col("o_totalprice").alias("x"), F.col("c_acctbal").alias("y"))
    s = s.localCheckpoint(eager=True)  # scanned once per rank map + once for corr

    def rank_map(col: str) -> DataFrame:
        d = s.groupBy(col).agg(F.count(F.lit(1)).alias("__t"))
        cum = add_running_total(
            d, [col], "__t", out_col="__cb", inclusive=False
        )
        return cum.select(
            col,
            (F.col("__cb") + (F.col("__t") + 1) / 2.0).alias(f"r{col}"),
        )

    ranked = s.join(rank_map("x"), "x").join(rank_map("y"), "y")
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.corr("x", "y"), 4).alias("pearson"),
        F.round(F.corr("rx", "ry"), 4).alias("spearman"),
    )


# ---------------------------------------------------------------------------
# Token entropy — the information-theoretic repetitiveness signal for
# corpus quality gates: low-entropy documents are boilerplate/spam,
# the complement of text_repetition_signals' n-gram ratios.
# ---------------------------------------------------------------------------


@query(
    "text_token_entropy",
    """
WITH tok AS (
  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
  WHERE term <> ''
  GROUP BY doc_id, term
),
d AS (
  SELECT doc_id, SUM(c) AS n, CAST(COUNT(*) AS BIGINT) AS n_unique,
         ln(SUM(c)) - SUM(c * ln(c)) / SUM(c) AS h
  FROM tok GROUP BY doc_id
)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, n_unique,
       ROUND(h, 6) AS entropy,
       ROUND(CASE WHEN n_unique > 1 THEN h / ln(n_unique) END, 6)
         AS entropy_norm
FROM d
""",
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (nats)
    and its normalized form H/ln(n_unique) ∈ [0,1] (NULL for
    single-type documents, where it is undefined).

    Scale plan: tokenize-explode → ONE partial-aggregated groupBy to
    (doc, term, count) → one per-doc aggregate. Entropy is computed
    from counts with the -Σ(c/n)·ln(c/n) identity folded as
    ln(n) − Σ c·ln(c)/n, so no per-doc window or second pass over
    the term frame is needed — both aggregates are algebraic and
    map-side combinable."""
    docs = _t(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    n, clogc = F.sum("c"), F.sum(F.col("c") * F.log("c"))
    return tok.groupBy("doc_id").agg(
        n.cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_unique"),
        F.round(F.log(n) - clogc / n, 6).alias("entropy"),
        F.round(
            F.when(
                F.count(F.lit(1)) > 1, (F.log(n) - clogc / n) / F.log(F.count(F.lit(1)))
            ),
            6,
        ).alias("entropy_norm"),
    )

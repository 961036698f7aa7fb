"""Round 11: k-means|| (scalable k-means++) initialization with a
hash-exact oracle — the SURVEY §24 item-4b widening of the quantized
k-means family (sim_kmeans_lloyd, plans/round4c.py).

Bahmani et al., "Scalable k-means++" (VLDB 2012) replaces k-means++'s
k sequential passes with O(rounds) passes that oversample l candidates
per round, then re-cluster the weighted candidates. The randomized
sampling draw is replaced by the repo's engine-portable md5 bridge, so
the entire procedure — distances, the potential φ, per-round sampling
decisions, candidate weights, final seed ranking — is exact integer
arithmetic both Spark and DuckDB reproduce bit-for-bit (the same move
that graduated the MinHash family and quantized Lloyd's in r10).

Reference parity note: the reference repo has no clustering surface at
all (its data plane is ~180 LoC of pandas in two Airflow DAGs); this
module is LLM-pipeline extension surface, where seeding quality
controls semantic-dedup shard balance at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whisky_wine_etl_spark.catalog import load_table
from whisky_wine_etl_spark.plans.registry import query


def _kmeans_par_init_oracle(
    k: int, oversample: int, rounds: int, scale: int, seed: int
) -> str:
    """Unrolled DuckDB twin of kmeans_parallel_init_quantized.

    Exactness argument, term by term (extends _kmeans_quant_oracle's,
    plans/round4c.py:383):
    - quantization and int64 squared distances: identical per-element
      IEEE chains + order-free integer sums (the r10 argument).
    - φ = SUM(d2): DuckDB sums BIGINT into HUGEINT; Spark sums into
      DECIMAL(38,0) partials — both exact integers, same value.
    - the sampling inequality u·φ < l·d2·M: u is the top-60-bit md5 of
      the same string ('kmpp<seed>|<round>|<id>') mod M = 2^20 (the
      established conv/substr ↔ CONCAT('0x',…) bridge,
      operators/dedup.py:236 / plans/dedup.py:119); both products are
      evaluated wide (HUGEINT here, DECIMAL(38,0) in Spark: u·φ tops
      ~1e25 at probe scales, past int64) and compared strictly.
      A candidate's own d2 is 0, so strictness makes re-selection
      impossible without an explicit dedup on either side.
    - weights and ranking: COUNT(*) per nearest candidate with ties to
      the lower candidate id (ROW_NUMBER ORDER BY d2, cid == numpy
      argmin over a cid-sorted matrix), then ROW_NUMBER over
      (weight DESC, cid) — all integer, no FP anywhere after the
      quantize step."""
    m = 1 << 20
    lm = oversample * m
    parts = [
        f"""
WITH qv AS MATERIALIZED (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {scale} + 0.5)
              AS BIGINT) AS x
  FROM embeddings
),
cand0 AS MATERIALIZED (
  SELECT vec_id AS cid, dim, x AS c FROM qv
  WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)
)"""
    ]
    prev = "cand0"
    for r in range(1, rounds + 1):
        u = (
            f"CAST(CONCAT('0x', substr(md5(CONCAT('kmpp{seed}|{r}|', "
            f"CAST(m.vec_id AS VARCHAR))), 1, 15)) AS BIGINT) % {m}"
        )
        parts.append(
            f""",
dst{r} AS MATERIALIZED (
  SELECT q.vec_id, c.cid, SUM((q.x - c.c) * (q.x - c.c)) AS d2
  FROM qv q JOIN {prev} c USING (dim)
  GROUP BY q.vec_id, c.cid
),
mind{r} AS MATERIALIZED (SELECT vec_id, MIN(d2) AS d2 FROM dst{r} GROUP BY vec_id),
phi{r} AS MATERIALIZED (SELECT SUM(d2) AS phi FROM mind{r}),
samp{r} AS MATERIALIZED (
  SELECT m.vec_id
  FROM mind{r} m, phi{r} p
  WHERE CAST({u} AS HUGEINT) * p.phi
        < CAST(m.d2 AS HUGEINT) * {lm}
),
cand{r} AS MATERIALIZED (
  SELECT * FROM {prev}
  UNION ALL
  SELECT q.vec_id AS cid, q.dim, q.x AS c
  FROM qv q JOIN samp{r} s USING (vec_id)
)"""
        )
        prev = f"cand{r}"
    parts.append(
        f""",
fd AS MATERIALIZED (
  SELECT q.vec_id, c.cid, SUM((q.x - c.c) * (q.x - c.c)) AS d2
  FROM qv q JOIN {prev} c USING (dim)
  GROUP BY q.vec_id, c.cid
),
fa AS MATERIALIZED (
  SELECT vec_id, cid
  FROM (SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cid) AS rk
        FROM fd)
  WHERE rk = 1
),
w AS MATERIALIZED (
  SELECT c.cid, COUNT(fa.vec_id) AS weight
  FROM (SELECT DISTINCT cid FROM {prev}) c
  LEFT JOIN fa ON fa.cid = c.cid
  GROUP BY c.cid
)
SELECT seed_rank, cand_id, weight
FROM (SELECT CAST(ROW_NUMBER() OVER (ORDER BY weight DESC, cid) - 1
                  AS INT) AS seed_rank,
             cid AS cand_id,
             CAST(weight AS BIGINT) AS weight
      FROM w)
WHERE seed_rank < {k}
ORDER BY seed_rank"""
    )
    return "".join(parts)


def _kmeans_pll_refined_oracle(
    k: int, oversample: int, rounds: int, n_iter: int, scale: int, seed: int
) -> str:
    """Unrolled DuckDB twin of the FULL scalable-k-means pipeline:
    the k-means|| init chain (every CTE of _kmeans_par_init_oracle up
    to the weight table `w`, byte-shared via the common prefix) feeds
    the top-k seeds — ordered by (weight DESC, cid), cluster id =
    seed_rank — into `n_iter` quantized Lloyd's update rounds written
    exactly like _kmeans_quant_oracle's iteration blocks
    (plans/round4c.py:383, same round-half-up centroid identity and
    tie rules). Exactness = the union of the two parents' arguments;
    no new arithmetic appears anywhere. The DOUBLE-vs-integer
    centroid identity's precondition (|2S+n| < 2^53, n < ~4.5e9) is
    no longer comment-only: tests/test_kmeans_parallel_init.py::
    test_centroid_update_stays_inside_ieee_exact_envelope checks the
    worst-case single-cluster envelope at the largest driver SF with
    a 2^10 safety margin (ADVICE r11 item 3)."""
    init = _kmeans_par_init_oracle(k, oversample, rounds, scale, seed)
    # keep only the shared CTE chain: cut the init oracle's final
    # SELECT and splice the seed table in as another CTE
    cut = init.rindex("\nSELECT seed_rank, cand_id, weight")
    parts = [
        init[:cut],
        f""",
seeds AS MATERIALIZED (
  SELECT seed_rank AS cluster, cid
  FROM (SELECT CAST(ROW_NUMBER() OVER (ORDER BY weight DESC, cid) - 1
                    AS INT) AS seed_rank,
               cid
        FROM w)
  WHERE seed_rank < {k}
),
rc0 AS MATERIALIZED (
  SELECT s.cluster, q.dim, q.x AS c
  FROM seeds s JOIN qv q ON q.vec_id = s.cid
)""",
    ]
    prev = "rc0"
    for i in range(1, n_iter + 1):
        parts.append(
            f""",
rd{i} AS MATERIALIZED (
  SELECT q.vec_id, c.cluster, SUM((q.x - c.c) * (q.x - c.c)) AS d2
  FROM qv q JOIN {prev} c USING (dim)
  GROUP BY q.vec_id, c.cluster
),
ra{i} AS MATERIALIZED (
  SELECT vec_id, cluster
  FROM (SELECT vec_id, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cluster) AS rk
        FROM rd{i})
  WHERE rk = 1
),
rs{i} AS MATERIALIZED (
  SELECT a.cluster, q.dim, SUM(q.x) AS s, COUNT(*) AS n
  FROM ra{i} a JOIN qv q USING (vec_id)
  GROUP BY a.cluster, q.dim
),
rc{i} AS MATERIALIZED (
  SELECT p.cluster, p.dim,
         COALESCE(
           CAST(FLOOR((2 * CAST(s.s AS DOUBLE) + s.n)
                      / (2 * CAST(s.n AS DOUBLE))) AS BIGINT),
           p.c) AS c
  FROM {prev} p LEFT JOIN rs{i} s USING (cluster, dim)
)"""
        )
        prev = f"rc{i}"
    parts.append(
        f""",
rdfin AS MATERIALIZED (
  SELECT q.vec_id, c.cluster, SUM((q.x - c.c) * (q.x - c.c)) AS d2
  FROM qv q JOIN {prev} c USING (dim)
  GROUP BY q.vec_id, c.cluster
)
SELECT vec_id, cluster, CAST(d2 AS BIGINT) AS sq_dist_q
FROM (SELECT vec_id, cluster, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY d2, cluster) AS rk
      FROM rdfin)
WHERE rk = 1"""
    )
    return "".join(parts)


_KMEANS_PAR_INIT_ORACLE = _kmeans_par_init_oracle(
    k=8, oversample=8, rounds=3, scale=1_000_000, seed=42
)

_KMEANS_PLL_REFINED_ORACLE = _kmeans_pll_refined_oracle(
    k=8, oversample=8, rounds=3, n_iter=4, scale=1_000_000, seed=42
)


@query("sim_kmeans_parallel_init", _KMEANS_PAR_INIT_ORACLE)
def sim_kmeans_parallel_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means|| seeding over embeddings: 3 oversampling rounds at
    l=8, deterministic md5 sampling draw, integer-exact throughout;
    returns the top-8 weighted seeds as (seed_rank, cand_id, weight).

    See operators/clustering.py:kmeans_parallel_init_quantized for the
    scale contract (per round: one map-only Arrow assignment against
    the broadcast candidate matrix + one partial-agg φ sum; driver
    traffic = the O(l) sampled rows, never O(corpus)) and
    _kmeans_par_init_oracle above for the bit-identity argument that
    puts a nominally randomized seeding algorithm under a HASH-EXACT
    cross-engine oracle."""
    from whisky_wine_etl_spark.operators.clustering import (
        kmeans_parallel_init_quantized,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_parallel_init_quantized(
        emb, "vec_id", "embedding", k=8, oversample=8, rounds=3,
        scale=1_000_000, seed=42,
    )


@query("sim_kmeans_pll_refined", _KMEANS_PLL_REFINED_ORACLE)
def sim_kmeans_pll_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete scalable-k-means pipeline: k-means|| seeds
    (sim_kmeans_parallel_init's top-8 by weight) initialize 4 rounds
    of quantized Lloyd's over the full corpus — Bahmani step 4 in the
    init-full-Lloyd's form production systems use (Spark MLlib's
    KMeans runs exactly this split), end-to-end under one HASH-EXACT
    oracle. Cluster id = the seed's rank, so the output is directly
    comparable to sim_kmeans_lloyd's naive-init twin; the seeded run's
    total quantized cost must be ≤ the naive run's
    (tests/test_kmeans_parallel_init.py pins it).

    Scale contract: the init phase is the parallel-init operator's
    (map-only assignment per round, O(l) driver rows); the refinement
    is kmeans_fit_assign_quantized's (O(tasks·k·d) update shuffle,
    k·d-int driver traffic per iteration). Nothing new."""
    import math

    from whisky_wine_etl_spark.operators.clustering import (
        kmeans_parallel_init_quantized,
        kmeans_refine_quantized,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = kmeans_parallel_init_quantized(
        emb, "vec_id", "embedding", k=8, oversample=8, rounds=3,
        scale=1_000_000, seed=42,
    ).collect()  # k rows — bounded contract, same class as centroids
    seed_ids = [r["cand_id"] for r in sorted(seeds, key=lambda r: r["seed_rank"])]
    coords = {
        r["vec_id"]: [
            math.floor(float(x) * 1_000_000.0 + 0.5) for x in r["embedding"]
        ]
        for r in emb.filter(F.col("vec_id").isin(seed_ids)).collect()
    }
    init = [coords[i] for i in seed_ids]
    return kmeans_refine_quantized(
        emb, "vec_id", "embedding", init, n_iter=4, scale=1_000_000
    )


# ---------------------------------------------------------------------------
# Streaming k-means assignment — fit on history, serve from a stream
# (the second §24 item-4b candidate: a STREAMING member of the
# quantized-kmeans family). The oracle is the SAME unrolled SQL as
# sim_kmeans_lloyd's: a stateless map over micro-batches must equal
# the batch plan bit-for-bit, which is exactly what the hash gate
# proves here. The oracle text is generated by
# round4c._kmeans_quant_oracle; the recheck fingerprint follows the
# import, so a change there flags this name too.
# ---------------------------------------------------------------------------


def _register_stream_kmeans() -> None:
    from whisky_wine_etl_spark.plans.round4c import _KMEANS_QUANT_ORACLE

    @query("stream_kmeans_assign", _KMEANS_QUANT_ORACLE)
    def stream_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Model serving over Structured Streaming: quantized Lloyd's
        centroids are fit ONCE on the static embeddings table
        (deterministic, k·d-int driver traffic — see
        operators/clustering.py:kmeans_fit_quantized), then vectors
        arrive as a 3-micro-batch file stream and each batch is scored
        by the SAME map-only Arrow assignment the batch plan uses.
        Stateless projection → append mode needs no watermark, no
        state store, and the streamed result must equal
        sim_kmeans_lloyd's batch output exactly (same oracle).

        100 TB design: this is the canonical fit-batch/serve-stream
        split — the centroid matrix ships in the UDF closure (k·d
        ints, broadcast-sized), per-batch cost is one vectorized
        matmul per Arrow batch, and nothing accumulates: a stream of
        new documents is scored at ingest rate with zero shuffle."""
        from whisky_wine_etl_spark.operators.clustering import (
            kmeans_assign_quantized,
            kmeans_fit_quantized,
        )
        from whisky_wine_etl_spark.streaming import pipelines as sp

        emb = load_table(spark, sf_dir, "embeddings")
        centroids = kmeans_fit_quantized(
            emb, "vec_id", "embedding", k=8, n_iter=4, scale=1_000_000
        )
        with sp.embeddings_landing(spark, sf_dir, n_files=3) as landing:
            stream = sp.embeddings_file_stream(spark, landing, max_files_per_trigger=1)
            scored = kmeans_assign_quantized(
                stream, "embedding", centroids, scale=1_000_000
            ).select("vec_id", "cluster", "sq_dist_q")
            return sp.run_to_memory(spark, scored, "append")


_register_stream_kmeans()

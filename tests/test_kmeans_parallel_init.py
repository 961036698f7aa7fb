"""k-means|| quantized seeding: shape, determinism, and seed quality."""

from __future__ import annotations

from pyspark.sql import functions as F

from whisky_wine_etl_spark import plans
from whisky_wine_etl_spark.catalog import load_table
from whisky_wine_etl_spark.operators.clustering import (
    kmeans_parallel_init_quantized,
)

plans.load_all()

SF = "/root/testdata/sf0.01"


def test_shape_and_ranking_contract(spark):
    rows = plans.QUERIES["sim_kmeans_parallel_init"](spark, SF).collect()
    assert [r["seed_rank"] for r in rows] == list(range(8))
    ids = [r["cand_id"] for r in rows]
    assert len(set(ids)) == 8
    weights = [r["weight"] for r in rows]
    # ranking is (weight DESC, cand_id ASC): weights non-increasing
    assert weights == sorted(weights, reverse=True)
    n = load_table(spark, SF, "embeddings").count()
    # weights over ALL candidates partition the corpus; the top-8
    # carry most of it but never more than all of it
    assert 0 < sum(weights) <= n


def test_centroid_update_stays_inside_ieee_exact_envelope():
    """ADVICE r11 item 3: the hash-exact contract between Spark's
    integer centroid update (2s+n)//(2n) and the oracle's DOUBLE
    FLOOR((2S+n)/(2n)) holds only while |2S+n| < 2^53 (every integer
    below 2^53 is exact in an IEEE double and the quotient gap
    argument in plans/round4c.py then applies). That precondition was
    asserted in comments but never checked — a larger embeddings
    fixture or a bigger quantization scale could silently break
    bit-identity. Guard it at the LARGEST driver SF with the loosest
    possible bound: even if every vector landed in one cluster,
    2 * max_dim(sum|x~_dim|) + N stays inside the envelope."""
    import duckdb

    src = "read_parquet('/root/testdata/sf0.1/embeddings.parquet')"
    (s_max,) = duckdb.sql(
        f"""
        SELECT MAX(sabs) FROM (
          SELECT dim, SUM(ABS(CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT))) AS sabs
          FROM (SELECT unnest(embedding) AS x,
                       generate_subscripts(embedding, 1) AS dim
                FROM {src})
          GROUP BY dim)
        """
    ).fetchone()
    (n,) = duckdb.sql(f"SELECT COUNT(*) FROM {src}").fetchone()
    # worst-case single-cluster sum per dim, wide margin demanded: the
    # guard fires LONG before exactness actually breaks (margin 2^10)
    assert 2 * s_max + n < 2**53 // 1024, (s_max, n)
    # the quotient-gap side condition: n < ~4.5e9 clusters members
    assert n < 4_500_000_000


def test_deterministic_under_partitioning(spark):
    """Same bits regardless of input partitioning — the property the
    hash-exact oracle rests on (no FP, no RNG, order-free integers)."""
    emb = load_table(spark, SF, "embeddings")
    a = kmeans_parallel_init_quantized(
        emb.repartition(17), "vec_id", "embedding"
    ).collect()
    b = kmeans_parallel_init_quantized(
        emb.coalesce(1), "vec_id", "embedding"
    ).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_seeds_spread_across_true_clusters(spark):
    """The point of k-means|| over naive first-k init: oversampled
    seeding lands seeds in many DISTINCT ground-truth clusters (the
    fixture has 10 labelled Gaussians). Deterministic — no RNG — so
    this pins behavior, not luck."""
    seeds = plans.QUERIES["sim_kmeans_parallel_init"](spark, SF)
    emb = load_table(spark, SF, "embeddings")
    labels = (
        seeds.join(emb, seeds.cand_id == emb.vec_id)
        .select("label")
        .collect()
    )
    distinct = {r["label"] for r in labels}
    # naive lowest-vec_id-8 init covers whatever the id order gives;
    # k-means|| must cover most of the space
    assert len(distinct) >= 6, sorted(distinct)


def test_candidate_growth_is_bounded(spark):
    """Expected candidates ≈ 1 + l·rounds (Bahmani Thm 1 bound on the
    oversampling); the bounded-collect scale contract rests on it.
    Assert a generous multiple, not the expectation itself."""
    emb = load_table(spark, SF, "embeddings")
    out = kmeans_parallel_init_quantized(
        emb, "vec_id", "embedding", k=10_000, oversample=8, rounds=3
    )
    n_cands = out.count()  # k larger than candidate count → all kept
    assert n_cands <= 4 * (1 + 8 * 3), n_cands


def test_stream_assign_equals_batch_bitwise(spark):
    """The streaming member of the quantized-kmeans family: a
    stateless scored stream over 3 micro-batches must reproduce the
    batch plan's (vec_id, cluster, sq_dist_q) bit-for-bit — the
    fit-batch/serve-stream contract its shared oracle enforces."""
    import glob
    import os

    from whisky_wine_etl_spark.streaming import pipelines as sp

    streamed = plans.QUERIES["stream_kmeans_assign"](spark, SF).collect()
    batch = plans.QUERIES["sim_kmeans_lloyd"](spark, SF).collect()
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))
    with sp.embeddings_landing(spark, SF) as landing:
        n_files = len(glob.glob(os.path.join(landing, "part-*.parquet")))
    assert n_files == 3  # maxFilesPerTrigger=1 → one micro-batch each
    assert not os.path.exists(landing)  # each call's dir goes on exit


def test_pll_refined_beats_naive_init(spark):
    """The reason k-means|| exists: Lloyd's from the weighted ||
    seeds must reach a total quantized cost no worse than Lloyd's
    from the naive lowest-vec_id init (same k, same iterations, same
    arithmetic). Deterministic on this fixture — pins behavior."""
    refined = plans.QUERIES["sim_kmeans_pll_refined"](spark, SF)
    naive = plans.QUERIES["sim_kmeans_lloyd"](spark, SF)
    cost_r = refined.agg(F.sum("sq_dist_q")).collect()[0][0]
    cost_n = naive.agg(F.sum("sq_dist_q")).collect()[0][0]
    assert cost_r <= cost_n, (cost_r, cost_n)
    # and it is a full assignment: every vector gets a cluster
    n = load_table(spark, SF, "embeddings").count()
    assert refined.count() == n


def test_pll_refined_run_to_run_deterministic(spark):
    """Two independent end-to-end runs (fresh seeding, fresh collects,
    fresh refinement) must agree bit-for-bit; partitioning/thread
    perturbation is covered by tools/audit_fp_stability.py on the
    registered query (STABLE)."""
    from whisky_wine_etl_spark import plans as p

    a = p.QUERIES["sim_kmeans_pll_refined"](spark, SF).collect()
    b = p.QUERIES["sim_kmeans_pll_refined"](spark, SF).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))

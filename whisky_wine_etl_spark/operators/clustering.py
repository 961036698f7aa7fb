"""Distributed Lloyd's k-means over an ArrayType(FloatType) column.

The IVF index (operators/similarity.py) trains its codebook on a
bounded driver-side sample; this module is the fully-distributed
counterpart for when the clustering itself is the product (corpus
bucketing, semantic sharding): every assignment and every centroid
update runs on the executors, and the only driver traffic per
iteration is the k×d centroid matrix (k·d floats, independent of the
corpus size — the classic Lloyd's-on-MapReduce contract).

Scale design:
- Assignment is map-only: the k×d centroids ship in the Arrow UDF's
  closure (k·d ≤ a few thousand floats) and each batch scores with
  ONE (batch × k) matmul — the sanctioned Arrow-vectorized tier, not
  interpreted HOF expression folds (see kmeans_assign).
- The update step is one partial-aggregated groupBy of the
  (cluster, dim) exploded pairs: each task pre-aggregates k·d partial
  (sum, count) cells, so the shuffle is O(tasks · k · d), not O(rows).
- Determinism: init picks the k lowest-id vectors (no RNG), iteration
  count is fixed, and FP addition order inside avg() partials is the
  only nondeterminism — bounded by a parity test vs numpy, not an
  exact oracle (registered rows-only, like the other approx/iterative
  ops).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def kmeans_assign(df: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """Add `cluster` (argmin centroid) and `sq_dist` columns via one
    Arrow-batched numpy pass: per batch, distances come from a single
    (batch × k) matmul (||x||² − 2xCᵀ + ||c||²) and np.argmin ties
    toward the lower cluster id.

    The earlier zip_with/aggregate expression form was dropped for
    the same reason as the CDC chunker's (plans/round4ar.py): HOF
    lambdas evaluate INTERPRETED per element, costing ~k·d interpreted
    ops per row per pass — measured ~4 s for 5 passes over 20 k×64
    vectors at sf0.1 vs well under a second for the same math as one
    BLAS call per batch (the documented Pandas-UDF carve-out,
    operators/similarity.py:ivf_topk)."""
    from pyspark.sql.functions import pandas_udf

    cmat = np.array(centroids, dtype=np.float64)  # (k, d)
    c_sq = (cmat * cmat).sum(axis=1)  # (k,)

    def _assign_dense(xs: np.ndarray) -> pd.DataFrame:
        d2 = (
            (xs * xs).sum(axis=1, keepdims=True)
            - 2.0 * (xs @ cmat.T)
            + c_sq[None, :]
        )
        best = d2.argmin(axis=1)  # ties -> lower cluster id
        return pd.DataFrame(
            {
                "cluster": best.astype("int32"),
                "sq_dist": d2[np.arange(len(best)), best],
            }
        )

    @pandas_udf("struct<cluster: int, sq_dist: double>")
    def assign_udf(v: pd.Series) -> pd.DataFrame:
        # Guard rails (ADVICE r4): an empty Arrow batch gives
        # np.array([]) with no axis=1, and null/ragged vectors break
        # the (n, d) shape — return a typed empty frame / propagate
        # nulls as null rows instead of raising.
        if len(v) == 0:
            return pd.DataFrame(
                {
                    "cluster": pd.array([], dtype="int32"),
                    "sq_dist": pd.array([], dtype="float64"),
                }
            )
        d = cmat.shape[1]
        valid = v.map(
            lambda x: x is not None and len(x) == d
        ).to_numpy(dtype=bool)
        if valid.all():
            return _assign_dense(np.array(v.to_list(), dtype=np.float64))
        out = pd.DataFrame(
            {
                "cluster": pd.array([None] * len(v), dtype="Int32"),
                "sq_dist": pd.array([None] * len(v), dtype="Float64"),
            }
        )
        if valid.any():
            sub = _assign_dense(
                np.array(v[valid].to_list(), dtype=np.float64)
            )
            out.loc[valid, "cluster"] = sub["cluster"].to_numpy()
            out.loc[valid, "sq_dist"] = sub["sq_dist"].to_numpy()
        return out

    return (
        df.withColumn("__best", assign_udf(vec_col))
        .withColumn("cluster", F.col("__best.cluster"))
        .withColumn("sq_dist", F.col("__best.sq_dist"))
        .drop("__best")
    )


def kmeans_fit_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    n_iter: int = 4,
) -> DataFrame:
    """Lloyd's k-means: deterministic lowest-id init, `n_iter` fixed
    update rounds, returns (id_col, cluster, sq_dist) for every row.

    Empty clusters keep their previous centroid (no reseeding — keeps
    the procedure deterministic and restart-stable)."""
    df = df.select(id_col, vec_col)
    init_rows = df.orderBy(id_col).limit(k).collect()
    centroids = [[float(x) for x in r[vec_col]] for r in init_rows]

    for _ in range(n_iter):
        assigned = kmeans_assign(df, vec_col, centroids)
        # (cluster, dim) cells partial-aggregate inside each task: the
        # shuffle carries O(partitions·k·d) cells, never O(rows).
        # Null/ragged vectors come back from kmeans_assign with a NULL
        # cluster (ADVICE r5) — they must not reach the driver-side
        # new_c[cluster] indexing, so the update step drops them; the
        # final assignment below still emits them with NULL cluster.
        cells = (
            assigned.filter(F.col("cluster").isNotNull())
            .select("cluster", F.posexplode(vec_col).alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        new_c = [list(c) for c in centroids]
        for r in cells:
            new_c[r["cluster"]][r["dim"]] = float(r["m"])
        centroids = new_c

    return kmeans_assign(df, vec_col, centroids).select(
        id_col, "cluster", F.round("sq_dist", 4).alias("sq_dist")
    )


def kmeans_assign_quantized(
    df: DataFrame, vec_col: str, centroids: list[list[int]], scale: int
) -> DataFrame:
    """Integer-exact assignment twin of kmeans_assign: `vec_col` is the
    RAW float vector; each Arrow batch quantizes it to int64 in numpy
    (x̃ = floor(f64(x)·scale + 0.5) — the same per-element IEEE chain
    every engine computes identically) and scores against the integer
    `centroids`. Adds `cluster` (argmin, ties -> lower id) and
    `sq_dist_q` (the EXACT int64 squared distance in quantized units).
    All post-quantization arithmetic is int64 (numpy integer matmul —
    exact, no FP rounding, order-free), so two runs — or two engines —
    produce bit-identical results.

    Overflow headroom at scale=1e6: |x̃| ≤ ~1e6 ⇒ per-dim squared term
    ≤ ~4e12, × d=64 dims ≈ 2.6e14 ≪ 2^63; the expanded form's dot
    products are smaller still."""
    from pyspark.sql.functions import pandas_udf

    cmat = np.array(centroids, dtype=np.int64)  # (k, d)
    c_sq = (cmat * cmat).sum(axis=1)  # (k,)
    fscale = float(scale)

    def _assign_dense(raw: np.ndarray) -> pd.DataFrame:
        xs = np.floor(raw * fscale + 0.5).astype(np.int64)
        d2 = (
            (xs * xs).sum(axis=1, keepdims=True)
            - 2 * (xs @ cmat.T)
            + c_sq[None, :]
        )
        best = d2.argmin(axis=1)  # ties -> lower cluster id
        return pd.DataFrame(
            {
                "cluster": best.astype("int32"),
                "sq_dist_q": d2[np.arange(len(best)), best],
            }
        )

    @pandas_udf("struct<cluster: int, sq_dist_q: long>")
    def assign_udf(v: pd.Series) -> pd.DataFrame:
        if len(v) == 0:
            return pd.DataFrame(
                {
                    "cluster": pd.array([], dtype="int32"),
                    "sq_dist_q": pd.array([], dtype="int64"),
                }
            )
        d = cmat.shape[1]
        valid = v.map(
            lambda x: x is not None and len(x) == d
        ).to_numpy(dtype=bool)
        if valid.all():
            return _assign_dense(np.array(v.to_list(), dtype=np.float64))
        out = pd.DataFrame(
            {
                "cluster": pd.array([None] * len(v), dtype="Int32"),
                "sq_dist_q": pd.array([None] * len(v), dtype="Int64"),
            }
        )
        if valid.any():
            sub = _assign_dense(np.array(v[valid].to_list(), dtype=np.float64))
            out.loc[valid, "cluster"] = sub["cluster"].to_numpy()
            out.loc[valid, "sq_dist_q"] = sub["sq_dist_q"].to_numpy()
        return out

    return (
        df.withColumn("__best", assign_udf(vec_col))
        .withColumn("cluster", F.col("__best.cluster"))
        .withColumn("sq_dist_q", F.col("__best.sq_dist_q"))
        .drop("__best")
    )


def kmeans_fit_assign_quantized(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    n_iter: int = 4,
    scale: int = 1_000_000,
) -> DataFrame:
    """Deterministic QUANTIZED Lloyd's k-means: bit-identical across
    runs, thread counts, partitionings — and engines.

    Float Lloyd's (kmeans_fit_assign above) is deterministic up to FP
    summation order inside avg() partials, which is enough for a
    recall/parity bound but not for a hash-exact oracle. This variant
    removes the last FP degree of freedom the way production dedup/ANN
    pipelines do (cf. the int8 ANN tier, operators/similarity.py):

    - quantize per element: x̃ = FLOOR(DOUBLE(x)·scale + 0.5) as
      int64. Each element's pipeline is single-IEEE-op-per-step
      (float32→float64 conversion is exact; one correctly-rounded
      multiply; one add; floor), so every engine — numpy in the
      assignment batches, whole-stage-codegen scalar ops in the update
      path, Python floats at init, DuckDB in the oracle — computes the
      identical integer; no reordering exists at per-element
      granularity. (Quantizing via an array-HOF `transform` instead
      costs ~k interpreted ops per element per pass — measured +0.8 s
      at sf0.1 — so quantization rides the already-vectorized tiers.)
    - assignment: exact int64 distances (kmeans_assign_quantized),
      ties to the lower cluster id.
    - update: per-(cluster, dim) int64 SUM + COUNT over post-explode
      codegen-quantized scalars — integer addition is associative, so
      partial aggregation order is irrelevant; the new centroid is the
      integer round-half-up c̃ = ⌊(2S+n)/(2n)⌋, computed in exact
      Python int arithmetic on the k·d driver cells. Empty clusters
      keep their previous centroid.

    Scale contract is unchanged from the float twin: assignment is
    map-only Arrow batches with the k×d centroid matrix in the UDF
    closure; the update shuffle carries O(tasks·k·d) partial cells,
    never O(rows); per-iteration driver traffic is k·d integers.

    Returns (id_col, cluster, sq_dist_q) where sq_dist_q is the exact
    squared distance in quantized units (divide by scale² for the
    real-valued distance). Null/ragged vectors get NULL cluster."""
    df = df.select(id_col, vec_col)
    centroids = kmeans_fit_quantized(df, id_col, vec_col, k, n_iter, scale)
    return kmeans_assign_quantized(df, vec_col, centroids, scale).select(
        id_col, "cluster", "sq_dist_q"
    )


def _kmeans_update_cells_quantized(
    df: DataFrame, vec_col: str, centroids: list[list[int]], scale: int
) -> list:
    """One FUSED Arrow pass for the Lloyd's update step: quantize +
    assign + per-batch partial (cluster, dim) int64 sums/counts inside
    the same mapInPandas function, then one tiny groupBy over k·d
    cells. Replaces the r11 shape — a full assignment UDF pass whose
    output fed a JVM posexplode of every (row × dim) pair into a hash
    aggregate — with a single Python crossing that ships the vector
    column ONCE and emits k·d partial cells per Arrow batch (guide
    §4.2: batch work in numpy; §2.3: aggregate before you shuffle —
    the explode-side row count drops from rows·d to batches·k·d).

    Bit-identity with the replaced path, term by term:
    - quantization: np.floor(float64(x)·scale + 0.5) — the identical
      single-IEEE-op-per-step chain the codegen `FLOOR(x·scale + 0.5)`
      and the assignment UDF compute (same doubles in, same int64 out);
    - assignment: the same int64 matmul argmin as
      kmeans_assign_quantized._assign_dense (ties → lower cluster id);
    - partials: int64 np.add.at sums + bincount — integer addition is
      associative, so batch/task boundaries cannot change the totals
      the final groupBy SUM returns;
    - null/ragged vectors are excluded exactly like the replaced
      `.filter(cluster IS NOT NULL)` (asserted equal, incl. null and
      ragged rows, by tests/test_kmeans_update_fused.py);
    - NULL *elements* inside a correct-length vector (ADVICE r12):
      the replaced posexplode path emitted SQL NULL for that element —
      skipped by F.sum but still counted by the row-grain
      `F.count(lit(1))` — while np.array turns None into NaN whose
      int64 cast is platform garbage. For None/NaN elements the fused
      pass reproduces the legacy cell exactly: they contribute 0 to
      `s` (masked before the scatter-add) and the row still counts
      toward `n` for every dim. The mask is `np.isfinite`, so ±inf
      elements are folded into that same null-element path on
      purpose. The legacy path nulled only None/NaN, so for a vector
      holding ±inf the two paths differ by design: the fused pass
      does not add an infinity's garbage int64 cast into a
      centroid sum. Assignment of such rows keeps the identical
      quantize-garbage argmin chain `_assign_dense` computes, so the
      cluster choice matches the replaced path bit for bit.
    Empty clusters simply have no cells, as before."""
    k = len(centroids)
    d = len(centroids[0])
    cmat = np.array(centroids, dtype=np.int64)
    c_sq = (cmat * cmat).sum(axis=1)
    fscale = float(scale)
    dims = np.arange(d, dtype=np.int64)

    def gen(batches):
        for pdf in batches:
            v = pdf[vec_col]
            if len(v) == 0:
                continue
            valid = v.map(
                lambda x: x is not None and len(x) == d
            ).to_numpy(dtype=bool)
            if not valid.any():
                continue
            raw = np.array(v[valid].to_list(), dtype=np.float64)
            finite = np.isfinite(raw)
            with np.errstate(invalid="ignore"):
                xs = np.floor(raw * fscale + 0.5).astype(np.int64)
            d2 = (
                (xs * xs).sum(axis=1, keepdims=True)
                - 2 * (xs @ cmat.T)
                + c_sq[None, :]
            )
            best = d2.argmin(axis=1)
            sums = np.zeros((k, d), dtype=np.int64)
            # legacy-cell identity for element-level NULLs: mask the
            # garbage-cast dims out of the sums (posexplode emitted SQL
            # NULL there, skipped by F.sum) but keep the row in every
            # dim's count (the legacy count was row-grain count(1))
            np.add.at(sums, best, np.where(finite, xs, 0))
            cnt = np.bincount(best, minlength=k).astype(np.int64)
            nz = np.nonzero(cnt > 0)[0]
            yield pd.DataFrame(
                {
                    "cluster": np.repeat(nz, d).astype("int32"),
                    "dim": np.tile(dims, len(nz)).astype("int32"),
                    "s": sums[nz].reshape(-1),
                    "n": np.repeat(cnt[nz], d),
                }
            )

    return (
        df.select(vec_col)
        .mapInPandas(gen, "cluster int, dim int, s long, n long")
        .groupBy("cluster", "dim")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .collect()
    )


def kmeans_fit_quantized(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    n_iter: int = 4,
    scale: int = 1_000_000,
) -> list[list[int]]:
    """The fit loop of kmeans_fit_assign_quantized, returning the
    final integer centroid matrix (for callers that need the model —
    e.g. semantic dedup's multi-probe list assignment). Deterministic
    end to end; see kmeans_fit_assign_quantized for the argument."""
    import math

    df = df.select(id_col, vec_col)
    init_rows = df.orderBy(id_col).limit(k).collect()
    # float32 -> Python float is exact; *, + and floor are the same
    # IEEE doubles ops the executors run
    centroids = [
        [math.floor(float(x) * float(scale) + 0.5) for x in r[vec_col]]
        for r in init_rows
    ]

    for _ in range(n_iter):
        # fused assign+partial-cells Arrow pass (r12): bit-identical
        # totals to the former assignment-UDF + posexplode/groupBy
        # shape — see _kmeans_update_cells_quantized's identity notes
        cells = _kmeans_update_cells_quantized(df, vec_col, centroids, scale)
        new_c = [list(c) for c in centroids]
        for r in cells:
            s, n = int(r["s"]), int(r["n"])
            # round-half-up(S/n) for either sign via floor division
            new_c[r["cluster"]][r["dim"]] = (2 * s + n) // (2 * n)
        centroids = new_c
    return centroids


def kmeans_probe_lists_quantized(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[int]],
    scale: int,
    n_probe: int,
) -> DataFrame:
    """Multi-probe assignment against a quantized centroid matrix: adds
    `probe_lists: array<int>` = the n_probe clusters with the smallest
    EXACT int64 quantized distance, ties to the lower cluster id
    (stable integer argsort — bit-identical to the oracle's
    ROW_NUMBER() ORDER BY d2, cluster)."""
    from pyspark.sql.functions import pandas_udf

    cmat = np.array(centroids, dtype=np.int64)
    c_sq = (cmat * cmat).sum(axis=1)
    fscale = float(scale)

    @pandas_udf("array<int>")
    def probe_udf(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        raw = np.array(v.to_list(), dtype=np.float64)
        xs = np.floor(raw * fscale + 0.5).astype(np.int64)
        d2 = (
            (xs * xs).sum(axis=1, keepdims=True)
            - 2 * (xs @ cmat.T)
            + c_sq[None, :]
        )
        top = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]
        return pd.Series(list(top.astype("int32")))

    return df.withColumn("probe_lists", probe_udf(vec_col))


def pca_project(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
) -> DataFrame:
    """Principal-component projection of an ArrayType(FloatType)
    column onto its top-`k` components.

    Scale contract (same shape as Lloyd's above): the covariance
    estimate is assembled from PER-PARTITION partial (n, Σx, ΣxxT)
    sums computed in one Arrow-batched mapInPandas pass — driver
    traffic is O(partitions · d²) floats, independent of row count;
    the d×d eigendecomposition runs on the driver (d is the embedding
    width, ≤ a few thousand — NOT data-scale); the projection itself
    is a map-only fold over literal component vectors in whole-stage
    codegen. Eigenvector sign is fixed by making each component's
    largest-|coordinate| entry positive, so the output is
    deterministic up to float summation order (parity-tested vs
    numpy, registered rows-only like the other iterative/FP ops)."""
    d = len(df.select(vec_col).first()[0])

    def partials(batches):
        for pdf in batches:
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if len(X) == 0:
                continue
            yield pd.DataFrame(
                {
                    "n": [len(X)],
                    "s": [X.sum(axis=0).tolist()],
                    "g": [(X.T @ X).ravel().tolist()],
                }
            )

    parts = df.select(vec_col).mapInPandas(
        partials, schema="n long, s array<double>, g array<double>"
    ).collect()
    n = sum(p["n"] for p in parts)
    s = np.sum([p["s"] for p in parts], axis=0)
    g = np.sum([p["g"] for p in parts], axis=0).reshape(d, d)
    mu = s / n
    cov = (g - n * np.outer(mu, mu)) / (n - 1)
    w, v = np.linalg.eigh(cov)
    comps = v[:, np.argsort(w)[::-1][:k]].T  # (k, d), descending variance
    for j in range(k):
        i_max = int(np.abs(comps[j]).argmax())
        if comps[j][i_max] < 0:
            comps[j] = -comps[j]

    cols = [F.col(id_col)]
    for j in range(k):
        lit_c = F.array(*[F.lit(float(x)) for x in comps[j]])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), lit_c, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        center = float(np.dot(mu, comps[j]))
        cols.append(F.round(dot - F.lit(center), 4).alias(f"pc{j + 1}"))
    return df.select(*cols)


def kmeans_parallel_init_quantized(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    oversample: int = 8,
    rounds: int = 3,
    scale: int = 1_000_000,
    seed: int = 42,
) -> DataFrame:
    """k-means|| (scalable k-means++) initialization — Bahmani et al.,
    VLDB 2012 — made DETERMINISTIC and integer-exact so an iterative,
    nominally randomized seeding algorithm can carry a hash-exact
    cross-engine oracle (the r11 widening of the quantized-kmeans
    family; see kmeans_fit_assign_quantized for the base argument).

    Algorithm (l = `oversample`, R = `rounds`, M = 2^20):
      C_0 = {quantized vector of the lowest id}
      for r in 1..R:
        d2(x) = exact int64 squared distance of x̃ to nearest c ∈ C
        φ     = Σ_x d2(x)              (exact, DECIMAL(38,0) partials)
        sample x  iff  u(x, r) · φ < l · d2(x) · M
        C += quantized vectors of the sampled ids
      weight(c) = |{x : nearest(C, x) = c}|   (ties → lower cand id)
      return the top-k candidates by (weight DESC, cand id ASC) as
      (seed_rank, cand_id, weight) — the weighted re-clustering seeds.

    Where the paper draws u ~ Uniform[0,1) per (point, round), this
    uses the engine-portable md5 bridge (operators/dedup.py:
    shingle_hash_arrays): u = top-60-bits(md5('kmpp<seed>|<r>|<id>'))
    mod M. The inequality u·φ < l·d2·M is Bernoulli(min(1, l·d2/φ)) to
    within 1/M — and every term is an exact integer both engines
    reproduce bit-for-bit (products are evaluated in DECIMAL(38,0) /
    HUGEINT: u·φ ≤ 2^20·N·2.6e14 overflows int64 at probe scales, and
    the session is ANSI so a silent wrap is impossible anyway).
    Already-selected candidates have d2 = 0 and can never re-sample
    (strict inequality), so the candidate set needs no explicit dedup.

    Scale contract: each round is ONE map-only Arrow assignment pass
    against the |C|×d integer candidate matrix (broadcast in the UDF
    closure) + ONE partial-aggregated φ sum + ONE filter — no shuffle
    of row data at all; driver traffic per round is the O(l) newly
    sampled coordinate rows (expected l per round, the paper's bound),
    exactly the bounded-contract collect class of the k-centroid
    fetches. The weight pass is one more assignment + a groupBy over
    |C| ≈ l·R+1 keys. Nothing anywhere is O(rows) on the driver."""
    import math

    m = 1 << 20
    df = df.select(id_col, vec_col)
    init_rows = df.orderBy(id_col).limit(1).collect()
    fscale = float(scale)
    cands: dict[int, list[int]] = {
        int(r[id_col]): [math.floor(float(x) * fscale + 0.5) for x in r[vec_col]]
        for r in init_rows
    }

    def _matrix() -> tuple[list[int], list[list[int]]]:
        ids = sorted(cands)  # index order == cand-id order (tie-break)
        return ids, [cands[i] for i in ids]

    for r in range(1, rounds + 1):
        _ids, mat = _matrix()
        assigned = kmeans_assign_quantized(df, vec_col, mat, scale)
        phi = (
            assigned.agg(
                F.sum(F.col("sq_dist_q").cast("decimal(38,0)")).alias("phi")
            ).collect()[0]["phi"]
        )
        phi_int = int(phi)
        if phi_int == 0:  # fewer distinct points than candidates
            break
        u = (
            f"cast(conv(substring(md5(concat('kmpp{seed}|{r}|', "
            f"cast({id_col} as string))), 1, 15), 16, 10) as bigint) % {m}"
        )
        sampled = assigned.filter(
            F.expr(
                f"({u}) * cast('{phi_int}' as decimal(38,0)) "
                f"< sq_dist_q * cast({oversample * m} as decimal(38,0))"
            )
        )
        # assigned = df + (cluster, sq_dist_q), so the sampled rows
        # already carry their vectors — no join-back needed
        new_rows = sampled.select(id_col, vec_col).collect()
        for row in new_rows:
            cands[int(row[id_col])] = [
                math.floor(float(x) * fscale + 0.5) for x in row[vec_col]
            ]

    ids, mat = _matrix()
    spark = df.sparkSession
    assigned = kmeans_assign_quantized(df, vec_col, mat, scale)
    # the weight aggregation is distributed (partial-agg'd groupBy over
    # |C| keys); only the |C| ≈ l·rounds+1 (cluster, weight) cells come
    # back — the same bounded-contract collect as the centroid fetches,
    # so the final ranking runs in Python instead of a global window
    counts = {
        r["cluster"]: r["weight"]
        for r in assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).cast("bigint").alias("weight"))
        .collect()
    }
    weighted = sorted(
        ((counts.get(i, 0), cid) for i, cid in enumerate(ids)),
        key=lambda t: (-t[0], t[1]),
    )
    return spark.createDataFrame(
        [
            (rank, cid, int(weight))
            for rank, (weight, cid) in enumerate(weighted[:k])
        ],
        "seed_rank int, cand_id bigint, weight bigint",
    )


def kmeans_refine_quantized(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    init_centroids: list[list[int]],
    n_iter: int = 4,
    scale: int = 1_000_000,
) -> DataFrame:
    """Quantized Lloyd's update loop from a CALLER-SUPPLIED integer
    centroid matrix — the refinement stage that completes the
    scalable-k-means pipeline (k-means|| seeds → Lloyd's; Bahmani et
    al. 2012 step 4, in the init-full-Lloyd's form production systems
    use — e.g. Spark MLlib's KMeans runs exactly this split). The
    update/assign arithmetic is kmeans_fit_assign_quantized's
    bit-identity contract verbatim; it lives as a STANDALONE function
    (rather than an init parameter on kmeans_fit_quantized) so the
    already-driver-verified callers of the fit path keep an untouched
    recheck fingerprint.

    Returns (id_col, cluster, sq_dist_q); cluster = index into
    `init_centroids` order, ties to the lower index."""
    df = df.select(id_col, vec_col)
    centroids = [list(c) for c in init_centroids]
    for _ in range(n_iter):
        # fused assign+partial-cells Arrow pass (r12) — identical
        # totals; see _kmeans_update_cells_quantized
        cells = _kmeans_update_cells_quantized(df, vec_col, centroids, scale)
        new_c = [list(c) for c in centroids]
        for r in cells:
            s, n = int(r["s"]), int(r["n"])
            new_c[r["cluster"]][r["dim"]] = (2 * s + n) // (2 * n)
        centroids = new_c
    return kmeans_assign_quantized(df, vec_col, centroids, scale).select(
        id_col, "cluster", "sq_dist_q"
    )

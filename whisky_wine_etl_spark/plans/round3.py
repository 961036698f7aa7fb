"""Round-3 registrations (in registration order): skew-safe salted q8
variant; second real image codec (binary PPM); incremental/ledger
dedup; containment near-dup; corpus vocabulary; compaction + ORC
round-trips; the custom Python Data Source (batch + streaming +
manifest-committed sink); Spark-4 SQL surfaces (LATERAL top-n,
recursive CTE, SQL UDF); zero-copy mapInArrow; cohort retention and a
one-pass profiler; large-star/small-star connected components; native
batch session_window; equi-width histogram; ntile + percentile_disc;
exact-mergeable bitmap distinct; perplexity quality scoring;
mixed-format codec dispatch; triangle counting; weighted systematic
sampling; real PCM WAV audio features; CDC latest-state; snapshot
time travel and the merge-publish loop.

Registered LAST in plans.load_all() so these sort behind every
previously-registered query still awaiting a driver CORRECTNESS row —
the driver's budget-capped run must verify the backlog first
(__spark_entry__.queries() orders unverified-first, ties by
registration order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whisky_wine_etl_spark.catalog import load_table
from whisky_wine_etl_spark.operators import multimodal as mm
from whisky_wine_etl_spark.operators.agg import salted_join
from whisky_wine_etl_spark.plans.registry import ORACLES, query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@query("q8_market_share_skew_safe", ORACLES["q8_market_share"])
def q8_market_share_skew_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 with its one fact-fact edge (lineitem⋈orders on orderkey)
    executed as an EXPLICIT salted join (operators/agg.py salted_join):
    lineitem rows get a uniform random salt, orders replicates across
    the salt range via one explode, and the join key becomes
    (orderkey, salt) — a hot orderkey's rows spread over salt_buckets
    reducers instead of one straggler. Same oracle as q8_market_share:
    salting an inner equi-join is result-invariant, which the driver's
    value-hash pins. The dim edges are identical to q8 (nation/region
    hinted, SF-scaled tables left to AQE). This is the manual fallback
    for plans AQE's skew-join split can't reach; the AQE path itself
    is plan-tested in test_aqe_splits_skewed_join_partitions."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    n_cust = _t(spark, sf_dir, "nation").alias("n1")
    n_supp = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_nationkey"), F.col("n_name").alias("supp_nation")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    fact = salted_join(li, o, "l_orderkey", "o_orderkey")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        fact.join(p, F.col("l_partkey") == p.p_partkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n_cust), c.c_nationkey == F.col("n1.n_nationkey"))
        .join(F.broadcast(r), F.col("n1.n_regionkey") == r.r_regionkey)
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n_supp), s.s_nationkey == F.col("sn_nationkey"))
        .select(F.year("o_orderdate").alias("o_year"), vol.alias("volume"), "supp_nation")
    )
    return joined.groupBy("o_year").agg(
        F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_2", F.col("volume")).otherwise(0.0))
            / F.sum("volume"),
            6,
        ).alias("mkt_share")
    )


@query(
    "mm_resize_ppm",
    """
WITH dims AS (
  SELECT doc_id, CAST(8 + doc_id % 9 AS BIGINT) AS w,
         CAST(8 + (doc_id * 3) % 7 AS BIGINT) AS h
  FROM documents
),
grid AS (
  SELECT gx.x AS xt, gy.y AS yt
  FROM generate_series(0, 9) gx(x), generate_series(0, 9) gy(y)
),
px AS (
  SELECT d.doc_id,
         (d.doc_id*7  + ((xt*d.w)//10)*3  + ((yt*d.h)//10)*5) % 256
       + (d.doc_id*11 + ((xt*d.w)//10)*13 + ((yt*d.h)//10))   % 256
       + (d.doc_id*3  + ((xt*d.w)//10)    + ((yt*d.h)//10)*17) % 256 AS s
  FROM dims d CROSS JOIN grid
)
SELECT doc_id, CAST(10 AS INT) AS width, CAST(10 AS INT) AS height,
       CAST(313 AS INT) AS n_bytes, CAST(SUM(s) AS BIGINT) AS pixel_sum
FROM px GROUP BY doc_id
""",
)
def mm_resize_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec resize over binary PPM (P6): same pipeline as
    mm_resize_real but the corpus is encoded with the second codec
    (functions/ppm.py) and resize_payload_real's magic sniffing picks
    it per row — decode → nearest-resample to 10×10 → re-encode as
    PPM → decode again. The oracle's closed-form pixel grid is shared
    with the BMP query (the synthetic image is format-independent);
    only n_bytes differs: 13-byte "P6\\n10 10\\n255\\n" header + 300
    unpadded RGB bytes = 313, vs BMP's 374 (54-byte header + 4-byte
    row padding). A header, ordering, or truncation bug in the PPM
    codec shifts pixel_sum or n_bytes off the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    resized = mm.resize_payload_real(mm.synthesize_ppm_corpus(docs))
    return resized.select("doc_id", "width", "height", "n_bytes", "pixel_sum")


# ---------------------------------------------------------------------------
# Round-3 additions: incremental dedup, containment near-dup, corpus
# vocabulary, and physical-layout round-trips (compaction / ORC).
# Registered after the backlog so the driver's first 50 slots go to
# queries still missing a CORRECTNESS row.
# ---------------------------------------------------------------------------

_NORM = "lower(trim(regexp_replace(text, ' +', ' ', 'g')))"


@query(
    "dedup_incremental",
    f"""
WITH seen AS (
  SELECT DISTINCT md5({_NORM}) AS text_md5 FROM documents WHERE doc_id % 4 <> 0
),
inc AS (
  SELECT doc_id, md5({_NORM}) AS text_md5 FROM documents WHERE doc_id % 4 = 0
)
SELECT text_md5, MIN(doc_id) AS doc_id, COUNT(*) AS n_batch_copies
FROM inc
WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.text_md5 = inc.text_md5)
GROUP BY text_md5
""",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (ledger) dedup: treat doc_id % 4 == 0 as today's
    incoming batch and the rest as the already-ingested corpus; only
    the corpus's distinct hashes are touched (the 100 TB form keeps
    those as a bucketed ledger table so the anti-join never rescans
    history text — operators/dedup.py incremental_dedup docstring)."""
    from whisky_wine_etl_spark.operators import dedup as dd

    docs = _t(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 4 != 0)
    incoming = docs.filter(F.col("doc_id") % 4 == 0)
    return dd.incremental_dedup(existing, incoming)


@query(
    "dedup_containment",
    """
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i.i:i.i+2], ' ') AS shingle
  FROM tk, LATERAL (SELECT unnest(range(1, greatest(len(toks) - 2, 1) + 1)) AS i) i(i)
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(CAST(n_common AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh), 6) AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_common AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh) >= 0.8
""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact overlap-coefficient pairs (|A∩B|/min sizes ≥ 0.8) — the
    containment detector Jaccard misses when a short doc is quoted
    inside a long one. Same inverted-index shape as the Jaccard
    oracle; work ∝ shingle collisions."""
    from whisky_wine_etl_spark.operators import dedup as dd

    return dd.containment_pairs(_t(spark, sf_dir, "documents"), threshold=0.8)


@query(
    "text_vocab_topk",
    """
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
)
SELECT token,
       CAST(COUNT(*) AS BIGINT) AS tf,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
FROM t WHERE token <> ''
GROUP BY token
ORDER BY tf DESC, token
LIMIT 25
""",
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-25 tokens by total frequency with
    document frequency — the first pass of tokenizer/vocab building.
    One explode → one partial-agg'd groupBy → TakeOrdered 25 (no full
    sort); ties broken by token so the limit is deterministic."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token")).filter(
        F.col("token") != ""
    )
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("tf"), "token")
        .limit(25)
    )


def _scratch_dir(spark: SparkSession, sf_dir: str, leaf: str) -> str:
    """Per-(sf_dir, session) scratch path — same isolation contract as
    streaming's multibatch landing dir: concurrent suites on one
    sf_dir can't clobber each other's files."""
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(
        (sf_dir + spark.sparkContext.applicationId).encode()
    ).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"sg_r3_{tag}", leaf)


@query(
    "layout_compact_roundtrip",
    "SELECT doc_id, source, n_chars FROM documents",
)
def layout_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction is content-neutral: scatter documents
    into 32 undersized files (the streaming-sink pathology), compact
    to ~target-size files (sources/io.py compact_parquet — sized by
    source bytes, coalesce so no shuffle), and return the compacted
    table for the oracle to hash against the original. At 100 TB this
    is the maintenance job that keeps scan cost ∝ bytes instead of
    ∝ file count."""
    from whisky_wine_etl_spark.sources import io as sio

    small = _scratch_dir(spark, sf_dir, "compact_small")
    compacted = _scratch_dir(spark, sf_dir, "compact_out")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    docs.repartition(32).write.mode("overwrite").parquet(small)
    sio.compact_parquet(spark, small, compacted, target_file_bytes=64 * 1024 * 1024)
    return spark.read.parquet(compacted)


@query(
    "source_orc_roundtrip",
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/source round-trip carries the full documents table
    bit-exactly (driver hashes text too) — pins the second columnar
    format's type fidelity, not just parquet's."""
    from whisky_wine_etl_spark.sources import io as sio

    path = _scratch_dir(spark, sf_dir, "orc_docs")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    sio.write_orc(docs, path)
    return sio.read_orc(spark, path)


@query(
    "pyds_range_events",
    """
SELECT i AS row_id,
       (i * 2654435761) % 2147483648 % 1000 AS user_id,
       'type_' || CAST((i * 2654435761) % 2147483648 % 5 AS VARCHAR) AS event_type,
       ((i * 2654435761) % 2147483648 % 10000) / 100.0 AS value
FROM range(20000) t(i)
WHERE i >= 2500 AND i < 15000
""",
)
def pyds_range_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python Data Source end to end (sources/pyds.py): the
    registered `range_events` connector generates 20k closed-form rows
    across 8 parallel partitions; the row_id predicates PUSH DOWN into
    the source (its partitions() plans only [2500, 15000) after
    pushFilters), and the oracle recomputes every cell from the same
    arithmetic — value-exact verification of partition math, Arrow
    conversion, and pushdown pruning."""
    from whisky_wine_etl_spark.sources.pyds import RangeEventsDataSource

    spark.dataSource.register(RangeEventsDataSource)
    df = (
        spark.read.format("range_events")
        .option("n_rows", 20000)
        .option("n_partitions", 8)
        .load()
    )
    return df.filter((F.col("row_id") >= 2500) & (F.col("row_id") < 15000))


@query(
    "pyds_stream_range",
    """
SELECT i AS row_id,
       (i * 2654435761) % 2147483648 % 1000 AS user_id,
       'type_' || CAST((i * 2654435761) % 2147483648 % 5 AS VARCHAR) AS event_type,
       ((i * 2654435761) % 2147483648 % 10000) / 100.0 AS value
FROM range(12000) t(i)
""",
)
def pyds_stream_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom connector's STREAMING face (SimpleDataSourceStream-
    Reader): offsets are row indices, availableNow drains everything
    the source reports available, and the memory-sink result must
    hash-match the closed-form oracle — verifying offset bookkeeping
    and the row generator through the streaming engine. Cross-run
    offset persistence (micro-batch at a time over a shared
    checkpoint) is exercised in tests/test_pyds.py."""
    from whisky_wine_etl_spark.sources.pyds import RangeEventsDataSource
    from whisky_wine_etl_spark.streaming.pipelines import run_to_memory

    spark.dataSource.register(RangeEventsDataSource)
    sdf = spark.readStream.format("range_events").option("n_rows", 12000).load()
    return run_to_memory(spark, sdf, "append")


@query(
    "pyds_manifest_sink_roundtrip",
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def pyds_manifest_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom SINK via the Python Data Source write API: documents go
    through the manifest-committed JSONL writer (executors write
    uncommitted part files; only the driver's commit() publishes them
    into _MANIFEST — the object-store-safe publication pattern) and
    come back through the manifest reader, which trusts the manifest
    exclusively. Hash-exact vs the original pins the writer's
    serialization, the commit protocol, and the reader's parsing.
    Overwrite mode keeps the query idempotent across reruns."""
    from whisky_wine_etl_spark.sources.pyds import ManifestJsonlDataSource

    spark.dataSource.register(ManifestJsonlDataSource)
    path = _scratch_dir(spark, sf_dir, "manifest_jsonl")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    docs.write.format("manifest_jsonl").mode("overwrite").save(path)
    return (
        spark.read.format("manifest_jsonl").schema(docs.schema).option("path", path).load()
    )


_LATERAL_TOPN_SQL = """
SELECT n_name, c_name, c_acctbal
FROM nation n, LATERAL (
  SELECT c_name, c_acctbal FROM customer
  WHERE c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name LIMIT 2
) t
"""


@query("sql_lateral_topn_per_nation", _LATERAL_TOPN_SQL)
def sql_lateral_topn_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT (Spark 4):
    per-nation top-2 customers by balance, the same text running on
    DuckDB as the oracle. Catalyst decorrelates the lateral into a
    ranked window + filter — per-group top-n without hand-writing the
    window; ties broken by name so the LIMIT is deterministic."""
    _t(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_LATERAL_TOPN_SQL)


_RECURSIVE_SPINE_SQL = """
WITH RECURSIVE m(mon) AS (
  SELECT 1 UNION ALL SELECT mon + 1 FROM m WHERE mon < 12
),
oc AS (
  SELECT CAST(month(o_orderdate) AS INT) AS mon,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         ROUND(SUM(o_totalprice), 2) AS revenue
  FROM orders
  WHERE year(o_orderdate) = 1997
  GROUP BY 1
)
SELECT m.mon, COALESCE(n_orders, 0) AS n_orders,
       COALESCE(revenue, 0.0) AS revenue
FROM m LEFT JOIN oc ON oc.mon = m.mon
"""


@query("sql_recursive_month_spine", _RECURSIVE_SPINE_SQL)
def sql_recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4.1 WITH RECURSIVE) generating a 12-month
    spine, left-joined to 1997 monthly order rollups so empty months
    survive with zeros — the standard report-spine pattern, identical
    text on both engines. The recursion is driver-trivial (12 rows);
    the data-side work stays one partial-agg'd groupBy."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_RECURSIVE_SPINE_SQL)


@query(
    "func_sql_udf_tier",
    """
SELECT CASE WHEN o_totalprice >= 200000 THEN 'high'
            WHEN o_totalprice >= 100000 THEN 'mid'
            ELSE 'low' END AS tier,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(o_totalprice), 2) AS avg_price
FROM orders
GROUP BY 1
""",
)
def func_sql_udf_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar UDF (Spark 4.1 CREATE FUNCTION ... RETURN
    expr): the function body inlines into the plan as an expression —
    Catalyst sees the CASE, not a black box, so codegen and pushdown
    survive (unlike a Python UDF). The oracle inlines the same
    expression by hand."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION order_tier(p DOUBLE) RETURNS STRING "
        "RETURN CASE WHEN p >= 200000 THEN 'high' "
        "WHEN p >= 100000 THEN 'mid' ELSE 'low' END"
    )
    return spark.sql(
        "SELECT order_tier(o_totalprice) AS tier, CAST(COUNT(*) AS BIGINT) AS n, "
        "ROUND(AVG(o_totalprice), 2) AS avg_price FROM orders GROUP BY 1"
    )


@query(
    "udf_arrow_norm_stats",
    """
WITH n AS (
  SELECT vec_id,
         SQRT(list_aggregate(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm,
         CAST(embedding[1] AS DOUBLE) AS head
  FROM embeddings
)
SELECT vec_id, ROUND(nrm, 4) AS l2_norm,
       ROUND(head / GREATEST(nrm, 1e-300), 6) AS unit_head
FROM n
""",
)
def udf_arrow_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow surface (operators/similarity.py
    embedding_norm_stats_arrow): RecordBatches in, the list column's
    flat buffer reshaped to a matrix, one vectorized pass out — the
    zero-copy tier below Pandas UDFs, value-exact against the SQL
    fold at the registered rounding grains."""
    from whisky_wine_etl_spark.operators.similarity import embedding_norm_stats_arrow

    return embedding_norm_stats_arrow(_t(spark, sf_dir, "embeddings"))


@query(
    "events_cohort_retention",
    """
WITH firsts AS (
  SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS act_day FROM events
)
SELECT f.cohort_day,
       CAST(datediff('day', f.cohort_day, a.act_day) AS INT) AS day_offset,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS active_users
FROM firsts f JOIN activity a ON a.user_id = f.user_id
GROUP BY 1, 2
""",
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention at DAILY grain (the events corpus spans one
    month, so day cohorts are the meaningful resolution): users
    grouped by first-activity day, counted distinct at every day
    offset they return. Two aggregations over one events scan
    (first-touch, distinct activity) joined on user_id — the join key
    is the high-cardinality user, so it shuffles evenly; day
    arithmetic on DATE-floored values is integral in both engines."""
    e = _t(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(F.min("ts").cast("date").alias("cohort_day"))
    activity = e.select("user_id", F.col("ts").cast("date").alias("act_day")).distinct()
    return (
        firsts.join(activity, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("act_day", "cohort_day").cast("int").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@query(
    "stat_profile_documents",
    """
SELECT 'doc_id' AS column_name,
       CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
       CAST(MIN(doc_id) AS VARCHAR) AS min_str, CAST(MAX(doc_id) AS VARCHAR) AS max_str
FROM documents
UNION ALL
SELECT 'lang', CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT lang) AS BIGINT),
       CAST(MIN(lang) AS VARCHAR), CAST(MAX(lang) AS VARCHAR) FROM documents
UNION ALL
SELECT 'source', CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT source) AS BIGINT),
       CAST(MIN(source) AS VARCHAR), CAST(MAX(source) AS VARCHAR) FROM documents
UNION ALL
SELECT 'n_chars', CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT n_chars) AS BIGINT),
       CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR) FROM documents
""",
)
def stat_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data profiler: per-column null count, exact distinct,
    min/max (stringified for a uniform schema) — computed in a SINGLE
    aggregate over one scan (Catalyst's Expand handles the multiple
    COUNT(DISTINCT)s), then unpivoted to one row per column via
    stack(). The oracle's 4-scan UNION ALL is the semantic spec; the
    engine does it in one."""
    docs = _t(spark, sf_dir, "documents")
    cols = ["doc_id", "lang", "source", "n_chars"]
    aggs = []
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("bigint").alias(f"nn_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
            F.min(c).cast("string").alias(f"mn_{c}"),
            F.max(c).cast("string").alias(f"mx_{c}"),
        ]
    one = docs.agg(*aggs)
    stack_args = ", ".join(f"'{c}', nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c in cols)
    return one.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(column_name, n_nulls, n_distinct, min_str, max_str)"
    )


@query("dedup_clusters_star", ORACLES["dedup_clusters"])
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_clusters re-run through alternating large-star/small-star
    connected components (operators/dedup.py connected_components_star)
    against the SAME recursive-CTE oracle: O(log n) rounds instead of
    O(diameter), which is the scale-correct choice when near-dup
    chains can be long (label propagation raises past its cap; the
    star algorithm converges — both behaviors pinned in tests)."""
    from whisky_wine_etl_spark.operators import dedup as dd

    docs = _t(spark, sf_dir, "documents")
    pairs = dd.jaccard_pairs(docs, threshold=0.5)
    return dd.connected_components_star(pairs, nodes=docs.select("doc_id"))


@query(
    "window_session_native",
    """
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts,
         SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_no
  FROM o
)
SELECT user_id,
       MIN(ts) AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s
GROUP BY user_id, session_no
""",
)
def window_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window in BATCH mode: one groupBy on
    (session_window(ts, 30 min), user_id) — the engine merges
    overlapping per-row windows into gap-separated sessions inside the
    aggregate, no window-function passes. The oracle derives the same
    sessions with the classic gaps-and-islands SQL using the EXACT
    session_window split rule — a new session starts when the
    unfloored gap is >= 30 min, compared in integer microseconds
    (epoch_us) so a [1800s, 1801s) gap can't make the engines
    disagree; start timestamps and event counts must agree exactly. (The window's END differs by
    definition — Spark pads the last event by the gap — so the
    comparison pins start + membership, the definition-independent
    parts.)"""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


@query(
    "agg_histogram_value",
    """
WITH params AS (
  SELECT MIN(value) AS mn, MAX(value) AS mx FROM events
),
b AS (
  SELECT LEAST(CAST(FLOOR((value - mn) / ((mx - mn) / 20.0)) AS INT), 19) AS bucket
  FROM events, params
)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n
FROM b GROUP BY bucket
""",
)
def agg_histogram_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bin histogram of events.value: one tiny min/max
    agg (broadcast as a 1-row frame — constant size at every SF, the
    one legitimate hint), then pure-arithmetic bucketing and a
    partial-agg'd count. The float edge case is pinned by LEAST(...,
    19): the max value lands in the last bin on both engines instead
    of a 21st bin."""
    e = _t(spark, sf_dir, "events")
    params = e.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    width = (F.col("mx") - F.col("mn")) / F.lit(20.0)
    return (
        e.crossJoin(F.broadcast(params))
        .select(
            F.least(
                F.floor((F.col("value") - F.col("mn")) / width).cast("int"), F.lit(19)
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "mm_audio_features",
    """
WITH dims AS (
  SELECT doc_id,
         CAST(800 + (doc_id % 5) * 40 AS INT) AS n,
         CAST(8000 + (doc_id % 3) * 4000 AS INT) AS rate
  FROM documents
),
s AS (
  SELECT d.doc_id, d.n, d.rate,
         ((d.doc_id * 31 + i.i * 7) % 2003) - 1001 AS smp
  FROM dims d, LATERAL (SELECT unnest(range(0, d.n)) AS i) i(i)
)
SELECT doc_id,
       CAST(rate AS INT) AS sample_rate,
       CAST(n AS INT) AS n_samples,
       CAST(SUM(smp * smp) AS BIGINT) AS sum_sq,
       CAST(MAX(ABS(smp)) AS INT) AS peak,
       CAST(44 + 2 * n AS INT) AS n_bytes
FROM s GROUP BY doc_id, rate, n
""",
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec end to end: synthesize valid PCM WAVs (mono
    16-bit, RIFF chunk layout — functions/wav.py), decode them back
    through the chunk-walking decoder, and emit integer-exact signal
    features the oracle recomputes from the waveform's closed form.
    n_bytes pins the canonical 44-byte header + 2 bytes/sample."""
    from whisky_wine_etl_spark.operators import multimodal as mm

    docs = _t(spark, sf_dir, "documents")
    return mm.audio_features(mm.synthesize_wav_corpus(docs))


_NTILE_SQL = """
WITH q AS (
  SELECT c_nationkey, c_acctbal,
         ntile(4) OVER (PARTITION BY c_nationkey
                        ORDER BY c_acctbal, c_custkey) AS quartile
  FROM customer
)
SELECT c_nationkey, quartile, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(c_acctbal), 2) AS lo, ROUND(MAX(c_acctbal), 2) AS hi
FROM q GROUP BY 1, 2
"""


@query("window_ntile_quartiles", _NTILE_SQL)
def window_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) per nation (full tie-break so bucket assignment is
    deterministic), aggregated to per-quartile count + balance range —
    pins the ceil-division bucket-size rule both engines implement.
    One shuffle on nation for the window, partial-agg'd rollup after."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_NTILE_SQL)


_PCTL_DISC_SQL = """
SELECT c_mktsegment,
       percentile_disc(0.25) WITHIN GROUP (ORDER BY c_acctbal) AS p25,
       percentile_disc(0.5)  WITHIN GROUP (ORDER BY c_acctbal) AS p50,
       percentile_disc(0.75) WITHIN GROUP (ORDER BY c_acctbal) AS p75
FROM customer GROUP BY c_mktsegment
"""


@query("agg_percentile_disc", _PCTL_DISC_SQL)
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-distribution percentile_disc (WITHIN GROUP) — picks an
    ACTUAL value from the group, so cross-engine parity is exact with
    no rounding grain at all (unlike percentile_cont's interpolation).
    Same text runs on both engines."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_PCTL_DISC_SQL)


@query(
    "agg_bitmap_distinct",
    """
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
""",
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct via bitmap aggregates (Spark 3.5+):
    per (event_type, day, bucket) partial bitmaps →
    bitmap_or_agg-merge across days → popcount sum. Going through the
    DAY grain on purpose: a user active on many days appears in many
    partial bitmaps and the OR-merge must dedupe them, which is the
    incremental-rollup property — daily partials re-aggregate to any
    coarser grain EXACTLY, where HLL (agg_hll_partial_union) only
    approximates. State is one bitmap per 2^15-id bucket actually
    touched; the oracle is plain COUNT(DISTINCT)."""
    e = _t(spark, sf_dir, "events")
    partials = e.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
        F.expr("bitmap_bucket_number(user_id)").alias("bkt"),
    ).agg(F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("b"))
    merged = partials.groupBy("event_type", "bkt").agg(
        F.expr("bitmap_or_agg(b)").alias("bm")
    )
    return merged.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_users")
    )


@query(
    "corpus_perplexity_score",
    """
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
bg AS (
  SELECT doc_id, toks[i.i] AS w1,
         array_to_string(toks[i.i:i.i+1], ' ') AS bigram
  FROM tk, LATERAL (SELECT unnest(range(1, greatest(len(toks) - 1, 1) + 1)) AS i) i(i)
),
cbg AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c12 FROM bg GROUP BY 1),
cw1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM bg GROUP BY 1),
v AS (
  SELECT COUNT(DISTINCT tok) AS vocab
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
),
sc AS (
  SELECT b.doc_id, LN((CAST(c.c12 AS DOUBLE) + 1) / (w.c1 + v.vocab)) AS lp
  FROM bg b JOIN cbg c USING (bigram) JOIN cw1 w USING (w1) CROSS JOIN v
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(-SUM(lp) / COUNT(*), 4) AS avg_nll
FROM sc GROUP BY doc_id
""",
)
def corpus_perplexity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity quality scoring: every doc's average
    negative log-likelihood under an add-one-smoothed bigram LM
    trained on the corpus itself (low avg_nll ≈ fluent/common text;
    high ≈ noise — the standard quality-filter signal). Three hash
    aggregations over one bigram explode (corpus bigram counts,
    per-history counts, vocabulary size) joined back to the doc's
    bigram stream — counts stay integers across the engine boundary
    and BOTH engines evaluate the identical LN((c12+1)/(c1+V)) shape,
    so the only cross-engine float noise is a per-term libm ulp
    (~1e-16) + summation order (~1e-14), seven orders under the 4-dp
    rounding grain (the repo's grain rule)."""
    docs = _t(spark, sf_dir, "documents")
    tk = docs.select("doc_id", F.split("text", " ").alias("toks"))
    bg = tk.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(toks) - 1, 1)), "
                "i -> struct(element_at(toks, i) AS w1, "
                "array_join(slice(toks, i, 2), ' ') AS bigram))"
            )
        ).alias("e"),
    ).select("doc_id", "e.w1", "e.bigram")
    cbg = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c12"))
    cw1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .agg(F.countDistinct("tok").alias("vocab"))
    )
    lp = F.log((F.col("c12") + F.lit(1.0)) / (F.col("c1") + F.col("vocab")))
    return (
        bg.join(cbg, "bigram")
        .join(cw1, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-F.sum(lp) / F.count(F.lit(1)), 4).alias("avg_nll"),
        )
    )


@query(
    "mm_resize_mixed_formats",
    """
WITH dims AS (
  SELECT doc_id, CAST(8 + doc_id % 9 AS BIGINT) AS w,
         CAST(8 + (doc_id * 3) % 7 AS BIGINT) AS h
  FROM documents
),
grid AS (
  SELECT gx.x AS xt, gy.y AS yt
  FROM generate_series(0, 9) gx(x), generate_series(0, 9) gy(y)
),
px AS (
  SELECT d.doc_id,
         (d.doc_id*7  + ((xt*d.w)//10)*3  + ((yt*d.h)//10)*5) % 256
       + (d.doc_id*11 + ((xt*d.w)//10)*13 + ((yt*d.h)//10))   % 256
       + (d.doc_id*3  + ((xt*d.w)//10)    + ((yt*d.h)//10)*17) % 256 AS s
  FROM dims d CROSS JOIN grid
)
SELECT doc_id, CAST(10 AS INT) AS width, CAST(10 AS INT) AS height,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 374 ELSE 313 END AS INT) AS n_bytes,
       CAST(SUM(s) AS BIGINT) AS pixel_sum
FROM px GROUP BY doc_id
""",
)
def mm_resize_mixed_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-ROW codec dispatch under a MIXED corpus: even doc_ids carry
    BMP payloads, odd ones binary PPM, interleaved in ONE table; the
    resize operator sniffs each payload's magic and re-encodes in the
    format it decoded. The oracle's pixel grid is format-independent,
    but n_bytes flips per row (374 padded BMP vs 313 unpadded PPM) —
    a dispatch bug that routes a row through the wrong codec shifts
    n_bytes or pixel_sum immediately."""
    from whisky_wine_etl_spark.operators import multimodal as mm

    docs = _t(spark, sf_dir, "documents")
    bmp = mm.synthesize_bmp_corpus(docs.filter(F.col("doc_id") % 2 == 0))
    ppm = mm.synthesize_ppm_corpus(docs.filter(F.col("doc_id") % 2 != 0))
    mixed = bmp.unionByName(ppm)
    return mm.resize_payload_real(mixed).select(
        "doc_id", "width", "height", "n_bytes", "pixel_sum"
    )


@query(
    "graph_triangle_count",
    """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
       CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM e ab
JOIN e bc ON ab.pb = bc.pa
JOIN e ac ON ac.pa = ab.pa AND ac.pb = bc.pb
""",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting over the part co-purchase graph
    (parts sharing an order are adjacent): the id-ordered formulation
    a<b<c counts each triangle exactly once with two hash joins over
    the edge list — no per-node adjacency materialization. Work is
    Σ d(v)² on the middle join; for hub-skewed real graphs the classic
    refinement is degree orientation (point edges low→high degree,
    bounding the middle join by arboricity) — id order suffices on
    this corpus and keeps the oracle textually identical."""
    from whisky_wine_etl_spark.operators.graph import copurchase_edges

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # ONE orderkey shuffle (basket emission, operators/graph.py) — no
    # fact-table self-join
    # localCheckpoint: GC-cleaned blocks, no cross-call cache leak (ADVICE r4)
    e = copurchase_edges(li).localCheckpoint()
    ab, bc, ac = e.alias("ab"), e.alias("bc"), e.alias("ac")
    tri = ab.join(bc, F.col("ab.pb") == F.col("bc.pa")).join(
        ac,
        (F.col("ac.pa") == F.col("ab.pa")) & (F.col("ac.pb") == F.col("bc.pb")),
    )
    n_edges = e.count()
    return tri.agg(
        F.lit(n_edges).cast("bigint").alias("n_edges"),
        F.count(F.lit(1)).alias("n_triangles"),
    )


@query(
    "sample_weighted_systematic",
    """
WITH c AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         COALESCE(SUM(CAST(n_chars AS BIGINT)) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS s
  FROM documents
),
tot AS (SELECT SUM(CAST(n_chars AS BIGINT)) AS w FROM documents)
SELECT doc_id, n_chars,
       CAST(((s + n_chars) * 50) // w - (s * 50) // w AS BIGINT) AS n_picks
FROM c CROSS JOIN tot
WHERE ((s + n_chars) * 50) // w - (s * 50) // w > 0
""",
)
def sample_weighted_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted systematic sampling of 50 docs by n_chars — marker
    positions on the cumulative-weight tape, integer-exact selection
    (operators/sampling.py weighted_systematic_sample), distributed
    via the two-pass range-partition prefix sum rather than a
    single-task global window. The oracle's plain window cumsum is
    the semantic spec the two-pass plan must reproduce exactly."""
    from whisky_wine_etl_spark.operators.sampling import weighted_systematic_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_systematic_sample(docs, k=50, weight_col="n_chars")


@query(
    "etl_cdc_latest_state",
    """
WITH log AS (
  SELECT user_id AS k, ts, event_id,
         CASE WHEN event_type = 'signup' THEN 'I'
              WHEN event_type = 'error'  THEN 'D'
              ELSE 'U' END AS op,
         value AS v
  FROM events
),
ranked AS (
  SELECT k, op, v,
         ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts DESC, event_id DESC) AS rn
  FROM log
)
SELECT k AS user_id, op AS last_op, ROUND(v, 4) AS final_value
FROM ranked WHERE rn = 1 AND op <> 'D'
""",
)
def etl_cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog → latest-state materialization (the Debezium-style
    CDC apply): events become an I/U/D op log per key, the newest op
    wins (full tie-break on event_id), and keys whose final op is a
    DELETE drop out of the snapshot. One ranked window per key — at
    scale this is the standard log-compaction shape: shuffle once on
    the key, no global ordering."""
    e = _t(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    op = (
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
    )
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.select(
            F.col("user_id"),
            "ts",
            "event_id",
            op.alias("op"),
            F.col("value").alias("v"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            "user_id",
            F.col("op").alias("last_op"),
            F.round("v", 4).alias("final_value"),
        )
    )


@query(
    "table_time_travel",
    """
SELECT CAST(1 AS INT) AS version, doc_id, lang FROM documents
UNION ALL
SELECT CAST(2 AS INT) AS version, doc_id, lang FROM documents WHERE lang = 'en'
UNION ALL
SELECT CAST(3 AS INT) AS version, doc_id, lang FROM documents WHERE lang = 'en'
UNION ALL
SELECT CAST(3 AS INT) AS version, doc_id, lang FROM documents
""",
)
def table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot versioning / time travel (sources/snapshots.py): v1 =
    full documents; v2 = copy-on-write OVERWRITE down to lang='en'
    (v1's files stay on disk, referenced by v1's manifest); v3 =
    APPEND of the full table on top of v2's lineage, so its logical
    content is the English slice PLUS a full copy. Every version is
    then read back BY VERSION and unioned under a version tag; the
    oracle recomputes each version's logical content. A lineage bug —
    overwrite inheriting parent files, append dropping them, reads
    leaking across versions, the pointer not advancing — breaks the
    hash. Manifests are immutable once written, so a rerun within one
    session reads the same three versions unchanged."""
    from whisky_wine_etl_spark.sources import snapshots as snap

    table = _scratch_dir(spark, sf_dir, "ttl_table")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    en = docs.filter(F.col("lang") == "en")
    if snap.current_version(table) is None:
        snap.write_snapshot(docs, table, mode="append")    # v1: full
        snap.write_snapshot(en, table, mode="overwrite")   # v2: en only
        snap.write_snapshot(docs, table, mode="append")    # v3: en + full
    out = None
    for v in (1, 2, 3):
        part = snap.read_snapshot(spark, table, version=v).select(
            F.lit(v).cast("int").alias("version"), "doc_id", "lang"
        )
        out = part if out is None else out.unionByName(part)
    return out


@query(
    "table_merge_publish",
    """
WITH base AS (SELECT doc_id, source, n_chars FROM documents),
upd AS (
  SELECT doc_id, source, n_chars + 1000 AS n_chars
  FROM documents WHERE doc_id % 10 = 0
),
ins AS (
  SELECT doc_id + 1000000 AS doc_id, source, n_chars
  FROM documents WHERE doc_id % 100 = 0
),
chg AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
SELECT COALESCE(c.doc_id, b.doc_id) AS doc_id,
       COALESCE(c.source, b.source) AS source,
       COALESCE(c.n_chars, b.n_chars) AS n_chars
FROM base b FULL JOIN chg c ON b.doc_id = c.doc_id
""",
)
def table_merge_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full warehouse write loop on the snapshot table format:
    read the LATEST version, MERGE a change batch into it (updates
    bump n_chars for doc_id%10 keys, inserts add doc_id+1e6 rows —
    operators/merge.py upsert, one full-outer join), and PUBLISH the
    result as a new overwrite snapshot; the returned frame is the new
    version read back BY VERSION. The oracle recomputes the merge
    relationally, so a bug in the merge, the snapshot write, or the
    versioned read breaks the hash. Reruns in one session read the
    already-published version (manifests immutable)."""
    from whisky_wine_etl_spark.operators.merge import upsert
    from whisky_wine_etl_spark.sources import snapshots as snap

    table = _scratch_dir(spark, sf_dir, "merge_table")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    if snap.current_version(table) is None:
        snap.write_snapshot(docs, table, mode="append")  # v1: base
        base = snap.read_snapshot(spark, table, version=1)
        upd = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
            "n_chars", F.col("n_chars") + 1000
        )
        ins = docs.filter(F.col("doc_id") % 100 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1000000
        )
        merged = upsert(base, upd.unionByName(ins), keys=["doc_id"])
        snap.write_snapshot(merged, table, mode="overwrite")  # v2: published
    return snap.read_snapshot(spark, table, version=2)


@query(
    "contract_check_orders",
    """
SELECT 'totalprice_nonneg' AS rule,
       CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
FROM orders
UNION ALL
SELECT 'orderdate_in_range',
       CAST(SUM(CASE WHEN o_orderdate IS NULL
                       OR o_orderdate <  TIMESTAMP '1992-01-01'
                       OR o_orderdate >= TIMESTAMP '2000-01-01'
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'priority_in_domain',
       CAST(SUM(CASE WHEN o_orderpriority NOT IN
                       ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'custkey_fk',
       CAST((SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
""",
)
def contract_check_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-contract check in the engine's validation
    style (non-fatal, reporting — the reference's pandera posture,
    SURVEY §2 V-1): three row-local rules evaluate in ONE aggregate
    pass over one scan (conditional sums, unpivoted via stack), and
    the referential rule is a left-anti count against customer —
    the four-scan UNION ALL oracle is the semantic spec. At 100 TB
    the row-local pass stays one scan regardless of rule count; each
    FK rule is one anti-join on its key."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    viol = [
        ("totalprice_nonneg", F.col("o_totalprice") < 0),
        (
            "orderdate_in_range",
            F.col("o_orderdate").isNull()
            | (F.col("o_orderdate") < F.lit("1992-01-01").cast("timestamp"))
            | (F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")),
        ),
        (
            "priority_in_domain",
            ~F.col("o_orderpriority").isin(
                "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
            ),
        ),
    ]
    one = o.agg(
        *[
            F.sum(F.when(pred, 1).otherwise(0)).cast("bigint").alias(f"v{i}")
            for i, (_n, pred) in enumerate(viol)
        ]
    )
    stack_args = ", ".join(f"'{name}', v{i}" for i, (name, _p) in enumerate(viol))
    local = one.selectExpr(
        f"stack({len(viol)}, {stack_args}) AS (rule, n_violations)"
    )
    fk = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(F.lit("custkey_fk").alias("rule"), "n_violations")
    )
    return local.unionByName(fk)


_RATIO_SQL = """
WITH rev AS (
  SELECT n.n_name,
         ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS nation_rev
  FROM lineitem l
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n   ON n.n_nationkey = c.c_nationkey
  GROUP BY n.n_name
)
SELECT n_name, nation_rev,
       ROUND(nation_rev / SUM(nation_rev) OVER (), 6) AS rev_share
FROM rev
"""


@query("window_ratio_to_report", _RATIO_SQL)
def window_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (ratio_to_report): each nation's revenue share
    of the corpus total via an empty-frame window over the AGGREGATED
    frame — the window runs over 25 rows, never the fact table, so
    the full-table pass stays one partial-agg'd groupBy. Share divides
    the already-2dp-rounded aggregates (quantized inputs → identical
    quotients), then rounds at 6dp."""
    for t in ("lineitem", "orders", "customer", "nation"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_RATIO_SQL)


@query(
    "graph_pagerank_copurchase",
    """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e1 AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
edges AS (SELECT src, dst FROM e1 UNION ALL SELECT dst, src FROM e1),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT COUNT(*) AS cnt FROM nodes),
deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT cnt FROM nn) AS r FROM nodes),
c1 AS (SELECT e.dst AS node, SUM(r0.r / deg.d) AS c
       FROM edges e JOIN r0 ON r0.node = e.src JOIN deg ON deg.node = e.src
       GROUP BY e.dst),
r1 AS (SELECT n.node, CAST(0.15 AS DOUBLE) / (SELECT cnt FROM nn) + 0.85 * COALESCE(c1.c, 0) AS r
       FROM nodes n LEFT JOIN c1 ON c1.node = n.node),
c2 AS (SELECT e.dst AS node, SUM(r1.r / deg.d) AS c
       FROM edges e JOIN r1 ON r1.node = e.src JOIN deg ON deg.node = e.src
       GROUP BY e.dst),
r2 AS (SELECT n.node, CAST(0.15 AS DOUBLE) / (SELECT cnt FROM nn) + 0.85 * COALESCE(c2.c, 0) AS r
       FROM nodes n LEFT JOIN c2 ON c2.node = n.node),
c3 AS (SELECT e.dst AS node, SUM(r2.r / deg.d) AS c
       FROM edges e JOIN r2 ON r2.node = e.src JOIN deg ON deg.node = e.src
       GROUP BY e.dst),
r3 AS (SELECT n.node, CAST(0.15 AS DOUBLE) / (SELECT cnt FROM nn) + 0.85 * COALESCE(c3.c, 0) AS r
       FROM nodes n LEFT JOIN c3 ON c3.node = n.node)
SELECT node AS l_partkey, ROUND(r * 1000, 6) AS pagerank_x1000 FROM r3
""",
)
def graph_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 fixed iterations, damping 0.85) over the part
    co-purchase graph — the canonical iterative join+aggregate
    workload next to connected components: each round is one shuffle
    join edges⋈ranks and one groupBy on the destination, with
    localCheckpoint cutting plan growth per round (the same
    lineage discipline as the CC operators). Every node keeps degree
    ≥ 1 by construction (edge endpoints), so there is no dangling-
    mass term; fixed iteration count makes the computation a pure
    function both engines evaluate with ~1e-14 float-order noise,
    eight orders under the 6-dp grain on ×1000-scaled ranks."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # pair generation per order WITHOUT a self-join: collect each
    # order's (small, ~4-item) part basket once, emit its in-array
    # combinations — one orderkey shuffle replaces the self-join's
    # two-sided exchange. Basket size is bounded by order width, so
    # the per-row combination work is O(k²) with tiny k; a genuinely
    # huge basket would need the salting treatment, not this path.
    # collect_set (not distinct + collect_list) folds the per-order
    # dedup into the SAME shuffle — one fact-table exchange, not two.
    baskets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("parts")
    )
    # double explode + src<dst filter, not nested HOF lambdas: explode
    # stays in whole-stage codegen while transform/filter lambdas
    # interpret per element (round-5 rewrite, same as copurchase_edges)
    e1 = (
        baskets.select(F.explode("parts").alias("src"), "parts")
        .select("src", F.explode("parts").alias("dst"))
        .filter(F.col("src") < F.col("dst"))
        .distinct()
    )
    # eager=False checkpoints throughout (r13): materialize-once
    # semantics are unchanged (localCheckpoint is persist-backed — the
    # first action to touch each frame computes and pins it; every
    # later consumer reads the blocks), but the materializing job is
    # the one the query must run anyway (n_nodes count, the per-round
    # broadcast builds, the final collect) instead of one extra eager
    # job per frame. Plan shapes and results are identical.
    edges = (
        e1.unionAll(e1.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .localCheckpoint(eager=False)
    )
    # the degree table IS the node set (every node has an edge), so
    # nodes/n_nodes come from deg for free — no separate distinct
    deg = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=False)
    )
    n_nodes = deg.count()  # materializes edges + deg in one job
    # (src, dst, d): degree attached once and MATERIALIZED, hash-
    # partitioned on src — without the checkpoint each iteration
    # re-runs the edges⋈deg join (two edge-scale shuffles per round);
    # with it, the per-round join only exchanges the ranks side (one
    # row per node) against the already-partitioned edge list
    contrib_src = edges.join(
        deg.withColumnRenamed("node", "src"), "src"
    ).localCheckpoint(eager=False)
    ranks = deg.select("node", F.lit(1.0 / n_nodes).alias("r"))
    for it in range(3):
        # the symmetrized graph gives every node ≥1 incoming edge, so
        # the contribution aggregate already covers ALL nodes — no
        # nodes⋈contrib left join needed per round
        ranks = (
            # ranks is one row per node with its exact size known —
            # broadcast it while it fits, so the edge-scale contrib
            # table streams through a map-side join and is never
            # re-shuffled; only the dst aggregation exchanges (and
            # that map-side-combines down to per-node partials)
            contrib_src.join(
                F.broadcast(ranks.withColumnRenamed("node", "src"))
                if n_nodes <= 2_000_000
                else ranks.withColumnRenamed("node", "src"),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("r") / F.col("d")).alias("c"))
            .select(
                "node",
                (F.lit(0.15 / n_nodes) + F.lit(0.85) * F.col("c")).alias("r"),
            )
        )
        if it < 2:
            # cut lineage between rounds; the LAST round's result is
            # consumed exactly once by the caller, so materializing it
            # here would only add a pass. eager=False: the next
            # round's broadcast build materializes it (r13 job fold)
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select(
        F.col("node").alias("l_partkey"),
        F.round(F.col("r") * 1000, 6).alias("pagerank_x1000"),
    )


@query(
    "join_asof_nearest_event",
    """
WITH b AS (
  SELECT o.o_orderkey, MAX(e.ts) AS bts
  FROM orders o LEFT JOIN events e
    ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
  GROUP BY o.o_orderkey
),
f AS (
  SELECT o.o_orderkey, MIN(e.ts) AS fts
  FROM orders o LEFT JOIN events e
    ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
  GROUP BY o.o_orderkey
),
g AS (
  SELECT o.o_orderkey, o.o_custkey,
         CAST(floor(epoch(o.o_orderdate)) - floor(epoch(b.bts)) AS BIGINT) AS bgap,
         CAST(floor(epoch(f.fts)) - floor(epoch(o.o_orderdate)) AS BIGINT) AS fgap
  FROM orders o
  JOIN b ON b.o_orderkey = o.o_orderkey
  JOIN f ON f.o_orderkey = o.o_orderkey
)
SELECT o_orderkey, o_custkey,
       CASE WHEN bgap IS NULL AND fgap IS NULL THEN NULL
            WHEN fgap IS NULL THEN bgap
            WHEN bgap IS NULL THEN fgap
            ELSE LEAST(bgap, fgap) END AS nearest_gap_sec,
       CASE WHEN bgap IS NULL AND fgap IS NULL THEN NULL
            WHEN fgap IS NULL THEN 'B'
            WHEN bgap IS NULL THEN 'F'
            WHEN bgap <= fgap THEN 'B' ELSE 'F' END AS side
FROM g
""",
)
def join_asof_nearest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join composed from the existing operator: one
    backward and one forward asof_join (operators/asof.py — each a
    single keyed-window pass, no range explosion), then pick the
    closer side per row, ties to backward (pandas merge_asof
    'nearest' convention). The oracle is the naive range-join spec —
    O(orders × events-per-user) — which the engine-side window
    formulation must match while staying one shuffle per direction."""
    from whisky_wine_etl_spark.operators.asof import asof_join

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", F.col("ts").alias("ets")
    )
    back = asof_join(
        o, ev, on="o_orderdate", by_left="o_custkey", by_right="user_id",
        right_time="ts", value_cols=["ets"], direction="backward",
    ).select("o_orderkey", "o_custkey", "o_orderdate", F.col("ets").alias("bts"))
    fwd = asof_join(
        o, ev, on="o_orderdate", by_left="o_custkey", by_right="user_id",
        right_time="ts", value_cols=["ets"], direction="forward",
    ).select("o_orderkey", F.col("ets").alias("fts"))
    g = back.join(fwd, "o_orderkey").select(
        "o_orderkey",
        "o_custkey",
        # NTZ has no direct long cast; hop through session-tz timestamp
        # (UTC session ⇒ identical epoch), then truncate to seconds
        (
            F.col("o_orderdate").cast("timestamp").cast("long")
            - F.col("bts").cast("timestamp").cast("long")
        ).alias("bgap"),
        (
            F.col("fts").cast("timestamp").cast("long")
            - F.col("o_orderdate").cast("timestamp").cast("long")
        ).alias("fgap"),
    )
    both_null = F.col("bgap").isNull() & F.col("fgap").isNull()
    return g.select(
        "o_orderkey",
        "o_custkey",
        F.when(both_null, F.lit(None).cast("bigint"))
        .when(F.col("fgap").isNull(), F.col("bgap"))
        .when(F.col("bgap").isNull(), F.col("fgap"))
        .otherwise(F.least("bgap", "fgap"))
        .alias("nearest_gap_sec"),
        F.when(both_null, F.lit(None).cast("string"))
        .when(F.col("fgap").isNull(), F.lit("B"))
        .when(F.col("bgap").isNull(), F.lit("F"))
        .when(F.col("bgap") <= F.col("fgap"), F.lit("B"))
        .otherwise(F.lit("F"))
        .alias("side"),
    )


@query(
    "stream_latest_per_key",
    """
WITH ranked AS (
  SELECT user_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type AS last_event_type, ROUND(value, 4) AS last_value
FROM ranked WHERE rn = 1
""",
)
def stream_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming latest-state-per-key (the CDC/compaction shape) in
    UPDATE output mode: max_by over a (ts, event_id) ordering struct
    keeps ONE small struct of state per key in the store, and each
    micro-batch emits only the keys that batch touched — per-batch
    output is ∝ changed keys, never the full state table (complete
    mode would re-emit every key every batch: a per-batch full-state
    rewrite at 100 TB of keys). The emitted rows carry the ordering
    struct so the sink side can upsert idempotently; here the memory
    sink accumulates the update log and a keyed max_by compacts it —
    exactly the KV-store/Delta-MERGE upsert the update stream feeds in
    production (O(emitted rows), no global state rewrite). Streaming
    twin of etl_cdc_latest_state's ranked window, verified against the
    same batch oracle."""
    from whisky_wine_etl_spark.streaming import pipelines as sp

    ev = sp.events_stream(spark, sf_dir)
    latest = ev.groupBy("user_id").agg(
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
    log = sp.run_to_memory(spark, out, "update")
    # sink-side upsert: later batches win per key (ordering struct is
    # monotone per key across batches, so max_by over it = last write)
    return (
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

"""Round-8a additions (registered LAST, after round7a, so the
driver's unverified-first ordering keeps the 47-deep backlog + the
diag re-verify in the front verification slots).

- ``stream_sink_exactly_once_chaos`` — the VERDICT-r7 item-5 gap: the
  Python-data-source manifest sink's exactly-once contract under
  RETRY ARTIFACTS, exercised through a real 3-micro-batch stream.
  Unit tests covered commit/abort mechanics (tests/test_pyds.py); this
  registers the chaos variant under an exact oracle: every micro-batch
  leaves behind a zombie part file (a task attempt whose commit message
  never reached the driver — exactly what a task retry or a speculative
  duplicate leaves on disk) plus an aborted attempt, and the read-back
  must still equal the batch ground truth. local[n] pins
  spark.task.maxFailures=1, so in-engine retries cannot be induced
  here; writing the retry's on-disk artifact directly covers the same
  failure surface (the reader trusts only the manifest).
- ``source_format_fidelity_matrix`` — cross-format schema fidelity:
  one frame holding every scalar type family (bigint/int/string/
  double/decimal/date/timestamp/boolean/nullable/hostile-quoted
  string) written to parquet, orc and csv, read back with the written
  schema, and null-safe-equality-joined to the original. Exactly-once
  per cell: n_rows == n_back == n_exact for every format, or the
  format's writer/reader pair lost information. The reference hands
  frames between stages as CSV files and silently relies on this
  property (reference/dags/wine_etl_kaggle.py:93-96).
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from whisky_wine_etl_spark.catalog import load_table
from whisky_wine_etl_spark.plans.registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _tmpdir(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """Per-(sf_dir, application) scratch path under /tmp."""
    tag = (
        hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        + "_"
        + hashlib.md5(spark.sparkContext.applicationId.encode()).hexdigest()[:8]
    )
    return os.path.join(tempfile.gettempdir(), f"sg_{kind}_{tag}")


# ---------------------------------------------------------------------------
# Exactly-once manifest sink under chaos, through a real stream.
# ---------------------------------------------------------------------------


@query(
    "stream_sink_exactly_once_chaos",
    """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(event_id) AS BIGINT) AS id_checksum,
       CAST(SUM(user_id) AS BIGINT) AS user_checksum,
       ROUND(SUM(value), 2) AS value_sum,
       CAST(6 AS BIGINT) AS manifest_parts,
       CAST(3 AS BIGINT) AS orphan_parts
FROM events
""",
)
def stream_sink_exactly_once_chaos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the events table through THREE real micro-batches into
    the manifest-committed JSONL sink (sources/pyds.py), each batch
    appending 2 fixed partitions, while every batch also leaves retry
    debris: one ZOMBIE part file (written to data/ but its commit
    message never reaches the driver — the exact artifact a retried or
    speculative task leaves behind) and one ABORTED attempt (written,
    then abort() — must vanish). The read-back goes through the
    manifest exclusively, so the result must equal the plain batch
    aggregate of events — that equality IS the exactly-once contract:
    no zombie row ever appears, no committed row is lost, appends
    across micro-batches merge manifests atomically
    (write-temp-then-os.replace; an object store would use a
    conditional PUT the same way).

    The output also pins the protocol's bookkeeping: manifest_parts =
    3 batches x 2 repartitioned writer tasks = 6 committed files, and
    orphan_parts = 3 zombies visible on disk but NOT in the manifest
    (aborted attempts removed their files, zombies kept theirs). At
    100 TB the sink is the pattern that matters: executors write
    uncommitted objects, ONE driver-side manifest swap publishes them,
    and readers never list directories — stragglers are invisible by
    construction, which is what makes task retries free."""
    from whisky_wine_etl_spark.sources.pyds import (
        ManifestJsonlDataSource,
        ManifestJsonlWriter,
    )
    from whisky_wine_etl_spark.streaming import pipelines as sp

    target = _tmpdir(spark, sf_dir, "mjchaos")
    manifest = os.path.join(target, "_MANIFEST")
    # Setup is cached per-(sf, app), but ONLY behind a completion marker
    # written after the stream terminates: the manifest itself commits
    # incrementally per micro-batch, so its bare existence could be a
    # crash leftover (partial manifest -> permanently short read-backs).
    done_marker = os.path.join(target, "_CHAOS_COMPLETE")
    if not os.path.exists(done_marker):
        import shutil

        shutil.rmtree(target, ignore_errors=True)  # drop partial debris
        spark.dataSource.register(ManifestJsonlDataSource)

        def handle(batch: DataFrame, batch_id: int) -> None:
            batch.repartition(2).write.format("manifest_jsonl").mode(
                "append"
            ).save(target)
            # chaos, after the batch committed: a zombie attempt whose
            # commit message is dropped, and an aborted attempt
            w = ManifestJsonlWriter({"path": target}, overwrite=False)
            w.write(
                iter([Row(event_id=-1, user_id=-1, value=1e9)])
            )  # message discarded -> orphan on disk
            doomed = w.write(iter([Row(event_id=-2, user_id=-2, value=1e9)]))
            w.abort([doomed])

        chk = _tmpdir(spark, sf_dir, "mjchaos_chk")
        shutil.rmtree(chk, ignore_errors=True)  # fresh stream, fresh offsets
        with sp.multibatch_landing(spark, sf_dir, n_files=3) as landing:
            stream = sp.file_events_stream(
                spark, landing, max_files_per_trigger=1
            ).select("event_id", "user_id", "value")
            q = (
                stream.writeStream.foreachBatch(handle)
                .trigger(availableNow=True)
                .option("checkpointLocation", chk)
                .start()
            )
            q.awaitTermination()
            q.stop()
        with open(done_marker, "w") as mf:
            mf.write("ok")

    import json

    with open(manifest) as f:
        committed = json.load(f)["files"]
    on_disk = os.listdir(os.path.join(target, "data"))
    back = (
        spark.read.format("manifest_jsonl")
        .schema("event_id long, user_id long, value double")
        .option("path", target)
        .load()
    )
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("event_id").cast("bigint").alias("id_checksum"),
        F.sum("user_id").cast("bigint").alias("user_checksum"),
        F.round(F.sum("value"), 2).alias("value_sum"),
        F.lit(len(committed)).cast("bigint").alias("manifest_parts"),
        F.lit(len(on_disk) - len(committed)).cast("bigint").alias("orphan_parts"),
    )


# ---------------------------------------------------------------------------
# Cross-format schema-fidelity matrix.
# ---------------------------------------------------------------------------

_FID_FORMATS = ("parquet", "orc", "csv")
_TS_FMT = "yyyy-MM-dd HH:mm:ss"


@query(
    "source_format_fidelity_matrix",
    """
WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders)
SELECT fmt, n AS n_rows, n AS n_back, n AS n_exact
FROM (VALUES ('parquet'), ('orc'), ('csv')) AS t(fmt) CROSS JOIN c
""",
)
def source_format_fidelity_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write one orders-derived frame covering every scalar type family
    — bigint key, int, string, double, decimal(12,2), date, timestamp
    (non-midnight, second precision), boolean, a sometimes-NULL string,
    and a hostile string that STARTS with a quote and embeds commas —
    to parquet, orc and csv; read each back with the WRITTEN schema;
    and null-safe-join (<=>) every column back to the original. One
    output row per format: n_rows (written) / n_back (read) / n_exact
    (rows where all 10 columns survived bit-exactly). The oracle says
    all three numbers must equal COUNT(*) of orders for every format —
    any write/read asymmetry (quoting, null encoding, timestamp
    format, decimal scale, type coercion) breaks a cell.

    csv is the format that can actually fail here, so its writer/reader
    pair is pinned: explicit timestampFormat both ways, whitespace
    trimming off (the S-4 lossless-bridge lesson, sources/io.py), and
    the read uses the written frame's own schema — never inference.
    At 100 TB this query is the CI gate in front of any landing-zone
    format migration; columnar self-describing formats (parquet/orc)
    carry types natively while text formats carry them only by
    convention, and this matrix makes the convention testable."""
    o = _t(spark, sf_dir, "orders")
    d = o.select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_custkey").cast("int").alias("cust"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("price_dec"),
        F.col("o_orderdate").cast("date").alias("odate"),
        F.expr("timestampadd(SECOND, o_custkey % 86399, o_orderdate)").alias(
            "ots"
        ),
        (F.col("o_totalprice") > 150000.0).alias("big_flag"),
        F.when(F.col("o_totalprice") > 200000.0, F.col("o_orderpriority")).alias(
            "maybe_prio"
        ),
        F.concat(
            F.lit('"'), F.col("o_orderstatus"), F.lit('",'), F.col("o_orderpriority")
        ).alias("hostile"),
    )
    base = _tmpdir(spark, sf_dir, "fidelity")
    per_fmt = []
    # d feeds SEVEN consumers in the result plan (the n_rows aggregate
    # and the null-safe-join left side, once per format) plus the
    # format writes on first run — each union branch re-scanned orders
    # and re-derived the 10 typed columns (r13, guide §2.4).
    # eager=False: the final collect's first branch materializes it.
    d = d.localCheckpoint(eager=False)
    n_rows = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    orig = d.alias("a")
    for fmt in _FID_FORMATS:
        path = os.path.join(base, fmt)
        # cache only behind Spark's commit marker — a bare directory can
        # be a crashed write's debris, which would read back short and
        # report a false fidelity failure for the rest of the session
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            w = d.write.mode("overwrite")
            if fmt == "csv":
                (
                    w.option("header", True)
                    .option("timestampFormat", _TS_FMT)
                    .option("ignoreLeadingWhiteSpace", False)
                    .option("ignoreTrailingWhiteSpace", False)
                    .csv(path)
                )
            else:
                w.format(fmt).save(path)
        r = spark.read
        if fmt == "csv":
            r = (
                r.option("header", True)
                .option("timestampFormat", _TS_FMT)
                .option("ignoreLeadingWhiteSpace", False)
                .option("ignoreTrailingWhiteSpace", False)
            )
            back = r.schema(d.schema).csv(path)
        else:
            back = r.format(fmt).load(path)
        b = back.alias("b")
        cond = None
        for c in d.columns:
            eq = F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
            cond = eq if cond is None else cond & eq
        n_back = b.agg(F.count(F.lit(1)).cast("bigint").alias("n_back"))
        n_exact = orig.join(b, cond, "inner").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_exact")
        )
        per_fmt.append(
            n_rows.crossJoin(n_back)
            .crossJoin(n_exact)
            .select(F.lit(fmt).alias("fmt"), "n_rows", "n_back", "n_exact")
        )
    out = per_fmt[0]
    for nxt in per_fmt[1:]:
        out = out.unionByName(nxt)
    return out

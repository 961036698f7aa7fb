"""Round-4w: streaming operational semantics — checkpoint-based
restart/resume with an exactly-once file sink.

The query runs one Structured Streaming pipeline TWICE against the
same checkpoint: first over an initial pair of landing files, then —
after a third file lands — a second `availableNow` run that must
process ONLY the new file. The batch oracle over the full events
table can only match if (a) the resumed run picked up exactly the
unprocessed file and (b) the sink holds no duplicates from the
restart — i.e. the checkpoint's source offsets and the file sink's
transactional commit log both did their job. A re-run after
completion is a no-op (offsets say everything is processed), so the
query is idempotent within a session and across retries.

Registered AFTER round4v so the driver's unverified-first ordering
keeps the earlier backlog in the front verification slots.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whisky_wine_etl_spark.plans.registry import query
from whisky_wine_etl_spark.streaming.pipelines import multibatch_landing


def _root(spark: SparkSession, sf_dir: str) -> str:
    tag = (
        hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        + "_"
        + hashlib.md5(spark.sparkContext.applicationId.encode()).hexdigest()[:8]
    )
    return os.path.join(tempfile.gettempdir(), f"sg_ckresume_{tag}")


@query(
    "stream_checkpoint_resume",
    """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 2) AS value_sum,
       CAST(SUM(event_id) AS BIGINT) AS id_checksum
FROM events WHERE value > 25
GROUP BY event_type
""",
)
def stream_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stop/restart a file-source → file-sink stream on one
    checkpoint; prove the resume is exactly-once.

    Phase 1 streams 2 of 3 range-partitioned event files through a
    stateless filter into a parquet sink (availableNow). Phase 2
    drops the third file into the landing dir and restarts the SAME
    query/checkpoint: the source's offset log hands it only the new
    file, the sink's _spark_metadata commit log keeps phase-1 output
    unduplicated. The returned aggregate over the sink equals the
    batch oracle over ALL events iff no row was lost or doubled
    across the restart. The id_checksum column makes silent
    double-processing arithmetically visible, not just count-visible.

    At 100 TB this is the nightly-ingest contract: landing files
    arrive continuously, the job restarts at will (deploys, spot
    loss), and downstream reads the sink's commit log — never a
    half-written file."""
    root = _root(spark, sf_dir)
    landing = os.path.join(root, "landing")
    sink = os.path.join(root, "sink")
    ck = os.path.join(root, "ck")
    done = os.path.join(root, "done.marker")

    def _run_available_now(schema) -> None:
        stream = (
            spark.readStream.schema(schema)
            .parquet(landing)
            .filter(F.col("value") > 25)
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    if not os.path.exists(done):
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(landing)
        with multibatch_landing(spark, sf_dir, n_files=3) as src_dir:
            files = sorted(glob.glob(os.path.join(src_dir, "part-*.parquet")))
            schema = spark.read.parquet(src_dir).schema
            for f in files[:2]:
                shutil.copy2(f, os.path.join(landing, os.path.basename(f)))
            _run_available_now(schema)  # phase 1: first two files
            shutil.copy2(files[2], os.path.join(landing, os.path.basename(files[2])))
            _run_available_now(schema)  # phase 2: resume, must take ONLY file 3
        with open(done, "w") as fh:
            fh.write("ok")

    out = spark.read.parquet(sink)
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum("value"), 2).alias("value_sum"),
        F.sum("event_id").cast("bigint").alias("id_checksum"),
    )

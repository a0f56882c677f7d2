"""Event-driven ingestion, Spark-native (reference: Automation/Lambda:14-107).

The reference wires S3 PUT -> Lambda -> Glue job -> Glue workflow, with
Lambda polling job state every 15 s and counting files to decide when a
load day is complete (18 tables). The idiomatic Spark equivalent
collapses all of that into Structured Streaming:

- file-source ``readStream`` on the landing directory replaces the S3
  event + Lambda trigger;
- ``Trigger.AvailableNow`` replaces the 'run once per arrival batch'
  Glue job launch (process everything present, then stop — restartable,
  checkpointed, exactly-once into the sink);
- ``cleanSource=archive`` replaces Datasource_To_Source.py's
  copy-to-archive file shuffling (S10);
- the completeness barrier (exactly 18 tables for a load date,
  Lambda:88-107) is a metadata check over arrived paths.

At scale the file source handles listing incrementally (no driver-side
full-bucket relisting per batch, unlike the reference's boto3 loops).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from synthea_etl_spark.plans.common import DEC


def ingest_available_now(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    archive_dir: str | None = None,
    fmt: str = "csv",
) -> None:
    """Process every file currently in the landing dir into parquet,
    then stop (the Lambda->Glue-job analog). Checkpointed: re-runs pick
    up only new files; exactly-once into the parquet sink."""
    reader = (
        spark.readStream.schema(schema)
        .option("header", True)
        .option("cleanSource", "archive" if archive_dir else "off")
    )
    if archive_dir:
        reader = reader.option("sourceArchiveDir", archive_dir)
    stream = getattr(reader, fmt)(landing_dir)
    stream = stream.withColumn("source_file", F.col("_metadata.file_path"))
    q = (
        stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .format("parquet")
        .option("path", out_dir)
        .start()
    )
    q.awaitTermination()


def completeness_barrier(
    landing_dir: str, load_date: str, expected_tables: list[str]
) -> bool:
    """The 18-file barrier (Lambda:88-107): a load date is complete
    when every expected table has landed under <dir>/<date>/<table>/.
    Metadata-only; at scale this reads the catalog/manifest, not data."""
    base = os.path.join(landing_dir, load_date)
    if not os.path.isdir(base):
        return False
    present = {d for d in os.listdir(base) if os.path.isdir(os.path.join(base, d))}
    return set(expected_tables) <= present


def hourly_rollup(events: DataFrame) -> DataFrame:
    """Shared batch/streaming transform: tumbling 1-hour rollup per
    event_type — count + exact (decimal) value sum. Used by the batch
    oracle query q50 AND the streaming test (readStream through the
    same function), proving batch/stream parity."""
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
    )

"""Structured-Streaming ingestion of the update log.

The reference's ``ObjectUpdate`` is a synchronous point mutation on hash
maps (`Scheme/RSKQ/RSKQ_Biginteger.java:490-616`); the streaming-scale
equivalent is a micro-batched append of ``(doc_id, version, op)`` deltas
with merge-on-read at query time (operators/updates.py).  This module wires
that as a real Structured Streaming job:

* ``stream_updates`` — file-source stream over an updates directory;
  each micro-batch appends to the versioned log (foreachBatch so the sink
  stays plain parquet/Iceberg and the append is atomic per batch).

Watermarked windowed aggregation and the stateful per-user scans live in
:mod:`.event_streams`.

Versions are assigned from the micro-batch id — a monotone total order per
key (SURVEY §7.4 risk 6: never executor wall-clock).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

UPDATE_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("op", StringType()),
    ]
)


def stream_updates(
    spark: SparkSession,
    source_dir: str,
    log_dir: str,
    checkpoint_dir: str,
):
    """File-source stream -> versioned append-only delta log."""
    src = (
        spark.readStream.schema(UPDATE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(source_dir)
    )

    def _append(batch: DataFrame, batch_id: int) -> None:
        (
            batch.withColumn("version", F.lit(batch_id).cast("long"))
            .write.mode("append")
            .parquet(log_dir)
        )

    return (
        src.writeStream.foreachBatch(_append)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_log(spark: SparkSession, log_dir: str) -> DataFrame:
    return spark.read.parquet(log_dir)

"""Structured-Streaming forms of the document-corpus sketches.

The batch CMS heavy-hitters sketch (`operators/textops.py::
heavy_hitters_cms`) is a pure hash-histogram aggregation, which makes it
the textbook streaming sketch: the same explode → salted-hash → groupBy
plan runs over a file-source document stream in complete output mode, and
the finished stream equals the batch histogram bit-for-bit (availableNow
replay — the batch-is-the-oracle method of `streaming/event_streams.py`).

At scale this is the standing "vocabulary monitor" shape: the sketch state
is depth×width counters regardless of corpus size (bounded state with NO
watermark needed — the aggregation key space itself is bounded), so the
stream can run forever over a Kafka source with O(1) memory, emitting a
refreshed sketch per trigger.  The probe-side estimate stays a batch join
against the tiny finished histogram.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..operators.textops import _cms_col_sql

DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def read_docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source document stream (one file per micro-batch).  The fixture
    table is a single parquet file; the glob + basePath dance matches the
    events source behind the ``events_stream_tumbling`` row of
    ``__spark_entry__.SPECS``."""
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("basePath", sf_dir)
        .parquet(f"{sf_dir}/documents.parque?")
    )


def cms_hist_stream(docs: DataFrame, depth: int = 4, width: int = 256) -> DataFrame:
    """Streaming CMS histogram — (d, c, n), the identical plan to the batch
    sketch build: tokenize/explode fans out ``depth``× into the salted-hash
    cell histogram.  Complete-mode aggregation over a BOUNDED key space
    (depth*width cells), so state never grows with the corpus."""
    kws = docs.select(F.explode(F.expr("split(text, ' ')")).alias("kw"))
    fan = kws.withColumn("d", F.explode(F.expr(f"sequence(0, {int(depth) - 1})")))
    return (
        fan.withColumn("c", F.expr(_cms_col_sql("kw", "d", width)))
        .groupBy("d", "c")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def probe_counts_stream(docs: DataFrame, probes: tuple[str, ...]) -> DataFrame:
    """Streaming exact counts for the probe vocabulary — (kw, n_exact); the
    state is |probes| counters."""
    kws = docs.select(F.explode(F.expr("split(text, ' ')")).alias("kw"))
    return (
        kws.filter(F.col("kw").isin(list(probes)))
        .groupBy("kw")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )

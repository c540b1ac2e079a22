"""Streaming ingestion + windowed aggregation over the events table shape.

Batch and streaming share the same logical plan builders — the DataFrame
transformations are identical; only the source/sink differ. This is the
Spark-idiomatic way to keep one codepath for backfill (batch over parquet)
and incremental (readStream) runs:

* ``read_events_stream`` — file-backed readStream with optional
  one-file-per-trigger batching (deterministic batch boundaries).
* ``windowed_counts``  — tumbling-window counts per event_type with a
  watermark for late data.
* ``stream_extract``   — incremental mention extraction: the same
  mapInPandas extraction UDF applied on a stream of documents.
* ``run_available_now``— drain a file-backed stream once (used by tests
  and backfills; identical semantics to a long-running trigger).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_graphs


def read_events_stream(
    spark: SparkSession, path: str, schema=None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    if schema is None:
        schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        # one file per micro-batch => deterministic batch boundaries (and
        # watermark advancement) in tests and backfills
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def windowed_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling-window event counts with late-data watermark."""
    return (
        events
        .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n_events", "sum_value",
        )
    )


def stream_extract(docs_stream: DataFrame) -> DataFrame:
    """Incremental per-doc lemma-graph extraction on a document stream."""
    return extract_graphs(docs_stream)


def run_available_now(
    stream_df: DataFrame, *, checkpoint: str, table_name: str,
    output_mode: str = "append",
) -> None:
    """Drain all available input once into an in-memory table.

    Use output_mode="complete" for aggregations you want fully emitted in
    a single drain (append mode only releases windows past the watermark).
    """
    q = (
        stream_df.writeStream
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .format("memory")
        .queryName(table_name)
        .start()
    )
    q.awaitTermination()

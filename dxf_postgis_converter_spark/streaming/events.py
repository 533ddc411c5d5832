"""Structured Streaming over the events table shape.

The reference is batch-only (SURVEY §2.9) and the north_rule pipeline is
resumable batch — but a training-data engine also ingests continuously,
so the engine ships the streaming counterparts of its batch aggregations
with a batch/stream parity contract: the same transformation function is
applied to a batch DataFrame and a readStream DataFrame, and
``availableNow`` runs must produce identical results (tested in
tests/test_streaming.py).

Scale notes: windowed aggregation state is bounded by the watermark;
dedup uses dropDuplicatesWithinWatermark so the key cache also expires;
sinks go through foreachBatch → the lineage-checkpointed writer
(plans/lineage.py) for exactly-once parquet/Iceberg appends.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
])


def read_event_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over an events parquet directory (the sandbox
    stand-in for Kafka/Kinesis; swapping the source leaves every
    transformation below unchanged)."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def hourly_event_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Per (hour, event_type) counts + value sums. Works identically on
    batch and streaming inputs (the parity contract)."""
    src = events
    if src.isStreaming:
        src = src.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"),
             F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2)
             .alias("total_value"))
        .select(F.col("w.start").alias("hour"), "event_type", "n", "total_value")
    )


def dedup_events(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once event stream by event_id: state expires with the
    watermark instead of growing forever (dropDuplicatesWithinWatermark)."""
    if events.isStreaming:
        return events.withWatermark("ts", watermark) \
            .dropDuplicatesWithinWatermark(["event_id"])
    return events.dropDuplicates(["event_id"])


def run_available_now(stream_df: DataFrame, checkpoint_dir: str,
                      query_name: str = "events_agg",
                      output_mode: str | None = None) -> list:
    """Drain everything currently available through a memory sink and
    return the rows — the deterministic harness used by the parity tests
    (and the shape of a backfill run in production: availableNow +
    durable checkpoint = resumable incremental batch).

    output_mode defaults to "complete" for streaming aggregations;
    non-aggregating stateful streams (dropDuplicatesWithinWatermark)
    must pass "append" — they emit rows once, and the memory table
    accumulates them across micro-batches."""
    q = (
        stream_df.writeStream.format("memory").queryName(query_name)
        .outputMode(output_mode
                    or ("complete" if stream_df.isStreaming else "append"))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.sql(f"SELECT * FROM {query_name}").collect()


def write_stream_exactly_once(stream_df: DataFrame, out_dir: str,
                              checkpoint_dir: str, pre_write=None):
    """Exactly-once parquet sink: each micro-batch lands in its own
    ``_batch=<id>`` partition via dynamic overwrite, so a batch replayed
    after a failure (foreachBatch's at-least-once contract) REPLACES its
    partial partition instead of duplicating rows — the same healing rule
    as plans/lineage.py. Returns the DataStreamWriter (caller starts it).

    ``pre_write(batch_df, batch_id)`` runs before the commit of each
    micro-batch (metrics emission; failure injection in the resume
    tests). If it raises, the batch is NOT marked complete in the
    checkpoint and is replayed in full on restart — any partial partition
    it left behind is overwritten by the replay."""
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if pre_write is not None:
            pre_write(batch_df, batch_id)
        (batch_df.withColumn("_batch", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_batch").parquet(out_dir))

    return (stream_df.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir))

"""Streaming spatial pipeline: continuously-arriving interleaved
documents → decode → point-in-polygon join.

The batch operators compose unchanged onto a readStream source —
``decode_documents`` is explode + filter + mapInArrow and
``point_in_polygon_join`` is a broadcast equi-join + JVM filter refine
(its one Python pass runs over the static zones), all
streaming-compatible stateless transformations. That composability
(same function objects, batch or stream) is the point: ingest backfills
run availableNow against the same code that serves the live stream.

Sinks: foreachBatch → plans/lineage.py's checkpointed writer for
exactly-once parquet appends keyed by (batch_id, bucket).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..corpus import SPANS_SCHEMA
from ..functions.decode import decode_documents
from ..operators.spatial_join import point_in_polygon_join


def read_document_stream(spark: SparkSession, path: str,
                         max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over a documents parquet directory (stand-in
    for an Iceberg streaming read / Kafka CDC feed)."""
    reader = spark.readStream.schema(SPANS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def streaming_zone_hits(doc_stream: DataFrame, zones: DataFrame,
                        res: int = 6) -> DataFrame:
    """documents stream → (doc_id, handle, zone_id) hit stream. zones is
    a static (broadcast) side — the standard stream-static join."""
    ents = decode_documents(doc_stream, keep_media_ref=False)
    pts = ents.filter(ents.geom_type == "POINT").select(
        "doc_id", "handle",
        ents.xmin.alias("x"), ents.ymin.alias("y"))
    return point_in_polygon_join(pts, zones, res=res)


def run_zone_hits_pipeline(spark: SparkSession, src: str, zones: DataFrame,
                           out_dir: str, checkpoint_dir: str,
                           res: int = 6,
                           max_files_per_trigger: int | None = None,
                           pre_write=None) -> None:
    """Drain the document stream through decode→PIP into the exactly-once
    parquet sink (one ``_batch=<id>`` dynamic-overwrite partition per
    micro-batch — the same healing rule as plans/lineage.run_stage).
    availableNow + durable checkpoint: a killed run resumes from the last
    committed micro-batch, and a batch that died mid-write is replayed in
    full, its partial partition overwritten (tested by failure injection
    in tests/test_streaming_pipeline.py)."""
    from .events import write_stream_exactly_once

    hits = streaming_zone_hits(
        read_document_stream(spark, src, max_files_per_trigger), zones,
        res=res).select("doc_id", "handle", "zone_id")
    q = (write_stream_exactly_once(hits, out_dir, checkpoint_dir, pre_write)
         .trigger(availableNow=True).start())
    q.awaitTermination()

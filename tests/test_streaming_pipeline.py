"""The batch spatial operators compose unchanged onto a document stream:
availableNow drain == batch pipeline, micro-batching included."""

import pyspark.sql.functions as F
import pytest

from dxf_postgis_converter_spark.functions.decode import decode_documents
from dxf_postgis_converter_spark.operators.spatial_join import point_in_polygon_join
from dxf_postgis_converter_spark.streaming.pipeline import (
    read_document_stream,
    streaming_zone_hits,
)


def test_stream_pip_matches_batch(spark, docs_df, zones_df, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("docs_stream"))
    ck = str(tmp_path_factory.mktemp("ck"))
    docs_df.repartition(6).write.mode("overwrite").parquet(src)

    stream = streaming_zone_hits(
        read_document_stream(spark, src, max_files_per_trigger=2), zones_df)
    q = (stream.writeStream.format("memory").queryName("pip_stream")
         .outputMode("append").option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.sql("SELECT doc_id, handle, zone_id FROM pip_stream").collect()

    batch_docs = spark.read.parquet(src)
    ents = decode_documents(batch_docs, keep_media_ref=False)
    pts = ents.filter(F.col("geom_type") == "POINT").select(
        "doc_id", "handle", F.col("xmin").alias("x"), F.col("ymin").alias("y"))
    want = point_in_polygon_join(pts, zones_df, res=6) \
        .select("doc_id", "handle", "zone_id").collect()

    key = lambda r: (r.doc_id, r.handle, r.zone_id)
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert len(want) > 0


def test_pip_stream_sink_resume_heals_partial_batch(spark, docs_df, zones_df,
                                                    tmp_path_factory):
    """Kill-mid-batch → restart: the exactly-once sink replays the dead
    micro-batch and dynamic-overwrite REPLACES the partial partition it
    left behind — final parquet equals the batch pipeline exactly (no
    dupes, no gaps). Mirrors test_lineage's failure injection."""
    import pyspark.sql.functions as F

    from dxf_postgis_converter_spark.streaming.pipeline import run_zone_hits_pipeline

    src = str(tmp_path_factory.mktemp("docs_stream_src"))
    ck = str(tmp_path_factory.mktemp("docs_stream_ck"))
    out = str(tmp_path_factory.mktemp("docs_stream_out"))
    docs_df.repartition(6).write.mode("overwrite").parquet(src)

    class Boom(Exception):
        pass

    injected = {}

    def die_mid_batch(batch_df, batch_id):
        if batch_id == 1:
            # simulate a mid-write crash: part of the batch already landed
            # in the partition, then the executor died
            part = batch_df.limit(max(1, batch_df.count() // 2))
            injected["n"] = part.count()
            (part.withColumn("_batch", F.lit(batch_id))
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("_batch").parquet(out))
            raise Boom("injected mid-batch failure")

    with pytest.raises(Exception):  # StreamingQueryException wraps Boom
        run_zone_hits_pipeline(spark, src, zones_df, out, ck,
                               max_files_per_trigger=2,
                               pre_write=die_mid_batch)
    # the partial partition is on disk — the poisoned state a restart must heal
    partial = spark.read.parquet(out)
    assert partial.filter("_batch = 1").count() == injected["n"]

    run_zone_hits_pipeline(spark, src, zones_df, out, ck,
                           max_files_per_trigger=2)  # resume: no injection

    got = spark.read.parquet(out).select("doc_id", "handle", "zone_id").collect()

    from dxf_postgis_converter_spark.functions.decode import decode_documents
    ents = decode_documents(spark.read.parquet(src), keep_media_ref=False)
    pts = ents.filter(F.col("geom_type") == "POINT").select(
        "doc_id", "handle", F.col("xmin").alias("x"), F.col("ymin").alias("y"))
    want = point_in_polygon_join(pts, zones_df, res=6) \
        .select("doc_id", "handle", "zone_id").collect()

    key = lambda r: (r.doc_id, r.handle, r.zone_id)
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert len(want) > 0

"""Round-trip reconstruction sink (S12) + span-sequence invariant.

The reference rebuilds a DXF document from DB rows
(dxf_writer.py:53-192 reconstruct_from_entities) and its integration
tests assert per-layer entity-fingerprint multiset equality — Counter
over (dxftype, sorted geometry keys, geometry item count)
(tests/test_integration.py:438-461). In this engine the document format
is the interleaved spans table (BASELINE.json input_hint), so
reconstruction = rebuilding each document's span array from the decoded
entities + text spans, and the gate is **span-sequence equality
(kind, text, media_ref, order)** per document.

Spark shape (one narrow Python stage, everything else JVM):

  entities --mapInArrow--> (doc_id, span_offset, media_ref')    [Arrow]
  text spans ---------------------------------------- select     [JVM]
  union → groupBy(doc_id) → array_sort(collect_list(struct))     [JVM]
  → documents'(doc_id, spans)

The rebuild is exact because decode stores the payload verbatim in
data_json (geometries/attributes untouched; postgis_entity_repository.py
:238-243 JSONB shape) and the corpus's extra_data contract pins which
keys were source keys vs converter-derived updates
(postgis_entity_converter.py:137-142 merges converter output into
extra_data; we strip it back off). The rebuilt payload is written by
functions.decode.canonical_dumps, the one serializer that also wrote the
corpus payload, so the bytes match with no second pass.
"""

from __future__ import annotations

import orjson
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..corpus import SPANS_SCHEMA
from ..functions.decode import bytes_string_array, canonical_dumps

# source-payload extra_data keys (corpus contract; everything else in the
# stored extra_data was merged in by a converter and is not part of the
# original payload). dxf_attribs + layer_dxf_attribs are what real-ezdxf
# ingest embeds (dxf_reader.py:105-116 via sources/extractors.py
# base_attributes) — dropping them broke real-ingest round-trips
# (ADVICE r2 medium).
RT_EXTRA_KEYS = ("dxftype", "dxf_attribs", "layer_name",
                 "layer_dxf_attribs", "block_name", "block_entities")

_REF_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("span_offset", T.IntegerType()),
    T.StructField("media_ref", T.StringType()),
])


def _rt_payload(d: dict) -> dict:
    """A parsed data_json cut to the media_ref payload, IN PLACE: the
    seven canonical keys with their defaults, extra_data filtered to
    RT_EXTRA_KEYS (canonical_dumps sorts the keys on the way out)."""
    extra = d.get("extra_data", {}) or {}
    d["attributes"] = d.get("attributes", {}) or {}
    d["entity_type"] = d.get("entity_type", "")
    d["extra_data"] = {k: extra[k] for k in RT_EXTRA_KEYS if k in extra}
    d["geometries"] = d.get("geometries", {}) or {}
    d["handle"] = d.get("handle", "")
    d["layer"] = d.get("layer", "")
    d["name"] = d.get("name", "")
    if len(d) != 7:  # stored payload carried extra top-level keys
        d = {k: d[k] for k in ("attributes", "entity_type", "extra_data",
                               "geometries", "handle", "layer", "name")}
    return d


def _rebuild_arrow_batches(batches):
    """mapInArrow rebuild: doc_id/span_offset pass through untouched as
    Arrow arrays; data_json is parsed from BYTES (zero-copy binary view
    of the string column — no utf-8 → str decode), cut by _rt_payload,
    re-serialized by canonical_dumps, and the output string column is
    assembled from the utf-8 bytes via Array.from_buffers — no pandas
    block. A NULL, unparseable or non-object data_json yields a NULL
    media_ref, so span_mismatches reports its document."""
    import numpy as np
    import pyarrow as pa

    loads = orjson.loads
    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        idx = batch.schema.get_field_index
        djs = batch.column(idx("data_json")).cast(pa.binary()).to_pylist()
        outs = []
        for dj in djs:
            try:
                outs.append(canonical_dumps(_rt_payload(loads(dj))).encode())
            except (AttributeError, TypeError, ValueError):
                outs.append(None)
        refs = bytes_string_array(outs)
        # deep-copy the passthrough columns (take allocates fresh
        # buffers): the output batch must not reference the input
        # batch's IPC-reader-owned memory
        take_idx = pa.array(np.arange(n, dtype=np.int64))
        yield pa.RecordBatch.from_arrays(
            [batch.column(idx("doc_id")).take(take_idx),
             batch.column(idx("span_offset")).take(take_idx),
             refs],
            names=["doc_id", "span_offset", "media_ref"])


def rebuild_media_refs(entities: DataFrame) -> DataFrame:
    """entities → (doc_id, span_offset, media_ref) with the media_ref
    payload re-serialized canonically from the stored data_json, in one
    Arrow-batched stage (see _rebuild_arrow_batches)."""
    return entities.select("doc_id", "span_offset", "data_json").mapInArrow(
        _rebuild_arrow_batches, schema=_REF_SCHEMA)


def reconstruct_documents(entities: DataFrame, texts: DataFrame) -> DataFrame:
    """(entities, text spans) → documents(doc_id, spans) with spans in
    original offset order. texts: (doc_id, span_offset, text)."""
    media = rebuild_media_refs(entities).select(
        "doc_id", F.lit("media").alias("kind"), F.lit("").alias("text"),
        "media_ref", F.col("span_offset").alias("offset"))
    text = texts.select(
        "doc_id", F.lit("text").alias("kind"), F.col("text"),
        F.lit("").alias("media_ref"), F.col("span_offset").alias("offset"))
    allspans = media.unionByName(text)
    # offset-first struct → array_sort orders by offset; then re-shape to
    # the canonical (kind, text, media_ref, offset) field order — all JVM
    sorted_spans = F.array_sort(
        F.collect_list(F.struct("offset", "kind", "text", "media_ref")))
    return (
        allspans.groupBy("doc_id")
        .agg(F.transform(
            sorted_spans,
            lambda s: F.struct(
                s.kind.alias("kind"), s.text.alias("text"),
                s.media_ref.alias("media_ref"), s.offset.alias("offset")),
        ).alias("spans"))
        .select(F.col("doc_id").cast("string"),
                F.col("spans").cast(SPANS_SCHEMA["spans"].dataType))
    )


def span_mismatches(original: DataFrame, rebuilt: DataFrame) -> DataFrame:
    """doc_ids whose span sequence differs. Full outer join + array
    equality — one shuffle on doc_id. A document the rebuild lacks is
    compared as an empty span array (an empty document has nothing to
    regroup); one only the rebuild has is a mismatch."""
    a = original.select("doc_id", F.col("spans").alias("spans_a"))
    b = rebuilt.select("doc_id", F.col("spans").alias("spans_b"))
    spans_b = F.coalesce(F.col("spans_b"), F.array().cast(b.schema["spans_b"].dataType))
    return (
        a.join(b, "doc_id", "full_outer")
        .filter(~F.coalesce(F.col("spans_a") == spans_b, F.lit(False)))
        .select("doc_id")
    )


def reconstruction_report(entities: DataFrame) -> DataFrame:
    """Per-type reconstructed counts (dxf_writer.py:130-137 report)."""
    return entities.groupBy("entity_type").agg(
        F.count("*").alias("n"),
        F.count("geometry_wkb").alias("n_with_geometry"))


def layer_fingerprints(entities: DataFrame) -> DataFrame:
    """Per-layer fingerprint multiset — the reference correctness oracle
    (tests/test_integration.py:438-461): Counter over
    (dxftype, sorted geometry keys, geometry key count). JSON key
    extraction is built-in (json_object_keys) so this never leaves the JVM."""
    gkeys = F.json_object_keys(F.get_json_object(F.col("data_json"), "$.geometries"))
    fp = F.concat_ws(
        "|",
        F.col("entity_type"),
        F.array_join(F.array_sort(gkeys), ","),
        F.coalesce(F.size(gkeys), F.lit(0)).cast("string"))
    return entities.groupBy("layer", fp.alias("fingerprint")) \
        .agg(F.count("*").alias("n"))


def save_selected_by_handles(documents: DataFrame, handles: DataFrame) -> DataFrame:
    """Filtered copy (S11, dxf_writer.py:24-51): documents with media
    spans not in the handle set removed; text spans and original offsets
    preserved (the reference deletes unselected entities in place).

    Handle normalization is upper+strip, copying dxf_writer.py:34. The
    whole op is JVM column algebra — handle extraction via
    get_json_object, broadcast semi-join, array re-assembly."""
    h = F.broadcast(
        handles.select(F.upper(F.trim(F.col("handle"))).alias("_h")).distinct())
    spans = documents.select("doc_id", F.explode("spans").alias("s"))
    media = spans.filter(F.col("s.kind") == "media").withColumn(
        "_h", F.upper(F.trim(F.get_json_object(F.col("s.media_ref"), "$.handle"))))
    kept = media.join(h, "_h", "left_semi").select("doc_id", "s") \
        .unionByName(spans.filter(F.col("s.kind") != "media").select("doc_id", "s"))
    sorted_spans = F.array_sort(F.collect_list(
        F.struct(F.col("s.offset").alias("offset"), F.col("s.kind").alias("kind"),
                 F.col("s.text").alias("text"), F.col("s.media_ref").alias("media_ref"))))
    return (
        kept.groupBy("doc_id")
        .agg(F.transform(
            sorted_spans,
            lambda s: F.struct(
                s.kind.alias("kind"), s.text.alias("text"),
                s.media_ref.alias("media_ref"), s.offset.alias("offset")),
        ).alias("spans"))
    )

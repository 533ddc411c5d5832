"""Round-trip gate: documents → decode → reconstruct → span-sequence
equality (kind, text, media_ref, order) per BASELINE.json north_star,
plus the reference's fingerprint-multiset oracle
(tests/test_integration.py:438-461) re-decoded from the rebuilt corpus."""

import pyspark.sql.functions as F
import pytest

from dxf_postgis_converter_spark.corpus import generate_documents
from dxf_postgis_converter_spark.functions.decode import decode_documents, text_spans
from dxf_postgis_converter_spark.operators.reconstruct import (
    layer_fingerprints,
    reconstruct_documents,
    reconstruction_report,
    span_mismatches,
)


@pytest.fixture(scope="module")
def docs(spark):
    return generate_documents(spark, 120, num_partitions=8).cache()


@pytest.fixture(scope="module")
def rebuilt(spark, docs):
    ents = decode_documents(docs)
    return reconstruct_documents(ents, text_spans(docs)).cache()


def test_span_sequence_equality(docs, rebuilt):
    assert span_mismatches(docs, rebuilt).count() == 0


def test_doc_count_preserved(docs, rebuilt):
    assert rebuilt.count() == docs.filter(F.size("spans") > 0).count()


def test_offsets_are_original_order(rebuilt):
    bad = rebuilt.filter(
        ~F.forall(
            F.zip_with("spans", F.sequence(F.lit(0), F.size("spans") - 1),
                       lambda s, i: s.offset == i),
            lambda ok: ok)
    )
    assert bad.count() == 0


def test_fingerprint_multiset_equality(docs, rebuilt):
    """Decode the rebuilt corpus again; per-layer fingerprint counts must
    match the original decode exactly (A6 oracle)."""
    fp_a = layer_fingerprints(decode_documents(docs))
    fp_b = layer_fingerprints(decode_documents(rebuilt))
    assert fp_a.exceptAll(fp_b).count() == 0
    assert fp_b.exceptAll(fp_a).count() == 0


def test_reconstruction_report(docs):
    rep = reconstruction_report(decode_documents(docs)).collect()
    by_type = {r.entity_type: r for r in rep}
    assert by_type["POINT"].n == by_type["POINT"].n_with_geometry  # always has geometry
    for t in ("DIMENSION", "3DSOLID", "MESH", "IMAGEDEF", "WIPEOUT"):
        if t in by_type:
            assert by_type[t].n_with_geometry == 0  # no-geometry types


def test_mismatch_detected_when_corrupted(spark, docs, rebuilt):
    """Negative control: drop one media span from one doc → mismatch. And
    a NULL, an unparseable or a non-object stored data_json is a
    mismatch of its document, not a failed rebuild."""
    corrupted = rebuilt.withColumn(
        "spans",
        F.when(F.col("doc_id") == rebuilt.select("doc_id").first().doc_id,
               F.slice("spans", 1, F.size("spans") - 1)).otherwise(F.col("spans")))
    assert span_mismatches(docs, corrupted).count() == 1

    ents = decode_documents(docs)
    bad_docs = [r.doc_id for r in ents.select("doc_id").distinct()
                .orderBy("doc_id").limit(3).collect()]
    bad_json = dict(zip(bad_docs, [None, "{not json", "[1]"]))
    first = ents.groupBy("doc_id").agg(F.min("span_offset").alias("first"))
    hit = (F.col("doc_id").isin(bad_docs)
           & (F.col("span_offset") == F.col("first")))
    pick = F.create_map(*[F.lit(x) for kv in bad_json.items() for x in kv])
    bad = (ents.join(first, "doc_id")
           .withColumn("data_json", F.when(hit, pick[F.col("doc_id")])
                       .otherwise(F.col("data_json")))
           .drop("first"))
    mism = span_mismatches(docs, reconstruct_documents(bad, text_spans(docs)))
    assert sorted(r.doc_id for r in mism.collect()) == sorted(bad_docs)


def test_empty_text_only_and_one_point_documents_roundtrip(spark, docs):
    """An empty document, a text-only one and a one-POINT one round-trip
    with no mismatch: the empty document has no row to regroup, so the
    rebuild lacks it and it compares as empty spans. A document that only
    the rebuild has, or a non-empty one the rebuild lacks, still
    mismatches."""
    from dxf_postgis_converter_spark.corpus import SPANS_SCHEMA

    point_ref = (docs.select(F.explode("spans").alias("s"))
                 .filter(F.col("s.media_ref").contains('"entity_type":"POINT"'))
                 .first().s.media_ref)
    small = spark.createDataFrame([
        ("empty", []),
        ("text_only", [("text", "just words", "", 0)]),
        ("one_point", [("media", "", point_ref, 0)]),
    ], SPANS_SCHEMA)
    rebuilt = reconstruct_documents(decode_documents(small), text_spans(small)).cache()
    assert sorted(r.doc_id for r in rebuilt.collect()) == ["one_point", "text_only"]
    assert span_mismatches(small, rebuilt).count() == 0
    extra = small.filter("doc_id = 'one_point'").withColumn("doc_id", F.lit("rebuild_only"))
    assert [r.doc_id for r in span_mismatches(small, rebuilt.unionByName(extra)).collect()] \
        == ["rebuild_only"]
    assert [r.doc_id for r in span_mismatches(
        small, rebuilt.filter("doc_id != 'text_only'")).collect()] == ["text_only"]


def test_save_selected_by_handles(spark, docs):
    """S11: unselected media spans removed, text spans + order kept."""
    from dxf_postgis_converter_spark.operators.reconstruct import save_selected_by_handles
    ents = decode_documents(docs)
    # select every media span whose offset is even (mixed-case handles)
    sel = ents.filter(F.col("span_offset") % 2 == 0) \
        .select(F.upper(F.col("handle")).alias("handle"))
    out = save_selected_by_handles(docs, sel).cache()

    exploded = out.select("doc_id", F.explode("spans").alias("s"))
    kept_media = exploded.filter(F.col("s.kind") == "media")
    assert kept_media.filter(F.col("s.offset") % 2 == 1).count() == 0
    expected_media = ents.filter(F.col("span_offset") % 2 == 0).count()
    assert kept_media.count() == expected_media
    # text spans untouched
    orig_text = docs.select(F.explode("spans").alias("s")).filter(F.col("s.kind") == "text")
    assert exploded.filter(F.col("s.kind") == "text").count() == orig_text.count()
    # offsets strictly increasing within each doc (original order preserved)
    bad = out.filter(~F.forall(
        F.zip_with(F.slice("spans", 1, F.size("spans") - 1),
                   F.slice("spans", 2, F.size("spans") - 1),
                   lambda a, b: a.offset < b.offset), lambda ok: ok))
    assert bad.count() == 0


def test_rebuild_matches_canonical_media_ref(spark, docs):
    """Golden: the Arrow rebuild (in-place extra_data filter,
    from_buffers output) equals corpus canonical_media_ref of each stored
    payload with extra_data cut to RT_EXTRA_KEYS — including payloads
    stored with stdlib float notation."""
    import json

    import pyarrow as pa

    from dxf_postgis_converter_spark.corpus import canonical_media_ref
    from dxf_postgis_converter_spark.operators import reconstruct as rc

    def golden(dj):
        d = json.loads(dj)
        extra = d["extra_data"]
        return canonical_media_ref(
            d["entity_type"], d["name"], d["handle"], d["layer"],
            d["attributes"], d["geometries"],
            {k: extra[k] for k in rc.RT_EXTRA_KEYS if k in extra})

    ents = decode_documents(docs).select("doc_id", "span_offset", "data_json")
    via_arrow = {(r.doc_id, r.span_offset): r.media_ref
                 for r in rc.rebuild_media_refs(ents).collect()}
    stored = ents.collect()
    assert via_arrow == {(r.doc_id, r.span_offset): golden(r.data_json)
                         for r in stored}
    # payloads stored with stdlib float notation (exponent forms and
    # floats below 1e-4) come out in the canonical orjson form
    risky = [
        {"attributes": {}, "entity_type": "POINT",
         "extra_data": {"dxftype": "POINT", "v": 1e30},
         "geometries": {"location": [1e-7, 2.0, 0.0]},
         "handle": "a1", "layer": "L", "name": ""},
        {"attributes": {"h": 0.00001234}, "entity_type": "TEXT",
         "extra_data": {}, "geometries": {}, "handle": "a2", "layer": "L",
         "name": "x"},
    ]
    djs = [json.dumps(p, ensure_ascii=False, sort_keys=True,
                      separators=(",", ":")) for p in risky]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(["d"] * len(djs)), pa.array(range(len(djs)), pa.int32()),
         pa.array(djs)], names=["doc_id", "span_offset", "data_json"])
    out = list(rc._rebuild_arrow_batches([batch]))[0].column(2).to_pylist()
    assert out == [golden(dj) for dj in djs]
    assert "1e-7" in out[0] and "1e-07" not in out[0]
    assert "0.00001234" in out[1] and "1.234e-05" not in out[1]


def test_corpus_media_refs_are_canonical_fixed_points():
    """Every corpus payload re-serializes to itself, byte for byte —
    including the floats below 1e-4 that stdlib and orjson render
    differently (docs 77 and 177 carry some)."""
    import orjson

    from dxf_postgis_converter_spark.corpus import build_document
    from dxf_postgis_converter_spark.functions.decode import canonical_dumps

    for i in range(200):
        for s in build_document(i)[1]:
            if s["kind"] == "media":
                ref = s["media_ref"]
                assert canonical_dumps(orjson.loads(ref)) == ref, (i, s["offset"])


def test_canonical_dumps_fallback_matches_native_bytes():
    """Values orjson cannot write (a numpy float, an int dict key) take
    the stdlib fallback and still come out in the canonical bytes."""
    import numpy as np

    from dxf_postgis_converter_spark.functions.decode import canonical_dumps

    native = {"a": 7.3e-05, "b": {"1": -7e-06, "x": [1.5]}}
    exotic = {"b": {1: np.float64(-7e-06), "x": [np.float64(1.5)]},
              "a": np.float64(7.3e-05)}
    assert canonical_dumps(exotic) == canonical_dumps(native) \
        == '{"a":0.000073,"b":{"1":-7e-6,"x":[1.5]}}'


def test_canonical_dumps_fallback_nan_is_null():
    """A non-finite numpy float takes the stdlib fallback, which writes
    ``NaN``/``Infinity``; the canonical bytes carry ``null``, as orjson
    writes a native NaN."""
    import numpy as np

    from dxf_postgis_converter_spark.functions.decode import canonical_dumps

    assert canonical_dumps({"a": np.float64("nan")}) \
        == canonical_dumps({"a": float("nan")}) == '{"a":null}'
    assert canonical_dumps({"a": [np.float64("inf"), -np.float64("inf")]}) \
        == '{"a":[null,null]}'

"""Decode goldens: each converter vs the reference formulas
(postgis_entity_converter.py, see SURVEY §2.2 C1-C29), recomputed
independently here."""

import json
import math

import numpy as np
import pytest

from dxf_postgis_converter_spark.functions.decode import convert_entity
from dxf_postgis_converter_spark.geometry.wkb import parse_wkb, POINT_Z, LINESTRING_Z, POLYGON_Z, MULTIPOLYGON_Z


def mk(etype, geoms, **kw):
    return {
        "entity_type": etype, "name": kw.get("name", "n"), "handle": "ab1",
        "layer": "L", "attributes": {"color": 7}, "geometries": geoms,
        "extra_data": {"dxftype": etype, "layer_name": "L"},
    }


def geom(rec):
    assert rec["error"] is None, rec["error"]
    return parse_wkb(rec["geometry_wkb"])


def test_point():
    code, a = geom(convert_entity(mk("POINT", {"location": [1, 2, 3]})))
    assert code == POINT_Z and a.tolist() == [[1.0, 2.0, 3.0]]


def test_point_pad_z():
    code, a = geom(convert_entity(mk("POINT", {"location": [1, 2]})))
    assert a.tolist() == [[1.0, 2.0, 0.0]]


def test_point_missing_location_fails():
    rec = convert_entity(mk("POINT", {}))
    assert rec["geometry_wkb"] is None and "missing location" in rec["error"]


def test_line():
    code, a = geom(convert_entity(mk("LINE", {"start": [0, 0, 0], "end": [3, 4, 5]})))
    assert code == LINESTRING_Z and a.tolist() == [[0, 0, 0], [3, 4, 5]]


def test_ray_10x_and_xline_1000x():
    g = {"start": [1, 1, 0], "unit_vector": [1, 0, 0]}
    _, a = geom(convert_entity(mk("RAY", g)))
    assert a[-1].tolist() == [11.0, 1.0, 0.0]  # start + 10*unit (:189-194)
    _, a = geom(convert_entity(mk("XLINE", g)))
    assert a[-1].tolist() == [1001.0, 1.0, 0.0]  # start + 1000*unit (:208-213)


def test_polyline_closed_vs_open():
    pts = [[0, 0, 0], [4, 0, 0], [4, 4, 0]]
    code, _ = geom(convert_entity(mk("POLYLINE", {"points": pts, "is_closed": True})))
    assert code == POLYGON_Z
    code, _ = geom(convert_entity(mk("POLYLINE", {"points": pts, "is_closed": False})))
    assert code == LINESTRING_Z
    # closed but only 2 points → linestring (converter rule len>=3)
    code, _ = geom(convert_entity(mk("POLYLINE", {"points": pts[:2], "is_closed": True})))
    assert code == LINESTRING_Z


def test_lwpolyline_xyseb_quirk():
    # reference passes 5-tuples through _extract_point: z := start_width
    pts = [[0, 0, 9, 1, 0.5], [4, 0, 8, 1, 0.5], [4, 4, 7, 1, 0.5]]
    rec = convert_entity(mk("LWPOLYLINE", {"points": pts, "is_closed": False, "elevation": 2}))
    _, a = geom(rec)
    assert a[:, 2].tolist() == [9.0, 8.0, 7.0]
    data = json.loads(rec["data_json"])
    assert data["extra_data"]["elevation"] == 2
    assert data["extra_data"]["points"][0] == [0.0, 0.0, 9.0]


def test_circle_100pt_tessellation():
    c, r = [10, 20, 5], 3.0
    code, rings = geom(convert_entity(mk("CIRCLE", {"center": c, "radius": r})))
    assert code == POLYGON_Z
    ring = rings[0]
    ang = np.linspace(0, 2 * np.pi, 100)
    exp = np.stack([c[0] + r * np.cos(ang), c[1] + r * np.sin(ang), np.full(100, c[2])], axis=1)
    # ring may be closed by +1 point
    assert ring.shape[0] in (100, 101)
    assert np.array_equal(ring[:100], exp)  # bit-exact


def test_arc_linspace_degrees():
    g = {"center": [0, 0, 0], "radius": 2.0, "start_angle": 30.0, "end_angle": 120.0}
    code, a = geom(convert_entity(mk("ARC", g)))
    assert code == LINESTRING_Z and a.shape == (100, 3)
    ang = np.linspace(np.radians(30.0), np.radians(120.0), 100)
    assert np.array_equal(a[:, 0], 2.0 * np.cos(ang))
    assert np.array_equal(a[:, 1], 2.0 * np.sin(ang))


def test_ellipse_verbatim_nonstandard_formula():
    # x uses major.x*cos*ratio, y uses major.y*sin — postgis_entity_converter.py:330-336
    g = {"center": [1, 1, 0], "major_axis": [4, 2, 0], "ratio": 0.5,
         "start_param": 0.3, "end_param": 2.1}
    _, a = geom(convert_entity(mk("ELLIPSE", g)))
    t = np.linspace(0.3, 2.1, 100)
    assert np.array_equal(a[:, 0], 1 + 4 * np.cos(t) * 0.5)
    assert np.array_equal(a[:, 1], 1 + 2 * np.sin(t))


def test_spline_passthrough_and_min_points():
    pts = [[0, 0, 0], [1, 1, 1], [2, 0, 0]]
    code, a = geom(convert_entity(mk("SPLINE", {"points": pts, "degree": 3})))
    assert code == LINESTRING_Z and a.shape == (3, 3)
    rec = convert_entity(mk("SPLINE", {"points": pts[:1]}))
    assert "insufficient" in rec["error"]


def test_3dface_triangle_drop():
    g = {"vtx0": [0, 0, 0], "vtx1": [1, 0, 0], "vtx2": [1, 1, 0], "vtx3": [0, 0, 0]}
    code, rings = geom(convert_entity(mk("3DFACE", g)))
    assert code == POLYGON_Z
    assert rings[0].shape == (4, 3)  # 3 distinct + closure
    g["vtx3"] = [0, 1, 0]
    _, rings = geom(convert_entity(mk("SOLID", g)))
    assert rings[0].shape == (5, 3)  # quad + closure (SOLID aliases 3DFACE)


def test_hatch_multipolygon_rules():
    b1 = [[0, 0, 0], [1, 0, 0], [1, 1, 0]]
    b2 = [[5, 5, 0], [6, 5, 0], [6, 6, 0], [5, 6, 0]]
    code, _ = geom(convert_entity(mk("HATCH", {"boundaries": [b1], "pattern_name": "SOLID", "solid_fill": True})))
    assert code == POLYGON_Z
    code, polys = geom(convert_entity(mk("HATCH", {"boundaries": [b1, b2], "pattern_name": "X", "solid_fill": False})))
    assert code == MULTIPOLYGON_Z and len(polys) == 2
    rec = convert_entity(mk("HATCH", {"boundaries": [], "pattern_name": "X", "solid_fill": False}))
    assert rec["geometry_wkb"] is None and rec["error"] is None
    # boundary with <3 points dropped
    rec = convert_entity(mk("HATCH", {"boundaries": [b1[:2]], "pattern_name": "X", "solid_fill": False}))
    assert rec["geometry_wkb"] is None
    data = json.loads(rec["data_json"])
    assert data["extra_data"]["boundary_count"] == 1


def test_multileader_default_origin():
    rec = convert_entity(mk("MULTILEADER", {"text": "t", "leader_lines": [], "leader_properties": []}))
    code, a = geom(rec)
    assert a.tolist() == [[0.0, 0.0, 0.0]]  # Point(0,0,0) default (:572)


def test_insert_point_and_extras():
    g = {"insert": [7, 8, 0], "name": "BLK", "xscale": 2.0, "yscale": 1.0,
         "zscale": 1.0, "rotation": 45.0, "insert_attribs": []}
    rec = convert_entity(mk("INSERT", g))
    code, a = geom(rec)
    assert a.tolist() == [[7.0, 8.0, 0.0]]
    ex = json.loads(rec["data_json"])["extra_data"]
    assert ex["block_name"] == "BLK" and ex["xscale"] == 2.0 and ex["rotation"] == 45.0


def test_helix_z_ramp():
    g = {"base_point": [0, 0, 10], "radius": 2.0, "turns": 3, "height": 6.0}
    _, a = geom(convert_entity(mk("HELIX", g)))
    tot = 2 * np.pi * 3
    ang = np.linspace(0, tot, 100)
    assert np.array_equal(a[:, 2], 10 + (ang / tot) * 6.0)
    assert a[0, 2] == 10.0 and a[-1, 2] == 16.0


def test_no_geometry_types():
    for etype, g in [("MESH", {"vertices": [[0, 0, 0]], "faces": [[0]]}),
                     ("3DSOLID", {"acis_data": "X"}),
                     ("DIMENSION", {}), ("MLINE", {}), ("WIPEOUT", {}),
                     ("IMAGEDEF", {"filename": "a.png"})]:
        rec = convert_entity(mk(etype, g))
        assert rec["geometry_wkb"] is None and rec["error"] is None, etype
        assert rec["geom_type"] is None and rec["xmin"] is None


def test_unknown_type_errors():
    rec = convert_entity(mk("NOT_A_TYPE", {}))
    assert "Unsupported entity type" in rec["error"]


def test_bbox_matches_geometry(media_payloads):
    from dxf_postgis_converter_spark.geometry.wkb import wkb_bbox
    n_checked = 0
    for p in media_payloads:
        rec = convert_entity(p)
        if rec["geometry_wkb"] is None:
            continue
        bx = wkb_bbox(rec["geometry_wkb"])
        assert (rec["xmin"], rec["ymin"], rec["xmax"], rec["ymax"]) == pytest.approx(bx)
        n_checked += 1
    assert n_checked > 300


def test_corpus_decodes_cleanly(media_payloads):
    errs = [convert_entity(p)["error"] for p in media_payloads]
    assert all(e is None for e in errs)


def test_decode_documents_matches_convert_entity(docs_df):
    """Golden for the Spark decode stage: every row of decode_documents
    equals convert_entity (the reference implementation) applied to the
    span's payload, plus the span's doc_id, offset and media_ref."""
    from dxf_postgis_converter_spark.functions.decode import (
        ENTITY_SCHEMA, decode_documents,
    )
    cols = [f.name for f in ENTITY_SCHEMA.fields]

    def canon(row):
        return tuple(bytes(v) if isinstance(v, bytearray) else v for v in row)

    exp = []
    for doc in docs_df.collect():
        for span in doc.spans:
            if span.kind != "media":
                continue
            rec = convert_entity(json.loads(span.media_ref))
            rec.update(doc_id=doc.doc_id, span_offset=span.offset,
                       media_ref=span.media_ref)
            exp.append(canon(rec[c] for c in cols))
    got = decode_documents(docs_df)
    assert got.columns == cols
    got_rows = [canon(r) for r in got.collect()]
    assert len(exp) > 1000
    assert sorted(got_rows, key=repr) == sorted(exp, key=repr)


def test_null_media_ref_is_an_error_row(spark):
    """A null media_ref becomes one error row (null media_ref out); it
    must not fail the Arrow batch or disturb the document's other rows."""
    from dxf_postgis_converter_spark.corpus import SPANS_SCHEMA, build_document
    from dxf_postgis_converter_spark.functions.decode import decode_documents

    doc_id, spans = build_document(0)
    media = [i for i, s in enumerate(spans) if s["kind"] == "media"]
    broken = [dict(s, media_ref=None) if i == media[0] else s
              for i, s in enumerate(spans)]
    cols = ["span_offset", "entity_type", "geometry_wkb", "media_ref", "error"]

    def decode(sp):
        df = spark.createDataFrame([(doc_id, sp)], schema=SPANS_SCHEMA)
        return {r["span_offset"]: r for r in
                decode_documents(df, keep_media_ref=True).select(cols).collect()}

    good, got = decode(spans), decode(broken)
    bad = spans[media[0]]["offset"]
    assert got.keys() == good.keys() and len(got) == len(media) > 1
    assert got[bad]["media_ref"] is None
    assert got[bad]["error"] == "Unsupported entity type: UNKNOWN"
    assert all(got[o] == good[o] for o in good if o != bad)


def test_bytes_string_array_nulls():
    from dxf_postgis_converter_spark.functions.decode import bytes_string_array

    vals = [b"a", None, "été".encode(), b"", None]
    arr = bytes_string_array(vals)
    assert arr.null_count == 2
    assert arr.to_pylist() == [None if v is None else v.decode() for v in vals]
    arr.validate(full=True)


class _LongBytes(bytes):
    """Reports 2**30 bytes without holding them."""

    def __len__(self):
        return 2**30


def test_bytes_string_array_refuses_int32_offset_overflow():
    from dxf_postgis_converter_spark.functions.decode import bytes_string_array

    with pytest.raises(OverflowError, match="2\\*\\*31"):
        bytes_string_array([_LongBytes(), _LongBytes()])

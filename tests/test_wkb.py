import struct

import numpy as np

from dxf_postgis_converter_spark.geometry.wkb import (
    LINESTRING_Z, MULTIPOLYGON_Z, POINT_Z, POLYGON_Z,
    parse_wkb, wkb_bbox, wkb_linestring, wkb_multipolygon, wkb_point, wkb_polygon,
)


def test_point_roundtrip():
    b = wkb_point(1.5, -2.25, 3.0)
    code, a = parse_wkb(b)
    assert code == POINT_Z
    assert a.tolist() == [[1.5, -2.25, 3.0]]
    assert wkb_bbox(b) == (1.5, -2.25, 1.5, -2.25)


def test_linestring_roundtrip():
    pts = [(0, 0, 0), (1, 2, 3), (4, 5, 6)]
    code, a = parse_wkb(wkb_linestring(pts))
    assert code == LINESTRING_Z
    assert a.tolist() == [list(map(float, p)) for p in pts]


def test_polygon_ring_closure():
    # open ring → closed on encode (shapely behaviour)
    pts = [(0, 0, 0), (4, 0, 0), (4, 4, 0), (0, 4, 0)]
    code, rings = parse_wkb(wkb_polygon(pts))
    assert code == POLYGON_Z
    assert len(rings) == 1
    assert rings[0].shape == (5, 3)
    assert rings[0][0].tolist() == rings[0][-1].tolist()
    # already-closed ring stays as-is
    closed = pts + [pts[0]]
    _, rings2 = parse_wkb(wkb_polygon(closed))
    assert rings2[0].shape == (5, 3)


def test_multipolygon():
    p1 = [(0, 0, 0), (1, 0, 0), (1, 1, 0)]
    p2 = [(5, 5, 0), (9, 5, 0), (9, 9, 1), (5, 9, 0)]
    b = wkb_multipolygon([np.array(p1, float), np.array(p2, float)])
    code, polys = parse_wkb(b)
    assert code == MULTIPOLYGON_Z
    assert len(polys) == 2
    assert wkb_bbox(b) == (0.0, 0.0, 9.0, 9.0)


def test_2d_codes_parse_as_z_with_zero_z():
    """ISO 2-D WKB (codes 1/2/3/6, two doubles per vertex) decodes to the
    Z geometry codes with z = 0."""
    pt = struct.pack("<BI2d", 1, 1, 1.5, -2.0)
    code, a = parse_wkb(pt)
    assert code == POINT_Z and a.tolist() == [[1.5, -2.0, 0.0]]

    line = struct.pack("<BII4d", 1, 2, 2, 0.0, 1.0, 2.0, 3.0)
    code, a = parse_wkb(line)
    assert code == LINESTRING_Z and a.tolist() == [[0.0, 1.0, 0.0], [2.0, 3.0, 0.0]]

    ring = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 0.0)]
    poly = struct.pack("<BIII", 1, 3, 1, len(ring)) + np.asarray(ring).tobytes()
    code, rings = parse_wkb(poly)
    assert code == POLYGON_Z
    assert rings[0].tolist() == [[x, y, 0.0] for x, y in ring]

    mpoly = struct.pack("<BII", 1, 6, 2) + poly + poly
    code, polys = parse_wkb(mpoly)
    assert code == MULTIPOLYGON_Z and len(polys) == 2
    assert wkb_bbox(mpoly) == (0.0, 0.0, 4.0, 4.0)
    # the 2-D polygon reads as the Z polygon of the same vertices
    _, zrings = parse_wkb(wkb_polygon([(x, y, 0.0) for x, y in ring]))
    assert np.array_equal(rings[0], zrings[0])

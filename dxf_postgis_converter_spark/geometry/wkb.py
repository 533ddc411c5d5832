"""ISO WKB (Z variants) encode/decode in pure numpy — no shapely needed.

The reference converts geometries with shapely and stores WKT
(``/root/reference/src/infrastructure/database/postgis/postgis_entity_converter.py:102-105``).
This engine stores WKB (binary, columnar-friendly) with identical
coordinate content: ring closure mirrors shapely's ``Polygon`` behaviour
(first point appended when the ring is not already closed), so a WKB→WKT
rendering of our bytes equals the reference's WKT for the same input.

Layout (little-endian, ISO codes):
  point z        = 01 e9030000 (1001) + 3 f64
  linestring z   = 01 ea030000 (1002) + u32 n + n*3 f64
  polygon z      = 01 eb030000 (1003) + u32 nrings + rings(u32 n + n*3 f64)
  multipolygon z = 01 ee030000 (1006) + u32 ngeoms + full polygon WKBs
Decode also reads the 2-D codes (1/2/3/6, two f64 per vertex) that most
writers emit, as the Z geometry with z = 0.
"""

from __future__ import annotations

import struct

import numpy as np

POINT_Z = 1001
LINESTRING_Z = 1002
POLYGON_Z = 1003
MULTIPOLYGON_Z = 1006

GEOM_TYPE_NAMES = {
    POINT_Z: "POINT",
    LINESTRING_Z: "LINESTRING",
    POLYGON_Z: "POLYGON",
    MULTIPOLYGON_Z: "MULTIPOLYGON",
}

_HDR_POINT = struct.pack("<BI", 1, POINT_Z)
_HDR_LINE = struct.pack("<BI", 1, LINESTRING_Z)
_HDR_POLY = struct.pack("<BI", 1, POLYGON_Z)
_HDR_MPOLY = struct.pack("<BI", 1, MULTIPOLYGON_Z)


def _coords(points) -> np.ndarray:
    """(n,3) float64 array from any sequence of (x,y,z) triples."""
    a = np.asarray(points, dtype=np.float64)
    if a.ndim == 1:
        a = a.reshape(1, -1)
    return a


def wkb_point(x: float, y: float, z: float = 0.0) -> bytes:
    return _HDR_POINT + struct.pack("<3d", float(x), float(y), float(z))


def wkb_linestring(points) -> bytes:
    a = _coords(points)
    return _HDR_LINE + struct.pack("<I", a.shape[0]) + a.tobytes()


def _close_ring(a: np.ndarray) -> np.ndarray:
    # shapely closes rings: append first point unless already closed
    if a.shape[0] == 0 or np.array_equal(a[0], a[-1]):
        return a
    return np.vstack([a, a[0:1]])


def wkb_polygon(exterior, holes=()) -> bytes:
    rings = [_close_ring(_coords(exterior))] + [_close_ring(_coords(h)) for h in holes]
    out = [_HDR_POLY, struct.pack("<I", len(rings))]
    for r in rings:
        out.append(struct.pack("<I", r.shape[0]))
        out.append(r.tobytes())
    return b"".join(out)


def wkb_multipolygon(polygons) -> bytes:
    """polygons: iterable of exterior-point-sequences (no holes, mirroring
    the reference HATCH path which never builds holes —
    postgis_entity_converter.py:521-539)."""
    parts = [wkb_polygon(p) for p in polygons]
    return _HDR_MPOLY + struct.pack("<I", len(parts)) + b"".join(parts)


def parse_wkb(buf: bytes):
    """Decode → (geom_code, rings) where rings is:
    POINT: (1,3) array; LINESTRING: (n,3) array (single array);
    POLYGON: list[(n,3)]; MULTIPOLYGON: list[list[(n,3)]].
    2-D input (ISO codes 1/2/3/6) decodes to the Z code with z = 0."""
    code, rings, _ = _parse_at(buf, 0)
    return code, rings


# 2-D ISO codes → their Z twins; 2-D vertices are read with z = 0
_Z_OF_2D = {1: POINT_Z, 2: LINESTRING_Z, 3: POLYGON_Z, 6: MULTIPOLYGON_Z}


def _xyz(buf: bytes, n: int, off: int, dims: int):
    """(n,3) vertex array at off and the offset just past it."""
    a = np.frombuffer(buf, dtype="<f8", count=dims * n, offset=off).reshape(n, dims)
    if dims == 2:
        a = np.hstack([a, np.zeros((n, 1))])
    return a, off + 8 * dims * n


def _parse_at(buf: bytes, off: int):
    bo, code = struct.unpack_from("<BI", buf, off)
    if bo != 1:
        raise ValueError("big-endian WKB not supported")
    off += 5
    dims = 2 if code in _Z_OF_2D else 3
    code = _Z_OF_2D.get(code, code)
    if code == POINT_Z:
        a, off = _xyz(buf, 1, off, dims)
        return code, a, off
    if code == LINESTRING_Z:
        (n,) = struct.unpack_from("<I", buf, off)
        a, off = _xyz(buf, n, off + 4, dims)
        return code, a, off
    if code == POLYGON_Z:
        (nr,) = struct.unpack_from("<I", buf, off)
        off += 4
        rings = []
        for _ in range(nr):
            (n,) = struct.unpack_from("<I", buf, off)
            a, off = _xyz(buf, n, off + 4, dims)
            rings.append(a)
        return code, rings, off
    if code == MULTIPOLYGON_Z:
        (ng,) = struct.unpack_from("<I", buf, off)
        off += 4
        polys = []
        for _ in range(ng):
            c, rings, off = _parse_at(buf, off)
            assert c == POLYGON_Z
            polys.append(rings)
        return code, polys, off
    raise ValueError(f"unsupported WKB geometry code {code}")


def wkb_bbox(buf: bytes):
    """(xmin, ymin, xmax, ymax) of any supported WKB."""
    code, g = parse_wkb(buf)
    if code == POINT_Z or code == LINESTRING_Z:
        arrs = [g]
    elif code == POLYGON_Z:
        arrs = g
    else:
        arrs = [r for poly in g for r in poly]
    xs = np.concatenate([a[:, 0] for a in arrs])
    ys = np.concatenate([a[:, 1] for a in arrs])
    return float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max())

"""PIP join & bbox-intersects join vs brute-force O(N*M) oracles."""

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from dxf_postgis_converter_spark.geometry.predicates import points_covered
from dxf_postgis_converter_spark.geometry.wkb import parse_wkb
from dxf_postgis_converter_spark.operators.spatial_join import (
    bbox_intersects_join, point_in_polygon_join,
)


@pytest.fixture(scope="module")
def points_df(entities_df):
    return entities_df.filter("geom_type = 'POINT'").select(
        "doc_id", "handle", F.col("xmin").alias("x"), F.col("ymin").alias("y")).cache()


@pytest.fixture(scope="module")
def zone_rings(zones_df):
    # full parsed geometry (all rings + MultiPolygon parts) — the corpus
    # now contains holed + multi zones and the oracle must honor them
    out = {}
    for r in zones_df.collect():
        code, geom = parse_wkb(bytes(r.geometry_wkb))
        out[r.zone_id] = geom
    return out


def brute_pip(points, zone_rings):
    pairs = set()
    px = np.array([p[2] for p in points])
    py = np.array([p[3] for p in points])
    for zid, geom in zone_rings.items():
        mask = points_covered(px, py, geom)
        for i in np.nonzero(mask)[0]:
            pairs.add((points[i][0], points[i][1], zid))
    return pairs


def _wkb_2d(geom) -> bytearray:
    """A parsed (multi)polygon re-encoded as 2-D ISO WKB: x, y only."""
    def polygon(rings):
        return struct.pack("<BII", 1, 3, len(rings)) + b"".join(
            struct.pack("<I", len(r)) + np.ascontiguousarray(r[:, :2]).tobytes()
            for r in rings)
    if isinstance(geom[0], list):
        return bytearray(struct.pack("<BII", 1, 6, len(geom))
                         + b"".join(polygon(p) for p in geom))
    return bytearray(polygon(geom))


@pytest.fixture(scope="module")
def adversarial_probes(spark, zones_df, zone_rings):
    """Probes where ray casting goes wrong first, against the zones plus
    one poly zone copied twice, once with kind NULL and once re-encoded as
    2-D WKB (ISO codes 3/6, no z): every ring vertex and edge
    midpoint (hole boundaries and the horizontal edges of rect-shaped
    rings included), each midpoint moved 1e-9 off its edge to either
    side, points a quarter of the way along each horizontal edge and
    just off its ends at the same y, and random points in each zone's
    bbox."""
    rng = np.random.default_rng(11)
    poly = zones_df.filter("kind = 'poly'").orderBy("zone_id").first()
    zones = zones_df.unionByName(spark.createDataFrame(
        [poly.asDict() | {"zone_id": "null_kind", "kind": None},
         poly.asDict() | {"zone_id": "wkb_2d",
                          "geometry_wkb": _wkb_2d(zone_rings[poly.zone_id])}],
        zones_df.schema))
    rings = dict(zone_rings, null_kind=zone_rings[poly.zone_id],
                 wkb_2d=zone_rings[poly.zone_id])
    xy = []
    for z in zones_df.collect():
        geom = zone_rings[z.zone_id]
        for ring in (r for part in (geom if isinstance(geom[0], list) else [geom])
                     for r in part):
            a, b = ring[:-1, :2], ring[1:, :2]  # WKB rings are closed
            mid = (a + b) / 2
            xy += [*a, *mid]
            d = b - a
            normal = np.stack([-d[:, 1], d[:, 0]], 1) / np.hypot(d[:, 0], d[:, 1])[:, None]
            xy += [*(mid + 1e-9 * normal), *(mid - 1e-9 * normal)]
            flat = a[:, 1] == b[:, 1]
            xy += [*(0.75 * a[flat] + 0.25 * b[flat])]
            lo, hi = np.minimum(a[flat, 0], b[flat, 0]), np.maximum(a[flat, 0], b[flat, 0])
            xy += [*np.stack([lo - 1.0, a[flat, 1]], 1), *np.stack([hi + 1.0, a[flat, 1]], 1)]
        xy += [*rng.uniform((z.xmin, z.ymin), (z.xmax, z.ymax), (40, 2))]
    probes = spark.createDataFrame(
        [("adv", f"p{i}", float(x), float(y)) for i, (x, y) in enumerate(xy)],
        "doc_id string, handle string, x double, y double")
    return probes, zones, rings


_PIP_CASES = [(6, 1, True), (8, 1, False), (6, 4, True), (7, 4, False)]


@pytest.mark.parametrize(
    "probe_set,res,n_salt,broadcast",
    [pytest.param("corpus", *c, id="-".join(map(str, c))) for c in _PIP_CASES]
    + [pytest.param("adversarial", *c, id="adversarial-" + "-".join(map(str, c)))
       for c in _PIP_CASES])
def test_pip_join_vs_bruteforce(request, spark, points_df, zones_df, zone_rings,
                                probe_set, res, n_salt, broadcast):
    probes, zones, rings = points_df, zones_df, zone_rings
    if probe_set == "adversarial":
        # the session default: horizontal edges must not divide by zero
        assert spark.conf.get("spark.sql.ansi.enabled") == "true"
        probes, zones, rings = request.getfixturevalue("adversarial_probes")
    got = {(r.doc_id, r.handle, r.zone_id) for r in point_in_polygon_join(
        probes, zones, res=res, n_salt=n_salt, broadcast_zones=broadcast,
        probe_id_col="handle").collect()}
    pts = [(r.doc_id, r.handle, r.x, r.y) for r in probes.collect()]
    exp = brute_pip(pts, rings)
    assert got == exp
    assert len(exp) > 50  # non-degenerate


def test_bbox_intersects_join_vs_bruteforce(entities_df, zones_df):
    probes = entities_df.filter("xmin is not null") \
        .select("doc_id", "handle", "xmin", "ymin", "xmax", "ymax")
    got = {(r.doc_id, r.handle, r.zone_id)
           for r in bbox_intersects_join(probes, zones_df, res=6).collect()}
    zb = [(r.zone_id, r.xmin, r.ymin, r.xmax, r.ymax) for r in zones_df.collect()]
    exp = set()
    for p in probes.collect():
        for zid, zx0, zy0, zx1, zy1 in zb:
            if p.xmin <= zx1 and p.xmax >= zx0 and p.ymin <= zy1 and p.ymax >= zy0:
                exp.add((p.doc_id, p.handle, zid))
    assert got == exp


def test_pip_join_holed_and_multipolygon_zones(spark):
    """A point strictly inside a hole is NOT covered; a point ON the hole
    boundary IS (shapely covers: the hole boundary belongs to the
    polygon); a MultiPolygon covers points in ANY of its parts."""
    from dxf_postgis_converter_spark.geometry.wkb import (
        wkb_multipolygon, wkb_polygon,
    )

    def rect(x0, y0, x1, y1):
        return np.array([[x0, y0, 0], [x1, y0, 0], [x1, y1, 0],
                         [x0, y1, 0], [x0, y0, 0]], dtype=float)

    zones = spark.createDataFrame(
        [("holed0", "holed", 0.0, 0.0, 100.0, 100.0,
          bytearray(wkb_polygon(rect(0, 0, 100, 100),
                                holes=[rect(30, 30, 70, 70)]))),
         ("multi0", "multi", 200.0, 200.0, 500.0, 500.0,
          bytearray(wkb_multipolygon([rect(200, 200, 280, 280),
                                      rect(420, 420, 500, 500)])))],
        "zone_id string, kind string, xmin double, ymin double, "
        "xmax double, ymax double, geometry_wkb binary")
    pts = spark.createDataFrame(
        [("p_in", 10.0, 10.0),        # inside outer, outside hole
         ("p_hole", 50.0, 50.0),      # strictly inside hole -> excluded
         ("p_hole_edge", 30.0, 50.0),  # ON hole boundary -> covered
         ("p_out", 150.0, 150.0),     # outside everything
         ("p_m1", 240.0, 240.0),      # in multi part 1
         ("p_m2", 460.0, 460.0),      # in multi part 2
         ("p_m_gap", 350.0, 350.0)],  # in multi bbox but between parts
        "handle string, x double, y double")
    for n_salt, broadcast in [(1, True), (4, False)]:
        got = {(r.handle, r.zone_id) for r in point_in_polygon_join(
            pts, zones, res=6, n_salt=n_salt, broadcast_zones=broadcast,
            probe_id_col="handle").collect()}
        assert got == {("p_in", "holed0"), ("p_hole_edge", "holed0"),
                       ("p_m1", "multi0"), ("p_m2", "multi0")}, (n_salt, got)


def test_corpus_has_holed_and_multi_zones(zones_df):
    kinds = {r.kind for r in zones_df.select("kind").distinct().collect()}
    assert {"holed", "multi"} <= kinds

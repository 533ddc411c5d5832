"""Point-in-polygon spatial join (J10) — cell-cover equi-join + exact refine.

Plan shape (SURVEY §2.4 J10, §4.3/§4.4):

  zones  --covers(res)-->  zone_cells(zone_id, kind, bbox, cell [, salt]) [JVM]
  zones  --edges------->   (zone_id, parts)                 [one Arrow pass]
  probes --cell(res)---->  probe cell [, salt]                            [JVM]
  equi-join on cell (broadcast when the cover table is small,
  shuffled otherwise; optional salting for hot cells)                     [JVM]
  left join the edges on zone_id (same broadcast choice)                  [JVM]
  exact refine: one Filter — rect zones by a bbox compare, every other
  zone by boundary-inclusive even-odd ray casting over its edge arrays    [JVM]

The refine is ``geometry.predicates.points_covered`` (shapely ``covers``)
written as column arithmetic: per polygon part, the horizontal-ray
crossing count summed over the edges of all its rings is odd, or the
point lies on any edge. Same edges, same operand order and the same
on-segment tolerance as the numpy kernel, so the two agree exactly.
Only the zones cross into Python, once per call, to turn WKB into edges;
the probe side never does.

Scale notes:
- the cover and edge tables are tiny relative to probes, so the default
  is an explicit ``broadcast()`` of both — no shuffle of the 10^12-row
  probe side at all; set broadcast_zones=False for a truly huge polygon
  side and AQE handles the shuffled variant.
- the edges join on zone_id after the cell join, so each zone's edges
  are stored once, not once per covering cell (or per cell × salt).
- salting (n_salt>1) splits each hot cell's probe stream across n_salt
  reducers by replicating the zone-cover rows — use with the shuffled
  path on skewed corpora (dense CAD sheets; see skew.py for detection).
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..geometry.wkb import MULTIPOLYGON_Z, POLYGON_Z, parse_wkb
from ..index.grid import cell_col, covers_col
from ..index.skew import salt_col

DEFAULT_RES = 6  # cell = 128 world units; zone covers stay small

_EDGES_SCHEMA = "zone_id string, parts array<array<struct<x1:double,y1:double,x2:double,y2:double>>>"


def zone_cover_cells(zones: DataFrame, res: int = DEFAULT_RES, n_salt: int = 1) -> DataFrame:
    """zones(zone_id, kind, xmin..ymax) → one row per (zone, covering
    cell [, salt]); all column arithmetic, no geometry."""
    cover = zones.select(
        "zone_id", "kind",
        F.col("xmin").alias("z_xmin"), F.col("ymin").alias("z_ymin"),
        F.col("xmax").alias("z_xmax"), F.col("ymax").alias("z_ymax"),
        F.explode(covers_col(F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"), res)).alias("cell"),
    )
    if n_salt > 1:
        cover = cover.withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
    return cover


def _ring_edges(ring: np.ndarray) -> np.ndarray:
    """(m, 4) edges x1, y1, x2, y2 of one ring, built as
    ``predicates._ring_crossings`` builds them: the closing vertex is
    dropped when it repeats the first, then the ring wraps around."""
    ring = ring[:, :2]
    if len(ring) and np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    return np.hstack([ring, np.roll(ring, -1, axis=0)])


def _polygon_parts(wkb) -> list | None:
    """The polygon parts (each a non-empty list of rings) of a zone's
    WKB, or None when it is NULL, truncated, not a (multi)polygon or has
    no ring at all."""
    try:
        code, geom = parse_wkb(wkb)
    except (struct.error, AssertionError, TypeError, ValueError):
        return None
    parts = [geom] if code == POLYGON_Z else geom if code == MULTIPOLYGON_Z else []
    return [rings for rings in parts if rings] or None


def _edge_batches(batches):
    """mapInArrow body: (zone_id, geometry_wkb) → (zone_id, parts), one
    inner list per polygon part holding the edges of all its rings. A
    zone whose WKB is not a readable (multi)polygon gets no row, so it
    covers nothing."""
    import pyarrow as pa

    def offsets(lens):
        offs = np.zeros(len(lens) + 1, dtype=np.int32)
        np.cumsum(lens, out=offs[1:])
        return pa.array(offs)

    for batch in batches:
        ids, edges, part_lens, zone_lens = [], [], [], []
        for zone_id, wkb in zip(batch.column(0).to_pylist(), batch.column(1).to_pylist()):
            parts = _polygon_parts(wkb)
            if parts is None:
                continue
            ids.append(zone_id)
            for rings in parts:
                ring_edges = [_ring_edges(r) for r in rings]
                edges.extend(ring_edges)
                part_lens.append(sum(map(len, ring_edges)))
            zone_lens.append(len(parts))
        e = np.vstack(edges) if edges else np.empty((0, 4))
        flat = pa.StructArray.from_arrays(
            [pa.array(e[:, i]) for i in range(4)], names=["x1", "y1", "x2", "y2"])
        parts_arr = pa.ListArray.from_arrays(
            offsets(zone_lens), pa.ListArray.from_arrays(offsets(part_lens), flat))
        # zone ids as fresh buffers: the output never references the input batch
        yield pa.RecordBatch.from_arrays(
            [pa.array(ids, pa.string()), parts_arr],
            names=["zone_id", "parts"])


def _zone_edges(zones: DataFrame) -> DataFrame:
    """Non-rect zones (NULL kind included) → (zone_id, parts). A zone
    without geometry has no row, so it covers nothing."""
    return (zones.filter((F.col("kind").isNull() | (F.col("kind") != "rect"))
                         & F.col("geometry_wkb").isNotNull())
            .select("zone_id", "geometry_wkb")
            .mapInArrow(_edge_batches, schema=_EDGES_SCHEMA))


def _covered(px: Column, py: Column) -> Column:
    """``predicates.points_covered`` over the ``parts`` column. The
    division runs only on edges that straddle the ray (y1 != y2), so a
    horizontal edge never divides by zero under ANSI."""
    eps = F.lit(1e-12)

    def crossing(acc, e):
        hit = F.when((e.y1 > py) != (e.y2 > py),
                     px < e.x1 + ((py - e.y1) * (e.x2 - e.x1)) / (e.y2 - e.y1))
        return acc + F.when(hit, 1).otherwise(0)

    def on_edge(e):
        dx, dy = e.x2 - e.x1, e.y2 - e.y1
        cross = (px - e.x1) * dy - (py - e.y1) * dx
        scale = F.greatest(F.abs(dx), F.abs(dy)) + 1.0
        return ((F.abs(cross) <= eps * scale)
                & (F.least(e.x1, e.x2) - eps <= px) & (px <= F.greatest(e.x1, e.x2) + eps)
                & (F.least(e.y1, e.y2) - eps <= py) & (py <= F.greatest(e.y1, e.y2) + eps))

    return (F.exists("parts", lambda p: F.aggregate(p, F.lit(0), crossing) % 2 == 1)
            | F.exists(F.flatten("parts"), on_edge))


def point_in_polygon_join(
    probes: DataFrame,
    zones: DataFrame,
    res: int = DEFAULT_RES,
    x_col: str = "x",
    y_col: str = "y",
    broadcast_zones: bool = True,
    n_salt: int = 1,
    probe_id_col: str = "handle",
) -> DataFrame:
    """probes(any cols incl. x_col/y_col) ⋈ zones → probe cols + zone_id.

    Exact containment (boundary-inclusive ray casting ≙ shapely covers);
    rect zones by their bbox, zones of any other kind (or NULL kind) by
    their WKB's edges."""
    cover = zone_cover_cells(zones, res=res, n_salt=n_salt)
    edges = _zone_edges(zones)
    if broadcast_zones:
        cover, edges = F.broadcast(cover), F.broadcast(edges)

    probe_cols = probes.columns
    px, py = F.col(x_col), F.col(y_col)
    p = probes.withColumn("cell", cell_col(px, py, res))
    join_keys = ["cell"]
    if n_salt > 1:
        p = p.withColumn("salt", salt_col(probe_id_col, n_salt))
        join_keys.append("salt")

    cand = p.join(cover, join_keys, "inner").join(edges, "zone_id", "left")
    in_bbox = ((px >= F.col("z_xmin")) & (px <= F.col("z_xmax"))
               & (py >= F.col("z_ymin")) & (py <= F.col("z_ymax")))
    return (cand.filter(F.when(F.col("kind") == "rect", in_bbox).otherwise(_covered(px, py)))
            .select(*probe_cols, "zone_id"))


def bbox_intersects_join(
    probes: DataFrame,
    zones: DataFrame,
    res: int = DEFAULT_RES,
    broadcast_zones: bool = True,
) -> DataFrame:
    """Generic bbox⋈zone-bbox intersects join for non-point geometries:
    probe bboxes cover cells too (1 geom → K cells), dedup candidate pairs,
    then rect-rect intersect by columns. Matches the reference's
    bbox-based INTERSECT semantics (P1) zone-side."""
    cover = zone_cover_cells(zones, res=res)
    if broadcast_zones:
        cover = F.broadcast(cover)
    probe_cols = probes.columns
    p = probes.withColumn(
        "cell", F.explode(covers_col(F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"), res)))
    cand = p.join(cover, "cell", "inner").filter(
        (F.col("xmin") <= F.col("z_xmax")) & (F.col("xmax") >= F.col("z_xmin"))
        & (F.col("ymin") <= F.col("z_ymax")) & (F.col("ymax") >= F.col("z_ymin"))
    )
    # a probe bbox and a zone can share several cells → dedup the pair
    return cand.select(*probe_cols, "zone_id").dropDuplicates(list(probe_cols) + ["zone_id"])

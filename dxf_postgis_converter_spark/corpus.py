"""Deterministic synthetic interleaved-documents corpus (FIXTURES.md §1-3).

Shape matches BASELINE.json input_hint exactly:

  documents(doc_id string,
            spans array<struct<kind:string, text:string,
                               media_ref:string, offset:int>>)

- media spans carry one DXF entity payload as canonical JSON
  (functions.decode.canonical_dumps: orjson, sorted keys, compact)
  mirroring the reference triple
  {entity_type, name, handle, layer, attributes, geometries, extra_data}
  (postgis_entity_repository.py:238-243); per-type geometry dicts follow
  dxf_reader.py extractors (see FIXTURES.md §2 table).
- generation is a pure function of (seed, doc_index): built with
  spark.range(n) → mapInPandas, so it scales to any corpus size with no
  driver bottleneck and is bit-reproducible at any parallelism.
- ~5% of docs are "hot sheets": all coordinates inside one small window so
  their cell covers collide (skew / salting tests).
- payload extra_data is exactly {"dxftype": etype, "layer_name": layer}
  (+ {"block_name", "block_entities"} for INSERT) — a documented contract
  that makes media_ref reconstructable from the decoded data_json
  (see operators/reconstruct.py round-trip invariant).

Also generates zones(zone_id, kind, name, xmin, ymin, xmax, ymax,
geometry_wkb, params_json): the polygon side for point-in-polygon joins —
a deterministic grid of rectangles + circles (100-pt tessellation,
postgis_entity_converter.py:272) + concave polygons.
"""

from __future__ import annotations

import math
import os
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .functions.decode import canonical_dumps
from .geometry import tessellate as tess
from .geometry.wkb import wkb_multipolygon, wkb_polygon

SEED = 42
# bump when build_zones/build_document output changes — stale on-disk
# corpora (keyed only by sf) are rebuilt when the marker version differs
# v3: star-zone params_json carries the UNROUNDED ring coords (ADVICE r4:
# 6dp rounding let a params-rebuilt oracle classify points within ~1e-6
# of a star edge differently from the engine's exact-WKB ray cast)
# v4: INSERT spans embed deterministic block-definition closures
# (block_closures()) so C14' virtual-entity expansion is exercised —
# and gateable — on the synthetic corpus, not only on real ingests
# v5: payloads and params_json are written by functions.decode's
# canonical_dumps (orjson floats: 0.000073, -7e-6, not 7.3e-05, -7e-06)
CORPUS_VERSION = 5
EXTENT = 8192.0  # world is [0, EXTENT)^2 — power of two for the quadtree grid
HOT_FRACTION = 0.05
HOT_WINDOW = (1000.0, 1000.0, 1080.0, 1080.0)  # dense CAD sheet extent

# 28-layer pool incl. Russian names (mirrors reference fixture ex3)
LAYERS = [
    "Фундамент", "Отметки фундамента", "Стены", "Перекрытия", "Кровля",
    "Оси", "Размеры", "Текст", "Арматура", "Колонны", "Балки", "Лестницы",
    "Окна", "Двери", "Сети_Водопровод", "Сети_Канализация", "Сети_Отопление",
    "Электрика", "Вентиляция", "Благоустройство", "Дороги", "Газоны",
    "walls_ext", "annotation", "dims-aux", "0", "Defpoints", "TITLE_BLOCK",
]

ENTITY_WEIGHTS = [
    ("TEXT", 0.30), ("POINT", 0.25), ("LWPOLYLINE", 0.15), ("CIRCLE", 0.08),
    ("INSERT", 0.06), ("LINE", 0.05), ("ARC", 0.04), ("SPLINE", 0.02),
    ("MULTILEADER", 0.01), ("HATCH", 0.01),
    # long tail
    ("ELLIPSE", 0.005), ("LEADER", 0.005), ("3DFACE", 0.004), ("SOLID", 0.004),
    ("TRACE", 0.002), ("RAY", 0.002), ("XLINE", 0.002), ("HELIX", 0.002),
    ("VIEWPORT", 0.002), ("IMAGE", 0.002), ("SHAPE", 0.002), ("MESH", 0.002),
    ("3DSOLID", 0.002), ("DIMENSION", 0.002), ("MTEXT", 0.01), ("ATTRIB", 0.002),
    ("POLYLINE", 0.01), ("IMAGEDEF", 0.001), ("WIPEOUT", 0.001),
]

TEXT_WORDS_EN = ["foundation", "mark", "level", "axis", "beam", "column",
                 "slab", "detail", "section", "view", "scale", "note",
                 "rebar", "concrete", "steel", "grade", "bolt", "weld"]
TEXT_WORDS_RU = ["отметка", "фундамент", "уровень", "ось", "балка", "колонна",
                 "плита", "узел", "разрез", "вид", "масштаб", "примечание",
                 "арматура", "бетон", "сталь", "класс", "болт", "шов"]

BLOCK_NAMES = ["DOOR", "WINDOW", "BOLT_M12", "FRAME_A", "FRAME_B", "TREE", "NORTH_ARROW"]

_BLOCK_CLOSURES: dict[str, list] | None = None


def block_closures() -> dict[str, list]:
    """Deterministic block-definition closures for the corpus' INSERTs,
    serialized through the REAL ingest serializer
    (sources.dxf_files.serialize_block_entities) so each payload is
    byte-identical to what a real-file ingest of the same blocks embeds
    (dxf_reader.py:369-424 contract) — and therefore a fixed point of
    the FILE-export → tag-parse → re-serialize chain the round-trip
    gates exercise. Content (v4):

    - DOOR: LINE (BYBLOCK color) + quarter-circle ARC swing
    - WINDOW: closed LWPOLYLINE sill rectangle
    - BOLT_M12: CIRCLE + nested INSERT(HEX_NUT → closed LWPOLYLINE) —
      a depth-2 closure on every BOLT_M12 insert
    - FRAME_A: LWPOLYLINE border + TEXT label
    - FRAME_B: INSERT(FRAME_A, scaled/rotated) + LINE diagonal — nesting
      through a name that is itself in BLOCK_NAMES
    - NORTH_ARROW: SOLID triangle + TEXT 'N' with BYBLOCK color
    - TREE: intentionally UNDEFINED → empty closure (the unresolved-
      block path stays live in the corpus)
    """
    global _BLOCK_CLOSURES
    if _BLOCK_CLOSURES is None:
        # lazy: dxf_files imports corpus for the span schema
        from .sources.dxf_files import serialize_block_entities
        from .sources.dxf_parser import _COLLECTION_KEYS

        def t(etype, snapshot, handle, layer="0"):
            snapshot = dict(snapshot, layer=layer)
            dxfattribs = {k: v for k, v in snapshot.items()
                          if k not in _COLLECTION_KEYS}
            return (etype, dxfattribs, snapshot, handle, layer)

        defs = {
            "DOOR": [
                t("LINE", {"start": [0.0, 0.0, 0.0], "end": [0.9, 0.0, 0.0],
                           "color": 0}, "B01"),
                t("ARC", {"center": [0.0, 0.0, 0.0], "radius": 0.9,
                          "start_angle": 0.0, "end_angle": 90.0}, "B02"),
            ],
            "WINDOW": [
                t("LWPOLYLINE", {"points": [[0.0, 0.0, 0.0, 0.0, 0.0],
                                            [1.2, 0.0, 0.0, 0.0, 0.0],
                                            [1.2, 0.1, 0.0, 0.0, 0.0],
                                            [0.0, 0.1, 0.0, 0.0, 0.0]],
                                 "is_closed": True, "elevation": 0.0,
                                 "const_width": 0.0}, "B03"),
            ],
            "BOLT_M12": [
                t("CIRCLE", {"center": [0.0, 0.0, 0.0], "radius": 0.6},
                  "B04"),
                t("INSERT", {"insert": [0.0, 0.0, 0.0], "name": "HEX_NUT",
                             "xscale": 1.0, "yscale": 1.0, "zscale": 1.0,
                             "rotation": 30.0}, "B05"),
            ],
            "HEX_NUT": [
                t("LWPOLYLINE", {"points": [[1.0, 0.0, 0.0, 0.0, 0.0],
                                            [0.5, 0.875, 0.0, 0.0, 0.0],
                                            [-0.5, 0.875, 0.0, 0.0, 0.0],
                                            [-1.0, 0.0, 0.0, 0.0, 0.0],
                                            [-0.5, -0.875, 0.0, 0.0, 0.0],
                                            [0.5, -0.875, 0.0, 0.0, 0.0]],
                                 "is_closed": True, "elevation": 0.0,
                                 "const_width": 0.0}, "B06"),
            ],
            "FRAME_A": [
                t("LWPOLYLINE", {"points": [[0.0, 0.0, 0.0, 0.0, 0.0],
                                            [10.0, 0.0, 0.0, 0.0, 0.0],
                                            [10.0, 7.0, 0.0, 0.0, 0.0],
                                            [0.0, 7.0, 0.0, 0.0, 0.0]],
                                 "is_closed": True, "elevation": 0.0,
                                 "const_width": 0.0}, "B07"),
                t("TEXT", {"insert": [0.5, 0.5, 0.0], "text": "FRAME",
                           "height": 0.5, "rotation": 0.0, "oblique": 0.0,
                           "style": "Standard", "halign": 0, "valign": 0},
                  "B08"),
            ],
            "FRAME_B": [
                t("INSERT", {"insert": [1.0, 1.0, 0.0], "name": "FRAME_A",
                             "xscale": 0.8, "yscale": 0.8, "zscale": 1.0,
                             "rotation": 90.0}, "B09"),
                t("LINE", {"start": [0.0, 0.0, 0.0], "end": [10.0, 7.0, 0.0]},
                  "B0A"),
            ],
            "NORTH_ARROW": [
                t("SOLID", {"vtx0": [-0.2, 0.0, 0.0], "vtx1": [0.2, 0.0, 0.0],
                            "vtx2": [0.0, 1.0, 0.0], "vtx3": [0.0, 1.0, 0.0]},
                  "B0B"),
                t("TEXT", {"insert": [0.0, 1.1, 0.0], "text": "N",
                           "height": 0.3, "rotation": 0.0, "oblique": 0.0,
                           "style": "Standard", "halign": 0, "valign": 0,
                           "color": 0}, "B0C"),
            ],
        }
        _BLOCK_CLOSURES = {name: serialize_block_entities(name, defs)
                           for name in BLOCK_NAMES}
    return _BLOCK_CLOSURES

SPANS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("spans", T.ArrayType(T.StructType([
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]))),
])


def doc_id_for(index: int) -> str:
    """Deterministic UUID-like id from row index."""
    return str(uuid.UUID(int=(index * 0x9E3779B97F4A7C15 + SEED) % (1 << 128)))


def canonical_media_ref(etype, name, handle, layer, attributes, geometries, extra_data) -> str:
    """THE canonical payload: the seven keys through canonical_dumps, the
    serializer the rebuild writes with too, so span sequences round-trip
    byte-exact."""
    return canonical_dumps({
        "attributes": attributes,
        "entity_type": etype,
        "extra_data": extra_data,
        "geometries": geometries,
        "handle": handle,
        "layer": layer,
        "name": name,
    })


def _rnd_pt(rng, lo, hi, z_scale=10.0):
    return [round(float(rng.uniform(lo[0], hi[0])), 6),
            round(float(rng.uniform(lo[1], hi[1])), 6),
            round(float(rng.uniform(0, z_scale)), 6)]


def _make_geometries(rng: np.random.Generator, etype: str, lo, hi) -> dict:
    """Per-type geometry dict per FIXTURES.md §2 (dxf_reader.py extractors)."""
    p = lambda: _rnd_pt(rng, lo, hi)
    r = lambda a, b: round(float(rng.uniform(a, b)), 6)
    if etype == "POINT":
        return {"location": p()}
    if etype == "LINE":
        return {"start": p(), "end": p()}
    if etype in ("POLYLINE",):
        n = int(rng.integers(2, 9))
        return {"points": [p() for _ in range(n)], "is_closed": bool(rng.random() < 0.4)}
    if etype == "LWPOLYLINE":
        n = int(rng.integers(2, 11))
        pts = [[*_rnd_pt(rng, lo, hi)[:2], r(0, 2), r(0, 2), r(-1, 1)] for _ in range(n)]
        return {"points": pts, "is_closed": bool(rng.random() < 0.5),
                "elevation": r(0, 5), "const_width": r(0, 1)}
    if etype == "CIRCLE":
        return {"center": p(), "radius": r(0.5, 50)}
    if etype == "ARC":
        return {"center": p(), "radius": r(0.5, 50),
                "start_angle": r(0, 360), "end_angle": r(0, 360)}
    if etype == "ELLIPSE":
        return {"center": p(), "major_axis": [r(1, 40), r(1, 40), 0.0],
                "ratio": r(0.1, 1.0), "start_param": r(0, 3),
                "end_param": r(3, 6.283), "extrusion": [0.0, 0.0, 1.0]}
    if etype == "SPLINE":
        n = int(rng.integers(4, 13))
        return {"points": [p() for _ in range(n)], "degree": int(rng.integers(2, 4))}
    if etype in ("TEXT", "MTEXT"):
        return {"insert": p(), "text": _rnd_text(rng), "height": r(1, 10),
                "rotation": r(0, 360), "color": int(rng.integers(0, 257)),
                "true_color": None, "transparency": None}
    if etype == "ATTRIB":
        return {"insert": p(), "tag": f"TAG{int(rng.integers(0, 20))}",
                "text": _rnd_text(rng), "color": int(rng.integers(0, 257)),
                "true_color": None, "transparency": None}
    if etype == "INSERT":
        nat = int(rng.integers(0, 4))
        return {"insert": p(), "name": str(rng.choice(BLOCK_NAMES)),
                "xscale": r(0.5, 3), "yscale": r(0.5, 3), "zscale": 1.0,
                "rotation": r(0, 360),
                "insert_attribs": [
                    {"tag": f"TAG{int(rng.integers(0, 20))}", "text": _rnd_text(rng),
                     "insert": p(), "height": r(1, 5), "rotation": r(0, 360),
                     "layer": "0", "color": int(rng.integers(0, 257))}
                    for _ in range(nat)]}
    if etype == "MULTILEADER":
        nl = int(rng.integers(1, 4))
        return {"text": _rnd_text(rng), "base_point": p(),
                "leader_lines": [[p() for _ in range(int(rng.integers(2, 5)))] for _ in range(nl)],
                "leader_properties": [
                    {"attachment_direction": int(rng.integers(0, 2)),
                     "dogleg_length": r(0, 10),
                     "dogleg_vector": [1.0, 0.0, 0.0]} for _ in range(nl)],
                "char_height": r(1, 6), "rotation": r(0, 360)}
    if etype in ("3DFACE", "SOLID", "TRACE"):
        v0, v1, v2 = p(), p(), p()
        v3 = list(v0) if rng.random() < 0.3 else p()  # 30% triangles
        return {"vtx0": v0, "vtx1": v1, "vtx2": v2, "vtx3": v3}
    if etype == "HATCH":
        nb = int(rng.integers(1, 4))
        boundaries = [[p() for _ in range(int(rng.integers(3, 9)))] for _ in range(nb)]
        paths = []
        for b in boundaries:
            if rng.random() < 0.7:
                paths.append({"path_type": "polyline", "is_closed": True,
                              "vertices": [q[:2] for q in b]})
            else:
                paths.append({"path_type": "edge", "edges": [
                    {"edge_type": "line", "start": b[i][:2], "end": b[i + 1][:2]}
                    for i in range(len(b) - 1)]})
        return {"boundaries": boundaries, "hatch_paths": paths,
                "pattern_name": str(rng.choice(["SOLID", "ANSI31", "CROSS"])),
                "solid_fill": bool(rng.random() < 0.5)}
    if etype == "LEADER":
        n = int(rng.integers(2, 6))
        return {"vertices": [p() for _ in range(n)], "text": _rnd_text(rng)}
    if etype in ("RAY", "XLINE"):
        ang = rng.uniform(0, 2 * math.pi)
        return {"start": p(), "unit_vector": [round(math.cos(ang), 6), round(math.sin(ang), 6), 0.0]}
    if etype == "HELIX":
        return {"base_point": p(), "axis_vector": [0.0, 0.0, 1.0],
                "radius": r(1, 20), "turns": int(rng.integers(1, 6)), "height": r(5, 50)}
    if etype == "VIEWPORT":
        return {"center": p(), "width": r(10, 200), "height": r(10, 200)}
    if etype == "IMAGE":
        return {"insert": p(), "u_pixel": [r(0, 1), 0.0, 0.0], "v_pixel": [0.0, r(0, 1), 0.0],
                "image_def_handle": f"{int(rng.integers(0, 1 << 24)):X}"}
    if etype == "IMAGEDEF":
        return {"filename": f"img_{int(rng.integers(0, 1000))}.png"}
    if etype == "SHAPE":
        return {"insert": p(), "name": f"SHP{int(rng.integers(0, 10))}", "size": r(1, 10)}
    if etype == "MESH":
        nv = int(rng.integers(4, 9))
        return {"vertices": [p() for _ in range(nv)],
                "faces": [[0, 1, 2], [1, 2, 3]]}
    if etype in ("3DSOLID", "BODY", "REGION"):
        return {"acis_data": f"ACIS:{int(rng.integers(0, 1 << 30))}"}
    return {}  # DIMENSION + stubs: attributes only


def _rnd_text(rng: np.random.Generator) -> str:
    pool = TEXT_WORDS_RU if rng.random() < 0.4 else TEXT_WORDS_EN
    n = int(rng.integers(1, 5))
    idx = rng.integers(0, len(pool), size=n)
    return " ".join(pool[i] for i in idx)


_TYPES = [t for t, _ in ENTITY_WEIGHTS]
_CUMW = np.cumsum([w for _, w in ENTITY_WEIGHTS])
_CUMW = _CUMW / _CUMW[-1]


def build_document(index: int) -> tuple[str, list]:
    """Pure function (seed, index) -> (doc_id, spans)."""
    rng = np.random.default_rng(np.random.PCG64(SEED * 1_000_003 + index))
    did = doc_id_for(index)
    n_spans = int(rng.integers(5, 201))
    hot = rng.random() < HOT_FRACTION
    if hot:
        lo = (HOT_WINDOW[0], HOT_WINDOW[1])
        hi = (HOT_WINDOW[2], HOT_WINDOW[3])
    else:
        cx, cy = rng.uniform(0, EXTENT - 400, size=2)
        lo, hi = (cx, cy), (cx + 400.0, cy + 400.0)
    n_layers = int(rng.integers(1, 9))
    layer_pool = [LAYERS[i] for i in rng.choice(len(LAYERS), size=n_layers, replace=False)]
    spans = []
    for off in range(n_spans):
        if rng.random() < 0.30:
            spans.append({"kind": "text", "text": _rnd_text(rng), "media_ref": "", "offset": off})
            continue
        etype = _TYPES[int(np.searchsorted(_CUMW, rng.random()))]
        layer = layer_pool[int(rng.integers(0, n_layers))]
        geoms = _make_geometries(rng, etype, lo, hi)
        handle = f"{(index << 20) + off:x}"
        attributes = {
            "color": int(rng.integers(0, 257)), "linetype": str(rng.choice(["BYLAYER", "CONTINUOUS", "DASHED"])),
            "lineweight": int(rng.choice([-1, 0, 13, 25, 50])), "ltscale": 1.0,
            "invisible": 0, "true_color": None, "transparency": None,
        }
        extra = {"dxftype": etype, "layer_name": layer}
        if etype == "INSERT":
            extra["block_name"] = geoms["name"]
            extra["block_entities"] = block_closures().get(geoms["name"], [])
        ref = canonical_media_ref(etype, f"{etype}_{off}", handle, layer, attributes, geoms, extra)
        spans.append({"kind": "media", "text": "", "media_ref": ref, "offset": off})
    return did, spans


def _gen_batches(batches):
    for pdf in batches:
        rows = [build_document(int(i)) for i in pdf["id"]]
        yield pd.DataFrame({"doc_id": [r[0] for r in rows], "spans": [r[1] for r in rows]})


def docs_for_sf(sf: float) -> int:
    return max(50, int(round(300_000 * sf)))


def generate_documents(spark: SparkSession, n_docs: int, num_partitions: int | None = None) -> DataFrame:
    num_partitions = num_partitions or max(8, spark.sparkContext.defaultParallelism * 2)
    return (
        spark.range(0, n_docs, numPartitions=min(num_partitions, n_docs))
        .mapInPandas(_gen_batches, schema=SPANS_SCHEMA)
    )


# ---------------------------------------------------------------------------
# layer styles — the TABLES-section analogue (ByLayer style fidelity)
# ---------------------------------------------------------------------------

LINETYPES = ["CONTINUOUS", "DASHED", "DOTTED", "DASHDOT", "CENTER"]

LAYER_STYLES_SCHEMA = ("layer string, layer_color int, layer_linetype string, "
                       "layer_lineweight int, layer_plot boolean")


def build_layer_styles() -> list[tuple]:
    """Deterministic per-layer style records — the DXF TABLES-section
    analogue the reference snapshots into each entity so ByLayer
    rendering survives reconstruction (dxf_reader.py:118-144
    layer_dxf_attribs; asserted by test_integration.py:915-954).
    Pure function of the LAYERS list: ACI color 1..255, a linetype from
    the fixed cycle, a lineweight step, a plot flag."""
    return [
        (name,
         (i * 37) % 255 + 1,
         LINETYPES[i % len(LINETYPES)],
         (i % 6) * 5 + 13,
         bool(i % 4))
        for i, name in enumerate(LAYERS)
    ]


def layer_styles(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(build_layer_styles(), LAYER_STYLES_SCHEMA)


# ---------------------------------------------------------------------------
# zones — polygon side for PIP joins (FIXTURES.md §3)
# ---------------------------------------------------------------------------

def build_zones() -> pd.DataFrame:
    rng = np.random.default_rng(np.random.PCG64(SEED + 777))
    rows = []

    def add(kind, name, ring, params):
        ring = np.asarray(ring, dtype=np.float64)
        if ring.shape[1] == 2:
            ring = np.hstack([ring, np.zeros((ring.shape[0], 1))])
        rows.append({
            "zone_id": f"z{len(rows):04d}", "kind": kind, "name": name,
            "xmin": float(ring[:, 0].min()), "ymin": float(ring[:, 1].min()),
            "xmax": float(ring[:, 0].max()), "ymax": float(ring[:, 1].max()),
            "geometry_wkb": wkb_polygon(ring),
            "params_json": canonical_dumps(params),
        })

    # 8x8 grid of rects over ~60% of the extent (staggered gaps)
    cell = EXTENT / 10.0
    for gx in range(8):
        for gy in range(8):
            if (gx + gy) % 3 == 2:
                continue
            x0 = gx * cell * 1.25 + 40.0
            y0 = gy * cell * 1.25 + 40.0
            x1, y1 = x0 + cell, y0 + cell
            add("rect", f"grid_{gx}_{gy}",
                [[x0, y0], [x1, y0], [x1, y1], [x0, y1]],
                {"xmin": x0, "ymin": y0, "xmax": x1, "ymax": y1})

    # circles (100-pt tessellation like the reference CIRCLE converter),
    # one pinned onto the hot window
    centers = [((HOT_WINDOW[0] + HOT_WINDOW[2]) / 2, (HOT_WINDOW[1] + HOT_WINDOW[3]) / 2, 120.0)]
    for _ in range(6):
        centers.append((float(rng.uniform(500, EXTENT - 500)), float(rng.uniform(500, EXTENT - 500)),
                        float(rng.uniform(100, 600))))
    for i, (cx, cy, r) in enumerate(centers):
        ring = tess.circle_points(cx, cy, 0.0, r)
        add("circle", f"circle_{i}", ring, {"cx": cx, "cy": cy, "r": r})

    # concave polygons (deterministic star-ish shapes)
    for i in range(5):
        cx, cy = float(rng.uniform(800, EXTENT - 800)), float(rng.uniform(800, EXTENT - 800))
        n = 10
        ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
        rad = np.where(np.arange(n) % 2 == 0, rng.uniform(300, 700), rng.uniform(80, 250))
        ring = np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)
        # params ring must carry the EXACT float64 coords that land in the
        # WKB (json round-trips doubles losslessly via repr) — the oracle
        # replica rebuilds the ring from params, and any rounding here is
        # a latent gate-parity mismatch for points within ~1 ulp of an edge
        add("poly", f"star_{i}", ring, {"cx": cx, "cy": cy,
                                        "ring": [[float(x), float(y)] for x, y in ring]})

    # holed polygons (axis-aligned rect with a rect hole) + a MultiPolygon
    # of two disjoint rects — VERDICT r3 item 2: the exact PIP refine must
    # handle interior rings and multi-part zones, and the gate corpus must
    # contain them so the oracle can catch an exterior-ring-only refine.
    # Axis-aligned so the DuckDB oracle is plain BETWEEN algebra: covered =
    # inside outer (inclusive) AND NOT strictly inside the hole (a point ON
    # the hole boundary belongs to the polygon — shapely covers).
    def rect_ring(x0, y0, x1, y1):
        return np.array([[x0, y0, 0.0], [x1, y0, 0.0], [x1, y1, 0.0],
                         [x0, y1, 0.0], [x0, y0, 0.0]])

    holed = [
        # one pinned over the hot window so the dense sheet exercises it
        (HOT_WINDOW[0] - 200.0, HOT_WINDOW[1] - 200.0,
         HOT_WINDOW[2] + 200.0, HOT_WINDOW[3] + 200.0,
         HOT_WINDOW[0] + 20.0, HOT_WINDOW[1] + 20.0,
         HOT_WINDOW[2] - 20.0, HOT_WINDOW[3] - 20.0),
        (3000.0, 3000.0, 4600.0, 4600.0, 3400.0, 3400.0, 4200.0, 4200.0),
    ]
    for i, (ox0, oy0, ox1, oy1, hx0, hy0, hx1, hy1) in enumerate(holed):
        rows.append({
            "zone_id": f"z{len(rows):04d}", "kind": "holed", "name": f"holed_{i}",
            "xmin": ox0, "ymin": oy0, "xmax": ox1, "ymax": oy1,
            "geometry_wkb": wkb_polygon(rect_ring(ox0, oy0, ox1, oy1),
                                        holes=[rect_ring(hx0, hy0, hx1, hy1)]),
            "params_json": canonical_dumps({"outer": [ox0, oy0, ox1, oy1],
                                            "hole": [hx0, hy0, hx1, hy1]}),
        })

    parts = [(5200.0, 700.0, 6000.0, 1500.0), (6400.0, 1900.0, 7200.0, 2700.0)]
    rows.append({
        "zone_id": f"z{len(rows):04d}", "kind": "multi", "name": "multi_0",
        "xmin": min(p[0] for p in parts), "ymin": min(p[1] for p in parts),
        "xmax": max(p[2] for p in parts), "ymax": max(p[3] for p in parts),
        "geometry_wkb": wkb_multipolygon([rect_ring(*p) for p in parts]),
        "params_json": canonical_dumps({"parts": [list(p) for p in parts]}),
    })
    return pd.DataFrame(rows)


ZONES_SCHEMA = T.StructType([
    T.StructField("zone_id", T.StringType()),
    T.StructField("kind", T.StringType()),
    T.StructField("name", T.StringType()),
    T.StructField("xmin", T.DoubleType()),
    T.StructField("ymin", T.DoubleType()),
    T.StructField("xmax", T.DoubleType()),
    T.StructField("ymax", T.DoubleType()),
    T.StructField("geometry_wkb", T.BinaryType()),
    T.StructField("params_json", T.StringType()),
])


# ---------------------------------------------------------------------------
# on-disk cache
# ---------------------------------------------------------------------------

def _data_root() -> str:
    env = os.environ.get("SPARK_GRAFT_DATA_DIR")
    if env:
        return env
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if ".zip" in here:  # imported from spark-submit --py-files: no repo layout
        return os.path.join(os.getcwd(), "data", "corpus")
    return os.path.join(here, "data", "corpus")


REPO_DATA = _data_root()


def corpus_dir(sf: float) -> str:
    return os.path.join(REPO_DATA, f"sf{sf:g}")


def _promote(tmp: str, d: str) -> None:
    """Atomically publish a fully-built corpus dir (lost races discard
    their build — content is deterministic, so either copy is correct).

    A marker-less or stale-version existing dir (partial build left by a
    crashed run, or output of an older generator) is NOT a winner: clear
    it first so the fresh build can land; only discard tmp when the dir
    that beat us carries a CURRENT-version _COMPLETE."""
    import shutil

    if os.path.isdir(d) and not _marker_current(os.path.join(d, "_COMPLETE")):
        shutil.rmtree(d, ignore_errors=True)
    try:
        os.rename(tmp, d)
    except OSError:
        if _marker_current(os.path.join(d, "_COMPLETE")):
            shutil.rmtree(tmp, ignore_errors=True)  # lost a real race
        else:  # loser was partial/stale/vanished: replace it outright
            shutil.rmtree(d, ignore_errors=True)
            os.rename(tmp, d)


def _marker_current(marker: str) -> bool:
    """True when an on-disk corpus was built by THIS generator version —
    the cache is keyed only by sf, so generator changes must invalidate it."""
    try:
        with open(marker) as f:
            return f"version={CORPUS_VERSION}\n" in f.read()
    except OSError:
        return False


def ensure_corpus(spark: SparkSession, sf: float) -> str:
    """Generate (once) and return the corpus dir holding documents/ + zones/."""
    d = corpus_dir(sf)
    marker = os.path.join(d, "_COMPLETE")
    if not _marker_current(marker):
        tmp = f"{d}.tmp-{os.getpid()}"
        n = docs_for_sf(sf)
        generate_documents(spark, n).write.mode("overwrite").parquet(os.path.join(tmp, "documents"))
        spark.createDataFrame(build_zones(), schema=ZONES_SCHEMA) \
            .coalesce(1).write.mode("overwrite").parquet(os.path.join(tmp, "zones"))
        with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
            f.write(f"n_docs={n}\nseed={SEED}\nversion={CORPUS_VERSION}\n")
        _promote(tmp, d)
    return d


def ensure_corpus_local(sf: float) -> str:
    """Spark-free corpus generation (pyarrow writer) — same pure
    build_document/build_zones rows, so content is identical to the Spark
    path. Used by oracle_sql(), which may run before any SparkSession
    exists (the DuckDB side reads these parquet files directly)."""
    d = corpus_dir(sf)
    marker = os.path.join(d, "_COMPLETE")
    if _marker_current(marker):
        return d
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = f"{d}.tmp-{os.getpid()}"
    n = docs_for_sf(sf)
    rows = [build_document(i) for i in range(n)]
    span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32())])
    docs_t = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.string()),
        "spans": pa.array([r[1] for r in rows], pa.list_(span_t)),
    })
    os.makedirs(os.path.join(tmp, "documents"), exist_ok=True)
    pq.write_table(docs_t, os.path.join(tmp, "documents", "part-00000.parquet"))

    z = build_zones()
    zones_t = pa.table({
        "zone_id": pa.array(z["zone_id"], pa.string()),
        "kind": pa.array(z["kind"], pa.string()),
        "name": pa.array(z["name"], pa.string()),
        "xmin": pa.array(z["xmin"], pa.float64()),
        "ymin": pa.array(z["ymin"], pa.float64()),
        "xmax": pa.array(z["xmax"], pa.float64()),
        "ymax": pa.array(z["ymax"], pa.float64()),
        "geometry_wkb": pa.array(z["geometry_wkb"], pa.binary()),
        "params_json": pa.array(z["params_json"], pa.string()),
    })
    os.makedirs(os.path.join(tmp, "zones"), exist_ok=True)
    pq.write_table(zones_t, os.path.join(tmp, "zones", "part-00000.parquet"))
    with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
        f.write(f"n_docs={n}\nseed={SEED}\nversion={CORPUS_VERSION}\nwriter=pyarrow\n")
    _promote(tmp, d)
    return d


def load_documents(spark: SparkSession, sf: float) -> DataFrame:
    return spark.read.parquet(os.path.join(ensure_corpus(spark, sf), "documents"))


def load_zones(spark: SparkSession, sf: float) -> DataFrame:
    return spark.read.parquet(os.path.join(ensure_corpus(spark, sf), "zones"))

"""INSERT virtual-entity expansion — block contents placed into world
coordinates, the way ezdxf's Frontend draws an INSERT.

The reference serializes each INSERT with its recursively-resolved block
definition (dxf_reader.py:369-424: every payload carries
dxftype/attributes/geometries, nested INSERTs embed their own closure
with a recursion-path cycle guard) and its preview path hands the
drawing to the ezdxf ``drawing`` add-on, whose Frontend explodes INSERT
into the block's transformed virtual entities (dxf_reader.py:724-750).
Our decode keeps C14 parity (INSERT → its insert point, SURVEY §2.2);
this operator adds the Frontend side: every serialized block entity is
re-converted through the SAME scalar kernels the decode stage uses
(functions/decode._CONVERTERS) and its coordinates pushed through the
insert's placement transform.

Transform semantics (ezdxf ``Insert.matrix44()`` for the
rotation-about-Z case, which is all this engine's 2.5-D model carries):
scale (xscale, yscale, zscale) in block coordinates, then rotation
(degrees, CCW) about Z, then translation to the insert point —
``x' = tx + cosθ·sx·x − sinθ·sy·y``, ``y' = ty + sinθ·sx·x + cosθ·sy·y``,
``z' = tz + sz·z``. Nested INSERTs compose parent∘child. Block base
points are not captured by the ingest serialization (the reference's
isn't either — dxf_reader.py:369-424 stores entity payloads only), so
blocks are expanded about (0,0,0); text-bearing virtual entities
accumulate the composed rotation in ``extra_data.rotation`` so previews
orient glyphs correctly (exact when scales are uniform and
non-mirroring; documented approximation otherwise).

ByBlock resolution (ezdxf Frontend rule): a block entity whose ACI color
is 0 (BYBLOCK) or whose linetype is ``BYBLOCK`` inherits the value from
the *containing* INSERT — each nesting level resolves against its own
parent, so the substituted attributes downstream consumers (SVG styling,
ByLayer snapshots) see are already concrete.

Scale shape: the closure is EMBEDDED in each INSERT row's payload at
ingest, so expansion is one ``mapInArrow`` over the INSERT rows — zero
shuffles, zero driver actions, no join against a block-definition table;
the work distributes exactly like decode (tests pin the no-Exchange
plan). Depth is bounded by the ingest-time cycle guard plus
``max_depth`` here. A 10^12-row corpus expands INSERT rows only
(``entity_type = 'INSERT'`` filter is pushed to the scan).
"""

from __future__ import annotations

import math

import numpy as np
import orjson
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions.decode import _CONVERTERS, _encode, canonical_dumps

# entity kinds whose extra_data.rotation is a drawn orientation that the
# placement rotation must compose with (TEXT/MTEXT/ATTRIB glyph angle)
_ROTATED_TYPES = frozenset(("TEXT", "MTEXT", "ATTRIB"))

_ACI_BYBLOCK = 0


class _Xform:
    """2-D affine (rotation-about-Z ∘ anisotropic scale + translation)
    plus the z-axis linear map — closed under composition for the
    rotation-about-Z transforms DXF INSERT placement uses here."""

    __slots__ = ("m", "t", "sz", "tz", "rot")

    def __init__(self, m, t, sz, tz, rot):
        self.m, self.t, self.sz, self.tz, self.rot = m, t, sz, tz, rot

    @classmethod
    def identity(cls):
        return cls(np.eye(2), np.zeros(2), 1.0, 0.0, 0.0)

    @classmethod
    def from_insert(cls, geoms: dict):
        ins = geoms.get("insert") or (0.0, 0.0, 0.0)
        ix = float(ins[0]) if len(ins) > 0 else 0.0
        iy = float(ins[1]) if len(ins) > 1 else 0.0
        iz = float(ins[2]) if len(ins) > 2 else 0.0
        sx = float(geoms.get("xscale", 1.0) or 1.0)
        sy = float(geoms.get("yscale", 1.0) or 1.0)
        sz = float(geoms.get("zscale", 1.0) or 1.0)
        rot = float(geoms.get("rotation", 0.0) or 0.0)
        c, s = math.cos(math.radians(rot)), math.sin(math.radians(rot))
        # rotation @ scale: scale in block coords first, then rotate
        m = np.array([[c * sx, -s * sy], [s * sx, c * sy]])
        return cls(m, np.array([ix, iy]), sz, iz, rot)

    def compose(self, child: "_Xform") -> "_Xform":
        """self ∘ child — child applied first (block coords → parent
        coords), then self (parent coords → world)."""
        return _Xform(self.m @ child.m, self.m @ child.t + self.t,
                      self.sz * child.sz,
                      self.sz * child.tz + self.tz,
                      self.rot + child.rot)

    def apply(self, kind, coords):
        if kind is None or coords is None:
            return coords
        if kind == "point":
            x, y, z = coords
            p = self.m @ (x, y) + self.t
            return (float(p[0]), float(p[1]), self.sz * z + self.tz)
        if kind in ("line", "poly"):
            a = np.asarray(coords, dtype=np.float64)
            out = np.empty_like(a)
            out[:, :2] = a[:, :2] @ self.m.T + self.t
            out[:, 2] = a[:, 2] * self.sz + self.tz
            return out
        # mpoly: list of rings
        return [self.apply("poly", ring) for ring in coords]


def _inherit_byblock(attrs: dict, parent_attrs: dict) -> dict:
    """Resolve BYBLOCK color/linetype against the containing INSERT."""
    out = dict(attrs)
    if out.get("color") == _ACI_BYBLOCK:
        out["color"] = parent_attrs.get("color")
        if out.get("true_color") is None:
            out["true_color"] = parent_attrs.get("true_color")
    lt = out.get("linetype")
    if isinstance(lt, str) and lt.upper() == "BYBLOCK":
        out["linetype"] = parent_attrs.get("linetype")
    return out


def expand_payload(payload: dict, max_depth: int = 32) -> list[tuple]:
    """One decoded INSERT payload (data_json dict) → virtual-entity
    records ``(path, depth, entity_type, layer, wkb, geom_type,
    xmin, ymin, xmax, ymax, data_json, error)``.

    Pure function (unit-testable without Spark). Nested INSERTs
    contribute their contents, not a mark of their own — matching what
    the Frontend draws. Per-entity failures land in ``error`` exactly
    like decode: one bad block entity never kills the batch.
    """
    root_geoms = payload.get("geometries") or {}
    root_attrs = payload.get("attributes") or {}
    extra = payload.get("extra_data") or {}
    records: list[tuple] = []
    _walk(extra.get("block_entities") or [], _Xform.from_insert(root_geoms),
          root_attrs, "", 1, max_depth, records, payload.get("layer", ""))
    return records


def _fault(path: str, depth: int, etype: str, layer, error: str) -> tuple:
    """An expansion record with no geometry and an error message."""
    return (path, depth, etype, str(layer or ""),
            None, None, None, None, None, None, None, error)


def _walk(block_entities, xf: _Xform, parent_attrs: dict, path: str,
          depth: int, max_depth: int, out: list, insert_layer: str):
    if depth > max_depth:
        if block_entities:
            # no-silent-drops contract: trimming a non-empty closure must
            # leave an ERROR record, like the corrupt-payload path
            out.append(_fault(path, depth, "INSERT", insert_layer,
                              f"max_depth {max_depth} exceeded at {path!r}: "
                              f"{len(block_entities)} block entities not expanded"))
        return
    for i, be in enumerate(block_entities):
        p = f"{path}/{i}" if path else str(i)
        if not isinstance(be, dict):
            out.append(_fault(p, depth, "UNKNOWN", insert_layer,
                              f"block entity is not an object: "
                              f"{type(be).__name__}"))
            continue
        etype = str(be.get("dxftype", "UNKNOWN"))
        geoms = be.get("geometries") or {}
        try:
            # a malformed attributes map, or a nested INSERT's placement
            # or closure, faults this block entity only — never its
            # siblings or the top-level INSERT
            attrs = _inherit_byblock(be.get("attributes") or {}, parent_attrs)
            if etype == "INSERT":
                children = be.get("block_entities") or []
                if not isinstance(children, list):
                    raise TypeError("block_entities is not a list: "
                                    f"{type(children).__name__}")
                child_xf = xf.compose(_Xform.from_insert(geoms))
        except Exception as e:
            out.append(_fault(p, depth, "UNKNOWN", insert_layer,
                              f"{etype}: {type(e).__name__}: {e}"))
            continue
        if etype == "INSERT":
            _walk(children, child_xf, attrs, p, depth + 1, max_depth, out,
                  insert_layer)
            continue
        cv = _CONVERTERS.get(etype)
        error = None
        kind = coords = None
        new_extra = {k: v for k, v in be.items()
                     if k not in ("geometries", "attributes")}
        if cv is None:
            error = f"Unsupported entity type: {etype}"
        else:
            try:
                kind, coords, updates = cv(geoms)
                new_extra.update(updates)
                coords = xf.apply(kind, coords)
                if etype in _ROTATED_TYPES:
                    new_extra["rotation"] = \
                        float(new_extra.get("rotation") or 0.0) + xf.rot
            except Exception as e:  # same containment contract as decode
                kind = coords = None
                error = f"{etype}: {type(e).__name__}: {e}"
        wkb, gtype, bbox = _encode(kind, coords)
        layer = str(attrs.get("layer") or insert_layer or "")
        data = {
            "entity_type": etype,
            "name": "",
            "handle": p,
            "layer": layer,
            "attributes": attrs,
            "geometries": geoms,
            "extra_data": new_extra,
        }
        if bbox is None:
            bbox = (None, None, None, None)
        out.append((p, depth, etype, layer, wkb, gtype,
                    bbox[0], bbox[1], bbox[2], bbox[3], canonical_dumps(data),
                    error))


EXPANDED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("span_offset", T.IntegerType()),
    T.StructField("insert_handle", T.StringType()),
    T.StructField("block_path", T.StringType()),
    T.StructField("depth", T.IntegerType()),
    T.StructField("entity_type", T.StringType()),
    T.StructField("layer", T.StringType()),
    T.StructField("geometry_wkb", T.BinaryType()),
    T.StructField("geom_type", T.StringType()),
    T.StructField("xmin", T.DoubleType()),
    T.StructField("ymin", T.DoubleType()),
    T.StructField("xmax", T.DoubleType()),
    T.StructField("ymax", T.DoubleType()),
    T.StructField("data_json", T.StringType()),
    T.StructField("error", T.StringType()),
])


def _expand_batches(batches, max_depth: int):
    """mapInArrow body: the virtual entities of every INSERT row, rows
    entering and leaving as pyarrow RecordBatches (decode's idiom)."""
    import pyarrow as pa

    pa_schema = to_arrow_schema(EXPANDED_SCHEMA)
    for batch in batches:
        idx = batch.schema.get_field_index
        doc_ids = batch.column(idx("doc_id")).to_pylist()
        offsets = batch.column(idx("span_offset")).to_pylist()
        handles = batch.column(idx("handle")).to_pylist()
        # parse from BYTES (binary view of the string column), as decode
        # does; to_pylist() copies and gives None for nulls
        djs = batch.column(idx("data_json")).cast(pa.binary()).to_pylist()
        rows = []
        for doc_id, off, handle, dj in zip(doc_ids, offsets, handles, djs):
            if dj is None:
                continue  # decode already reported this row's error
            try:
                recs = expand_payload(orjson.loads(dj), max_depth=max_depth)
            except Exception as e:
                # same no-silent-drops contract as decode: a corrupt
                # payload yields an ERROR record, not a vanished insert
                rows.append((doc_id, off, handle, "", 0, "INSERT", "",
                             None, None, None, None, None, None, None,
                             f"INSERT payload unparseable: "
                             f"{type(e).__name__}: {e}"))
                continue
            for rec in recs:
                rows.append((doc_id, off, handle) + rec)
        if rows:
            yield pa.RecordBatch.from_arrays(
                [pa.array(col, f.type) for col, f in zip(zip(*rows), pa_schema)],
                schema=pa_schema)


def expand_inserts(entities: DataFrame, max_depth: int = 32) -> DataFrame:
    """Entities table → virtual entities of every INSERT row.

    One Arrow-batched ``mapInArrow`` over the INSERT rows; the
    ``entity_type`` filter and 4-column projection push to the scan, and
    the stage introduces no Exchange (pinned in tests/test_plans).
    """
    src = (entities
           .filter(F.col("entity_type") == "INSERT")
           .select("doc_id", "span_offset", "handle", "data_json"))
    return src.mapInArrow(
        lambda it: _expand_batches(it, max_depth), schema=EXPANDED_SCHEMA)

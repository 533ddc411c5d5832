"""The workloads as lists of operations over the package's public API.

Each operation is one closed-loop request: it runs the public calls of
one layer (or, for ingest, decode feeding the store writer) to a
collected result, and a check compares that result to the seed's oracle.
Checks read the result in the Spark driver only, so they launch no Spark job.

Every public call runs inside ``Layers.call(layer)``, which names the
Spark job group after the layer; the traced run folds stage metrics by
that name (see eventlog.py for the attribution rule).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from inputs import AREA_RULES, JACCARD, digest, dir_bytes, jaccard

from dxf_postgis_converter_spark.functions.decode import decode_documents, text_spans
from dxf_postgis_converter_spark.operators.area_selection import select_handles
from dxf_postgis_converter_spark.operators.dedup import minhash_lsh_pairs
from dxf_postgis_converter_spark.operators.insert_expand import expand_inserts
from dxf_postgis_converter_spark.operators.knn import knn_join
from dxf_postgis_converter_spark.operators.reconstruct import (
    reconstruct_documents, span_mismatches)
from dxf_postgis_converter_spark.operators.spatial_join import point_in_polygon_join
from dxf_postgis_converter_spark.operators.tiles import tile_pyramid_counts
from dxf_postgis_converter_spark.sources.entity_store import (
    read_entities, read_entities_bbox, write_entities)

IDLE_GROUP = "perfbench"


class Layers:
    """Job-group scoping and per-layer call counts for one session."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.calls: dict[str, int] = {}
        self.sc.setJobGroup(IDLE_GROUP, IDLE_GROUP)

    @contextmanager
    def call(self, layer: str, python: str | None = None):
        """Jobs launched inside belong to ``layer``; with ``python`` set,
        the stages of those jobs that run Python workers belong to that
        upstream lazy layer instead (eventlog.py)."""
        for name in filter(None, (layer, python)):
            self.calls[name] = self.calls.get(name, 0) + 1
        group = f"{layer}|{python}" if python else layer
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setJobGroup(IDLE_GROUP, IDLE_GROUP)


@dataclass
class Op:
    name: str
    run: Callable[[Layers], object]
    check: Callable[[object], bool]


@dataclass
class Workload:
    ops: list[Op]          # one pass = each op once, in this order
    docs_per_op: int
    geoms_per_op: int
    stored_bytes: int
    input_bytes: int
    n_errors: int          # decode error rows in the table the ops read or write


def register(spark, man: dict, store: dict | None) -> dict:
    """Input registration (part of set-up): open the workload's inputs.
    Opening the store lists its partitions once; the ops' own
    ``read_entities`` calls then hit Spark's file-status cache."""
    dfs = {"docs": spark.read.parquet(man["docs_dir"])}
    if store is not None:
        d = man["dir"]
        dfs.update(zones=spark.read.parquet(os.path.join(d, "zones")),
                   probes=spark.read.parquet(os.path.join(d, "probes.parquet")),
                   texts=spark.read.parquet(os.path.join(d, "texts.parquet")),
                   store=read_entities(spark, store["path"]))
    return dfs


def _points(ents):
    return ents.filter(F.col("entity_type") == "POINT").select(
        "doc_id", "handle", F.col("xmin").alias("x"), F.col("ymin").alias("y"))


def _rows_digest(rows) -> dict:
    return digest(tuple(r) for r in rows)


def ingest(spark, dfs, man, store, work) -> Workload:
    out = os.path.join(work, "ingest_out")
    sample = man["oracle"]["wkb_sample"]

    def run(lay):
        with lay.call("entity_store", python="decode"):
            write_entities(decode_documents(dfs["docs"], keep_media_ref=False), out)

    def check(_):
        t = pq.read_table(out, columns=["handle", "geometry_wkb", "error"])
        # geometry count, size and errors are those of the table just written
        wl.geoms_per_op = t.num_rows - t["geometry_wkb"].null_count
        wl.n_errors = t.num_rows - t["error"].null_count
        wl.stored_bytes = dir_bytes(out)
        s = t.filter(pc.is_in(t["handle"], value_set=pa.array(list(sample), pa.string())))
        wkb = {h: (w or b"").hex() for h, w in zip(s["handle"].to_pylist(),
                                                  s["geometry_wkb"].to_pylist())}
        return t.num_rows == man["n_media"] and wkb == sample

    wl = Workload([Op("ingest", run, check)], man["n_docs"], 0, 0, man["input_bytes"], 0)
    return wl


def _query_ops(spark, dfs, man, store) -> list[Op]:
    """Spatial queries: joins, kNN and scans with little Python."""
    path, zones, orc = store["path"], dfs["zones"], store["oracle"]
    morc = man["oracle"]

    def points(lay):
        with lay.call("entity_store"):
            return _points(read_entities(spark, path))

    def pip(**kw):
        def run(lay):
            pts = points(lay)
            with lay.call("spatial_join"):
                return point_in_polygon_join(pts, zones, res=6, **kw) \
                    .groupBy("zone_id").count().collect()
        return run

    def knn(lay):
        pts = points(lay)
        targets = pts.select(F.col("handle").alias("target_id"), "x", "y")
        with lay.call("knn"):
            return knn_join(dfs["probes"], targets, k=5, res=7) \
                .select("probe_id", "target_id", "rank").collect()

    def tiles(lay):
        with lay.call("entity_store"):
            ents = read_entities(spark, path).filter(F.col("xmin").isNotNull())
        with lay.call("tiles"):
            return tile_pyramid_counts(ents, z_max=8, z_min=4).collect()

    area_pass = [0]

    def area(lay):
        """One rule per pass (inside, intersect, outside, ...), applied to
        the seed's rectangle, circle and polygon."""
        rule = AREA_RULES[area_pass[0] % len(AREA_RULES)]
        area_pass[0] += 1
        out = []
        for i, (shape, r, args) in enumerate(man["area"]):
            if r != rule:
                continue
            with lay.call("entity_store"):
                # the store partitions by bbox-centre cell, so only "inside"
                # selections (whose centres lie in the shape's bbox) can prune
                if rule == "inside":
                    ents = read_entities_bbox(spark, path, *_shape_bbox(shape, args))
                else:
                    ents = read_entities(spark, path)
            with lay.call("area_selection"):
                out.append((i, select_handles(ents.filter(F.col("xmin").isNotNull()),
                                              shape, rule, _shape_args(shape, args)).collect()))
        return out

    bbox_i = [0]

    def bbox(lay):
        i = bbox_i[0] % len(man["bbox"])
        bbox_i[0] += 1
        with lay.call("entity_store"):
            return i, read_entities_bbox(spark, path, *man["bbox"][i]).count()

    return [
        Op("pip_broadcast", pip(), lambda r: _rows_digest(r) == morc["pip"]),
        Op("pip_salted", pip(broadcast_zones=False, n_salt=8),
           lambda r: _rows_digest(r) == morc["pip"]),
        Op("knn", knn, lambda r: _rows_digest(r) == morc["knn"]),
        Op("tiles", tiles, lambda r: _rows_digest(r) == orc["tiles"]),
        Op("area", area, lambda r: all(_rows_digest(rows) == orc["area"][i] for i, rows in r)),
        Op("bbox", bbox, lambda r: orc["bbox"][r[0]][0] <= r[1] <= orc["bbox"][r[0]][1]),
    ]


def _shape_args(shape, args):
    if shape == "rectangle":
        return tuple(args)
    if shape == "circle":
        return (tuple(args[0]), args[1])
    return (args[0],)


def _shape_bbox(shape, args):
    if shape == "rectangle":
        x0, x1, y0, y1 = args
        return x0, y0, x1, y1
    if shape == "circle":
        (cx, cy), r = args
        return cx - r, cy - r, cx + r, cy + r
    ring = np.asarray(args[0])
    return (*ring.min(axis=0).tolist(), *ring.max(axis=0).tolist())


def _roundtrip_ops(spark, dfs, man, store) -> list[Op]:
    """Rebuild path: Python in the serialising direction, shuffles and
    checkpointed operators."""
    path, docs, orc = store["path"], dfs["docs"], man["oracle"]
    planted = {tuple(p) for p in orc["planted"]}
    texts = pq.read_table(os.path.join(man["dir"], "texts.parquet")).to_pydict()
    texts = dict(zip(texts["doc_id"], texts["text"]))

    def entities(lay):
        with lay.call("entity_store"):
            return read_entities(spark, path)

    def rebuild(lay):
        ents = entities(lay)
        with lay.call("reconstruct"):
            rebuilt = reconstruct_documents(ents, text_spans(docs))
            return span_mismatches(docs, rebuilt).count()

    def expand(lay):
        ents = entities(lay)
        with lay.call("insert_expand"):
            return expand_inserts(ents).groupBy("insert_handle").count().collect()

    def dedup(lay):
        with lay.call("dedup"):
            return minhash_lsh_pairs(dfs["texts"], num_hashes=64, bands=16,
                                     jaccard_threshold=JACCARD) \
                .select("id_a", "id_b").collect()

    def dedup_ok(rows):
        found = {tuple(r) for r in rows}
        return planted <= found and all(
            jaccard(texts[a], texts[b]) >= JACCARD - 1e-6 for a, b in found)

    return [
        Op("reconstruct", rebuild, lambda n: n == 0),
        Op("insert_expand", expand, lambda r: _rows_digest(r) == orc["inserts"]),
        Op("dedup", dedup, dedup_ok),
    ]


def read(spark, dfs, man, store, work) -> Workload:
    """Everything that reads the stored table: the spatial queries, then
    the rebuild path."""
    ops = _query_ops(spark, dfs, man, store) + _roundtrip_ops(spark, dfs, man, store)
    return Workload(ops, man["n_docs"], store["n_geoms"], store["stored_bytes"],
                    man["input_bytes"], store["n_errors"])


WORKLOADS = {"ingest": ingest, "read": read}

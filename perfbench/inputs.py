"""Seeded benchmark inputs and their output oracles, cached on disk.

The documents are the package's own deterministic ``corpus.build_document``
rows. A pool of the first ``POOL_DOCS`` indices is generated once per
checkout with ``spark.range(...).mapInPandas(corpus._gen_batches, ...)``.
``ingest`` reads the window ``[lo, lo + n)`` of that pool with ``lo`` drawn
from ``numpy.random.default_rng(seed)``; ``read`` reads the entity store
that the code under test writes from the fixed window ``[0, n)``, built
once per package source hash. Zones are
``corpus.build_zones()``. Everything else a workload needs (kNN probes,
area shapes, bbox windows, planted near-duplicate texts) is drawn from
the seed's generator. Generation is never timed.

Oracles are computed with numpy, independently of the operators they
check, from the generator's payloads or, for tile counts, area
selections and bbox windows, from the stored entity bounding boxes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import struct

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

POOL_DOCS = 4000
KNN_PROBES = 2000
KNN_K = 5
N_PLANTED = 8
JACCARD = 0.7
TILE_Z = (4, 8)
EXTENT = 8192.0
AREA_SHAPES = ("rectangle", "circle", "polygon")
AREA_RULES = ("inside", "intersect", "outside")  # the per-pass rule order
N_BBOX = 4
# area shapes and bbox windows have a fixed size and a seeded position, so
# every seed's queries cover about the same number of entities
SHAPE_R = 1000.0
WINDOW_HALF = 600.0


def digest(rows) -> dict:
    """Count + order-independent digest of an iterable of tuples."""
    lines = sorted(json.dumps(list(r), separators=(",", ":")) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return {"n": len(lines), "sha": h}


def source_hash(pkg_dir: str) -> str:
    """Hash of every .py file of the package: the store cache key."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(pkg_dir):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, pkg_dir).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files
               if not f.startswith((".", "_")))


def _publish(tmp: str, final: str) -> None:
    if os.path.isdir(final):
        shutil.rmtree(tmp, ignore_errors=True)
    else:
        os.rename(tmp, final)


def _load(d: str) -> dict | None:
    try:
        with open(os.path.join(d, "manifest.json")) as f:
            return json.load(f)
    except OSError:
        return None


# --- geometry helpers (independent of the package's predicates) -------------

def _wkb_rings(buf: bytes) -> list[np.ndarray]:
    """All rings of a little-endian POLYGON Z / MULTIPOLYGON Z WKB."""
    rings, pos = [], 0

    def polygon(pos):
        _, code, nr = struct.unpack_from("<BII", buf, pos)
        pos += 9
        for _ in range(nr):
            (n,) = struct.unpack_from("<I", buf, pos)
            pos += 4
            rings.append(np.frombuffer(buf, "<f8", n * 3, pos).reshape(n, 3)[:, :2])
            pos += 24 * n
        return pos

    _, code = struct.unpack_from("<BI", buf, pos)
    if code == 1006:
        (ng,) = struct.unpack_from("<I", buf, 5)
        pos = 9
        for _ in range(ng):
            pos = polygon(pos)
    else:
        polygon(pos)
    return rings


def _crossings(px, py, ring) -> np.ndarray:
    """Per-point count of ring edges crossed by a ray towards +x."""
    x1, y1 = ring[:, 0], ring[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    out = np.zeros(len(px), dtype=np.int64)
    for a, b, c, d in zip(x1, y1, x2, y2):
        if b == d:
            continue
        straddle = (py < b) != (py < d)
        xi = a + (py - b) * (c - a) / (d - b)
        out += straddle & (px < xi)
    return out


def _points_in_zone(px, py, wkb: bytes) -> np.ndarray:
    """Even-odd containment over all rings; parts of a multipolygon are
    disjoint, so the even-odd rule covers them too."""
    total = np.zeros(len(px), dtype=np.int64)
    for ring in _wkb_rings(wkb):
        total += _crossings(px, py, ring)
    return total % 2 == 1


def _convex_inside(ring, x0, y0, x1, y1):
    """bbox inside a convex CCW polygon ⟺ all four corners inside."""
    ok = np.ones(len(x0), dtype=bool)
    for cx, cy in ((x0, y0), (x1, y0), (x1, y1), (x0, y1)):
        for (ax, ay), (bx, by) in zip(ring, np.roll(ring, -1, axis=0)):
            ok &= (bx - ax) * (cy - ay) - (by - ay) * (cx - ax) >= 0
    return ok


def _convex_overlap(ring, x0, y0, x1, y1):
    """Separating-axis test between each bbox and a convex polygon."""
    sep = (x1 < ring[:, 0].min()) | (x0 > ring[:, 0].max()) \
        | (y1 < ring[:, 1].min()) | (y0 > ring[:, 1].max())
    for (ax, ay), (bx, by) in zip(ring, np.roll(ring, -1, axis=0)):
        nx, ny = by - ay, -(bx - ax)  # outward normal of a CCW edge
        lim = nx * ax + ny * ay
        corner_min = np.minimum(nx * x0, nx * x1) + np.minimum(ny * y0, ny * y1)
        sep |= corner_min > lim
    return ~sep


def area_mask(shape: str, rule: str, args, x0, y0, x1, y1) -> np.ndarray:
    """Oracle for select_handles over entity bboxes."""
    if shape == "rectangle":
        qx0, qx1, qy0, qy1 = args
        inside = (x0 >= qx0) & (x1 <= qx1) & (y0 >= qy0) & (y1 <= qy1)
        overlap = (x0 <= qx1) & (x1 >= qx0) & (y0 <= qy1) & (y1 >= qy0)
    elif shape == "circle":
        (cx, cy), r = args
        inside = np.ones(len(x0), dtype=bool)
        for px, py in ((x0, y0), (x1, y0), (x1, y1), (x0, y1)):
            inside &= (px - cx) ** 2 + (py - cy) ** 2 <= r * r
        qx, qy = np.clip(cx, x0, x1), np.clip(cy, y0, y1)
        overlap = (qx - cx) ** 2 + (qy - cy) ** 2 <= r * r
    else:
        ring = np.asarray(args[0], dtype=np.float64)
        inside = _convex_inside(ring, x0, y0, x1, y1)
        overlap = _convex_overlap(ring, x0, y0, x1, y1)
    return {"inside": inside, "intersect": overlap, "outside": ~overlap}[rule]


# --- seeded parameters ------------------------------------------------------

def _draw_shape(rng, shape: str):
    cx, cy = (float(v) for v in rng.uniform(1500, EXTENT - 1500, 2))
    r = SHAPE_R
    if shape == "rectangle":
        return [cx - r, cx + r, cy - 0.7 * r, cy + 0.7 * r]
    if shape == "circle":
        return [[cx, cy], r]
    n = int(rng.integers(3, 8))  # convex CCW polygon around (cx, cy)
    ang = np.sort(rng.uniform(0, 2 * np.pi, n)) + rng.uniform(0, 2 * np.pi)
    return [[[cx + r * float(np.cos(a)), cy + r * float(np.sin(a))] for a in ang]]


def _window(rng) -> list[float]:
    (cx, cy), w = rng.uniform(1000, EXTENT - 1000, 2), WINDOW_HALF
    return [float(cx) - w, float(cy) - w, float(cx) + w, float(cy) + w]


def _shingles(text: str) -> set:
    toks = " ".join(text.lower().split()).split(" ")
    if len(toks) < 3:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def _closure_leaves(entities) -> int:
    """Virtual entities an INSERT's embedded block closure expands to:
    nested INSERTs contribute their contents, not themselves."""
    return sum(_closure_leaves(e.get("block_entities") or [])
               if e.get("dxftype") == "INSERT" else 1 for e in entities)


def jaccard(a: str, b: str) -> float:
    """Exact word 3-shingle Jaccard after lower-casing and collapsing
    whitespace."""
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


# --- seed inputs ------------------------------------------------------------

def _ensure_pool(get_spark, work: str) -> str:
    """The corpus documents with indices [0, POOL_DOCS), generated once."""
    from dxf_postgis_converter_spark import corpus

    d = os.path.join(work, f"pool-{POOL_DOCS}-v{corpus.CORPUS_VERSION}")
    if not os.path.isdir(d):
        tmp = f"{d}.tmp-{os.getpid()}"
        spark = get_spark()
        spark.range(0, POOL_DOCS, numPartitions=4 * spark.sparkContext.defaultParallelism) \
            .mapInPandas(corpus._gen_batches, corpus.SPANS_SCHEMA) \
            .write.mode("overwrite").parquet(tmp)
        _publish(tmp, d)
    return d


def _ensure_window(get_spark, work: str, lo: int, n: int, cpus: int) -> str:
    """Pool documents [lo, lo + n) as an input table, written once."""
    from dxf_postgis_converter_spark import corpus

    d = os.path.join(work, "docs", f"d{lo}-n{n}-v{corpus.CORPUS_VERSION}")
    if not os.path.isdir(d):
        tmp = f"{d}.tmp-{os.getpid()}"
        ids = [corpus.doc_id_for(i) for i in range(lo, lo + n)]
        window = pq.read_table(_ensure_pool(get_spark, work), filters=[("doc_id", "in", ids)])
        os.makedirs(tmp)
        n_files = 2 * cpus  # one scan task per file
        for i, rows in enumerate(np.array_split(np.arange(window.num_rows), n_files)):
            pq.write_table(window.take(rows), os.path.join(tmp, f"part-{i:05d}.parquet"))
        _publish(tmp, d)
    return d


def ensure_inputs(get_spark, work: str, seed: int, n: int, cpus: int,
                  first: int | None = None) -> dict:
    """Generate (once) the seed's documents + derived inputs and oracles.
    The document window starts at a seeded pool offset, or at ``first``.
    ``get_spark()`` starts a session, called only to generate the pool.
    Returns the manifest: input paths, sizes, query parameters, oracles."""
    from dxf_postgis_converter_spark import corpus
    from dxf_postgis_converter_spark.functions.decode import convert_entity

    rng = np.random.default_rng(seed)
    lo = int(rng.integers(0, POOL_DOCS - n + 1))
    lo = lo if first is None else first
    d = os.path.join(work, "inputs", f"s{seed}-d{lo}-n{n}-v{corpus.CORPUS_VERSION}")
    man = _load(d)
    if man is not None:
        return dict(man, dir=d)
    tmp = f"{d}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    docs_dir = _ensure_window(get_spark, work, lo, n, cpus)
    zones = corpus.build_zones()
    os.makedirs(os.path.join(tmp, "zones"))
    pq.write_table(pa.Table.from_pandas(zones, preserve_index=False),
                   os.path.join(tmp, "zones", "part-0.parquet"))

    docs = pq.read_table(docs_dir).to_pylist()
    n_media, raw_bytes, points, inserts, payloads, texts = 0, 0, [], [], [], []
    for doc in docs:
        words = []
        for sp in sorted(doc["spans"], key=lambda s: s["offset"]):
            raw_bytes += len(sp["text"].encode()) + len(sp["media_ref"].encode())
            if sp["kind"] != "media":
                words.append(sp["text"])
                continue
            n_media += 1
            p = json.loads(sp["media_ref"])
            payloads.append(sp["media_ref"])
            if p["entity_type"] == "POINT":
                x, y = p["geometries"]["location"][:2]
                points.append((p["handle"], x, y))
            elif p["entity_type"] == "INSERT":
                leaves = _closure_leaves(p["extra_data"].get("block_entities") or [])
                if leaves:
                    inserts.append((p["handle"], leaves))
        texts.append((doc["doc_id"], " ".join(words)))

    # ingest: seeded payload sample whose WKB the store must carry verbatim
    sample = [json.loads(payloads[i]) for i in
              sorted(rng.choice(len(payloads), min(64, len(payloads)), replace=False))]
    wkb_sample = {p["handle"]: (convert_entity(p)["geometry_wkb"] or b"").hex()
                  for p in sample}

    # query: PIP per-zone counts over every stored POINT (generator coords)
    ph = np.array([p[0] for p in points])
    px = np.array([p[1] for p in points], dtype=np.float64)
    py = np.array([p[2] for p in points], dtype=np.float64)
    pip = [(z, int(_points_in_zone(px, py, bytes(w)).sum()))
           for z, w in zip(zones["zone_id"], zones["geometry_wkb"])]
    pip = [r for r in pip if r[1]]

    # query: kNN top-k by (dist, target_id) for seeded probes, brute force
    pick = np.sort(rng.choice(len(points), min(KNN_PROBES, len(points)), replace=False))
    order = np.argsort(ph, kind="stable")  # ties break on target_id
    th, tx, ty = ph[order], px[order], py[order]
    knn = []
    for i in pick:
        dist = np.sqrt((tx - px[i]) ** 2 + (ty - py[i]) ** 2)
        near = np.argpartition(dist, KNN_K + 3)[:KNN_K + 4]
        top = near[np.lexsort((near, dist[near]))][:KNN_K]
        knn += [(str(ph[i]), str(th[j]), r + 1) for r, j in enumerate(top)]
    pq.write_table(pa.table({"probe_id": ph[pick].tolist(), "x": px[pick], "y": py[pick]}),
                   os.path.join(tmp, "probes.parquet"))

    # roundtrip: texts with planted near-duplicates (one word replaced)
    long_docs = [i for i, (_, t) in enumerate(texts) if len(t.split()) >= 40]
    planted = []
    for i in rng.choice(long_docs, min(N_PLANTED, len(long_docs)), replace=False):
        did, text = texts[int(i)]
        toks = text.split()
        toks[int(rng.integers(0, len(toks)))] = "planted"
        texts.append((f"{did}~dup", " ".join(toks)))
        planted.append(sorted([did, f"{did}~dup"]))
    pq.write_table(pa.table({"doc_id": [t[0] for t in texts], "text": [t[1] for t in texts]}),
                   os.path.join(tmp, "texts.parquet"))

    man = {
        "seed": seed, "first_doc": lo, "n_docs": n, "docs_dir": docs_dir,
        "n_media": n_media, "n_points": len(points),
        "input_bytes": raw_bytes,  # span text + payload bytes, uncompressed
        "area": [[s, r, _draw_shape(rng, s)] for s in AREA_SHAPES for r in AREA_RULES],
        "bbox": [_window(rng) for _ in range(N_BBOX)],
        "oracle": {
            "wkb_sample": wkb_sample,
            "pip": digest(pip),
            "knn": digest(knn),
            "inserts": digest(inserts),
            "planted": planted,
        },
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(man, f)
    _publish(tmp, d)
    return dict(_load(d), dir=d)


def ensure_store(get_spark, work: str, man: dict, src_hash: str) -> dict:
    """Entity store that the code under test writes from the manifest's
    documents, built once per (document window, package source hash), plus
    the oracles derived from its bounding boxes (the seed's area shapes
    and bbox windows are checked against the same stored boxes)."""
    from dxf_postgis_converter_spark.functions.decode import decode_documents
    from dxf_postgis_converter_spark.sources.entity_store import write_entities

    d = os.path.join(work, "store", f"{src_hash}-d{man['first_doc']}-n{man['n_docs']}")
    path = os.path.join(d, "entities")
    if _load(d) is None:
        tmp = f"{d}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        docs = get_spark().read.parquet(man["docs_dir"])
        write_entities(decode_documents(docs, keep_media_ref=False),
                       os.path.join(tmp, "entities"))
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump({"stored_bytes": dir_bytes(os.path.join(tmp, "entities"))}, f)
        _publish(tmp, d)
    store = dict(_load(d), path=path)
    t = pq.read_table(path, columns=["handle", "xmin", "ymin", "xmax", "ymax", "error"])
    store["n_errors"] = t.num_rows - t["error"].null_count
    t = t.filter(pc.is_valid(t["xmin"]))
    h = np.array(t["handle"].to_pylist())
    x0, y0, x1, y1 = (t[c].to_numpy() for c in ("xmin", "ymin", "xmax", "ymax"))
    tiles = []
    for z in range(TILE_Z[0], TILE_Z[1] + 1):
        s = EXTENT / (1 << z)
        ix = np.clip(np.floor((x0 + x1) / 2 / s), 0, (1 << z) - 1).astype(np.int64)
        iy = np.clip(np.floor((y0 + y1) / 2 / s), 0, (1 << z) - 1).astype(np.int64)
        ids, counts = np.unique((z << 58) | (ix << 29) | iy, return_counts=True)
        tiles += zip(ids.tolist(), counts.tolist())
    area = [digest((v,) for v in set(h[area_mask(s, r, a, x0, y0, x1, y1)].tolist()))
            for s, r, a in man["area"]]
    # [fully inside, overlapping] per window: a bbox read must return
    # every entity inside the window and nothing that misses it
    bbox = [[int(((x0 >= b[0]) & (x1 <= b[2]) & (y0 >= b[1]) & (y1 <= b[3])).sum()),
             int(((x0 <= b[2]) & (x1 >= b[0]) & (y0 <= b[3]) & (y1 >= b[1])).sum())]
            for b in man["bbox"]]
    store.update(n_geoms=len(h), oracle={"tiles": digest(tiles), "area": area, "bbox": bbox})
    return store

"""Independent pure-Python replicas of the non-SQL-expressible operators,
used ONLY to generate value-level oracles (inlined as VALUES tables in
oracle_sql()). Each replica re-derives the operator's contract from its
spec — plain loops over plain ints/floats — rather than calling the Spark
implementation, so a bug in the distributed path cannot silently agree
with its own oracle. numpy appears only where the contract itself is
defined in terms of numpy's PRNG streams (synthetic assets, LSH planes).

Determinism requirements mirrored here:
- splitmix64 mixing and FNV-weighted byte windows (operators/dedup.py,
  functions/text.py) — reimplemented on Python ints mod 2^64;
- JVM fold arithmetic: Spark's aggregate() is a sequential left fold over
  IEEE doubles, so sums/dots here accumulate sequentially in order;
- Spark F.round(x, 6) is BigDecimal HALF_UP — replicated with decimal.
"""

from __future__ import annotations

import hashlib
from decimal import ROUND_HALF_UP, Decimal

_M = (1 << 64) - 1
_FNV = 1099511628211
_C = 0x9E3779B97F4A7C15
_M1 = 0xBF58476D1CE4E5B9
_M2 = 0x94D049BB133111EB


def round6(x: float) -> float:
    """Spark F.round(double, 6): Catalyst routes doubles through
    Decimal(Double.toString(v)) — the SHORTEST decimal representation —
    then setScale(6, HALF_UP). Decimal(repr(x)) reproduces that exactly;
    Decimal(x) (the exact binary expansion) does NOT: e.g. 0.1234565
    stores as 0.12345649999..., which exact-HALF_UP rounds DOWN while
    Spark rounds the shortest form UP (caught by test_replicas)."""
    return float(Decimal(repr(float(x))).quantize(
        Decimal("0.000001"), rounding=ROUND_HALF_UP))


def _splitmix(x: int) -> int:
    x = (x + _C) & _M
    x = ((x ^ (x >> 30)) * _M1) & _M
    x = ((x ^ (x >> 27)) * _M2) & _M
    return x ^ (x >> 31)


def _norm_text(text: str) -> str:
    return " ".join((text or "").lower().split())


# --- simhash (operators/dedup.py: _shingles + simhash_signatures) -----------

def char_shingle_hashes(text: str, n: int) -> set[int]:
    """Distinct splitmix-mixed FNV-weighted byte n-gram hashes of the
    normalized text (byte windows of the UTF-8 encoding, '_'-padded)."""
    t = _norm_text(text)
    if len(t) < n:
        t = t.ljust(n, "_")
    raw = t.encode("utf-8", "replace")
    if len(raw) < n:
        raw = raw + b"\x00" * (n - len(raw))
    w = [pow(_FNV, j, 1 << 64) for j in range(n)]
    out = set()
    for i in range(len(raw) - n + 1):
        s = 0
        for j in range(n):
            s += raw[i + j] * w[j]
        out.add(_splitmix(s & _M))
    return out


def simhash(text: str, shingle_n: int = 4) -> int:
    sh = char_shingle_hashes(text, shingle_n)
    m = len(sh)
    v = 0
    for b in range(64):
        c = sum(1 for h in sh if (h >> b) & 1)
        if 2 * c > m:
            v |= 1 << b
    return v & 0x7FFFFFFFFFFFFFFF


def simhash_pairs(docs: list[tuple[int, str]], max_hamming: int = 3,
                  shingle_n: int = 4) -> list[tuple[int, int, int]]:
    """All (id_a < id_b, hamming) with hamming(simhash) ≤ max_hamming —
    brute force over every pair (the 4-block pigeonhole in the Spark path
    is recall-complete for d ≤ 3, so its output equals this set)."""
    sigs = sorted((i, simhash(t, shingle_n)) for i, t in docs)
    out = []
    for x in range(len(sigs)):
        ia, sa = sigs[x]
        for y in range(x + 1, len(sigs)):
            ib, sb = sigs[y]
            h = (sa ^ sb).bit_count()
            if h <= max_hamming:
                out.append((ia, ib, h))
    return out


# --- winnowing fingerprints (functions/text.py) ------------------------------

def winnow_fingerprints(text: str, k: int = 5, window: int = 4) -> set[int]:
    """Rolling FNV-weighted k-gram hashes, two-step mix (NOT full
    splitmix — text.py stops after the first multiply), window-min
    selection, distinct, masked to 63 bits."""
    t = _norm_text(text)
    raw = t.encode("utf-8", "replace")
    if len(raw) < k:
        raw = raw + b"_" * (k - len(raw))
    w = [pow(_FNV, j, 1 << 64) for j in range(k)]
    hs = []
    for i in range(len(raw) - k + 1):
        s = 0
        for j in range(k):
            s += raw[i + j] * w[j]
        h = (s & _M) + _C & _M
        h = ((h ^ (h >> 30)) * _M1) & _M
        h = h ^ (h >> 31)
        hs.append(h)
    if len(hs) < window:
        sel = {min(hs)}
    else:
        sel = {min(hs[i:i + window]) for i in range(len(hs) - window + 1)}
    return {v & 0x7FFFFFFFFFFFFFFF for v in sel}


def shared_fingerprint_pairs(docs: list[tuple[int, str]], min_shared: int,
                             min_containment: float, k: int = 5,
                             window: int = 4) -> list[tuple[int, int, int, float]]:
    fps = {i: winnow_fingerprints(t, k, window) for i, t in docs}
    # candidate pairs via inverted index (same candidate rule as the join)
    inv: dict[int, list[int]] = {}
    for i, s in fps.items():
        for f in s:
            inv.setdefault(f, []).append(i)
    cand = set()
    for ids in inv.values():
        ids.sort()
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                cand.add((ids[x], ids[y]))
    out = []
    for ia, ib in sorted(cand):
        shared = len(fps[ia] & fps[ib])
        cont = round6(shared / min(len(fps[ia]), len(fps[ib])))
        if shared >= min_shared and cont >= min_containment:
            out.append((ia, ib, shared, cont))
    return out


# --- similarity search (operators/similarity.py) ------------------------------

def _fold_dot(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _fold_norm(a: list[float]) -> float:
    import math
    acc = 0.0
    for x in a:
        acc += x * x
    return math.sqrt(acc)


def _planes(dim: int, n_planes: int, seed: int):
    import numpy as np
    return np.random.default_rng(seed).standard_normal((n_planes, dim))


def _sig_bits(vec: list[float], planes) -> str:
    return "".join(
        "1" if _fold_dot(vec, [float(w) for w in p]) >= 0 else "0" for p in planes)


def _rerank_topk(cands: dict[int, tuple], queries: dict[int, list[float]],
                 pairs: set[tuple[int, int]], k: int):
    """Exact cosine rerank of candidate (query, vec) pairs: rank by
    (rounded cosine desc, vec_id) like the Spark window."""
    out = []
    for qid in sorted(queries):
        qv = queries[qid]
        qn = _fold_norm(qv)
        scored = []
        for (q2, vid) in pairs:
            if q2 != qid:
                continue
            v, en = cands[vid]
            cos = round6(_fold_dot(v, qv) / (en * qn))
            scored.append((-cos, vid, cos))
        scored.sort()
        for rank, (_, vid, cos) in enumerate(scored[:k], start=1):
            out.append((qid, vid, cos, rank))
    return out


def lsh_topk(emb: list[tuple[int, list[float]]], queries: list[tuple[int, list[float]]],
             k: int, n_planes: int = 8,
             seed: int = 1234) -> list[tuple[int, int, float, int]]:
    dim = len(emb[0][1])
    planes = _planes(dim, n_planes, seed)
    esig = {i: _sig_bits(v, planes) for i, v in emb}
    evec = {i: (v, _fold_norm(v)) for i, v in emb}
    pairs = set()
    for qid, qv in queries:
        s0 = _sig_bits(qv, planes)
        probes = {s0} | {s0[:i] + ("0" if s0[i] == "1" else "1") + s0[i + 1:]
                         for i in range(n_planes)}
        for vid, s in esig.items():
            if s in probes:
                pairs.add((qid, vid))
    return _rerank_topk(evec, dict(queries), pairs, k)


def _lloyd(sample, k: int, n_iter: int):
    """Verbatim mirror of operators.similarity._lloyd (deterministic
    Lloyd: init = first k sample rows, empty cluster keeps centroid)."""
    import numpy as np
    c = sample[:k].copy()
    for _ in range(n_iter):
        c_sq = (c ** 2).sum(axis=1)
        d2 = (sample ** 2).sum(axis=1)[:, None] - 2.0 * (sample @ c.T) + c_sq[None, :]
        assign = d2.argmin(axis=1)
        for j in range(k):
            members = sample[assign == j]
            if len(members):
                c[j] = members.mean(axis=0)
    return c


def ivf_topk(emb: list[tuple[int, list[float]]], queries: list[tuple[int, list[float]]],
             k: int, n_centroids: int = 16, n_probe: int = 4,
             sample_size: int = 2048, n_iter: int = 8):
    import numpy as np
    ids = sorted(emb, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]))
    sample = np.asarray([v for _, v in ids[:max(sample_size, n_centroids)]], dtype=np.float64)
    c = _lloyd(sample, n_centroids, n_iter)
    c_sq = (c ** 2).sum(axis=1)
    m = np.asarray([v for _, v in emb], dtype=np.float64)
    d2 = (m ** 2).sum(axis=1)[:, None] - 2.0 * (m @ c.T) + c_sq[None, :]
    assign = d2.argmin(axis=1)
    cells: dict[int, list[int]] = {}
    for (vid, _), cid in zip(emb, assign):
        cells.setdefault(int(cid), []).append(vid)
    evec = {i: (v, _fold_norm(v)) for i, v in emb}
    pairs = set()
    for qid, qv in queries:
        dq = ((c - np.asarray(qv, dtype=np.float64)) ** 2).sum(axis=1)
        for cid in np.argsort(dq, kind="stable")[:n_probe]:
            for vid in cells.get(int(cid), []):
                pairs.add((qid, vid))
    return _rerank_topk(evec, dict(queries), pairs, k)


def embedding_neardup_lsh(emb: list[tuple[int, list[float]]], threshold: float,
                          n_planes: int = 12, n_bands: int = 8,
                          seed: int = 1234, max_bucket: int = 1000):
    """BANDED LSH near-dup pairs + exact cosine verify (the scale path of
    operators/dedup.embedding_neardup_pairs): n_bands independent bands
    of n_planes hyperplanes drawn from ONE rng stream (rows b·r..(b+1)·r
    belong to band b — the operator slices the same matrix), per-band
    buckets larger than max_bucket degraded to star candidates against
    the bucket's min-id representative (r7: a giant true dup cluster
    collides in every band and must still surface), candidate pairs
    deduped across bands before the exact verify."""
    dim = len(emb[0][1])
    planes = _planes(dim, n_bands * n_planes, seed)
    evec = {i: (v, _fold_norm(v)) for i, v in emb}
    pairs: set[tuple[int, int]] = set()
    for bi in range(n_bands):
        band = planes[bi * n_planes:(bi + 1) * n_planes]
        buckets: dict[str, list[int]] = {}
        for i, v in emb:
            buckets.setdefault(_sig_bits(v, band), []).append(i)
        for ids in buckets.values():
            ids.sort()
            if len(ids) > max_bucket:
                rep = ids[0]
                for other in ids[1:]:
                    pairs.add((rep, other))
                continue
            for x in range(len(ids)):
                for y in range(x + 1, len(ids)):
                    pairs.add((ids[x], ids[y]))
    out = []
    for a, b in pairs:
        va, na = evec[a]
        vb, nb = evec[b]
        cos = round6(_fold_dot(va, vb) / (na * nb))
        if cos >= threshold:
            out.append((a, b, cos))
    return sorted(out)


# --- multimodal fake codec (functions/multimodal.py) --------------------------

def synthetic_asset_meta(i: int, seed: int = 42):
    """Replays the PRNG draw order of multimodal.synthetic_assets for one
    asset id: payload size → payload bytes → (width, height | not audio)
    → (duration_ms | not image)."""
    import numpy as np
    rng = np.random.default_rng(seed * 1_000_003 + int(i))
    kind = ("image", "audio", "video")[int(i) % 3]
    size = int(rng.integers(64, 512))
    payload = rng.integers(0, 256, size=size, dtype=np.uint8).tobytes()
    width = height = duration_ms = None
    if kind != "audio":
        width = int(rng.integers(16, 256))
        height = int(rng.integers(16, 256))
    if kind != "image":
        duration_ms = int(rng.integers(1000, 60000))
    return kind, payload, width, height, duration_ms


def _expected_pixels(i: int, payload: bytes, w: int, h: int):
    """Expected decoded raster of image asset i — derived from the SPEC,
    not the engine's codec: PNG-bearing assets (i % 9 == 0) carry the
    documented gradient formula pix[y,x,c] = (3x+7y+11c+i) mod 256 (the
    engine round-trips these through actual PNG encode/decode); the rest
    take the deterministic-fake path (blake2b-seeded PRNG stream)."""
    import numpy as np
    if i % 9 == 0:
        ys = np.arange(h, dtype=np.int64)[:, None, None]
        xs = np.arange(w, dtype=np.int64)[None, :, None]
        cs = np.arange(3, dtype=np.int64)[None, None, :]
        return ((3 * xs + 7 * ys + 11 * cs + i) % 256).astype(np.uint8)
    pix_seed = int.from_bytes(hashlib.blake2b(payload, digest_size=8).digest(), "big")
    return np.random.default_rng(pix_seed).integers(
        0, 256, size=(h, w, 3), dtype=np.uint8)


def image_feature_rows(n: int, dim: int = 64, seed: int = 42):
    """(asset_id, width, height, feat_sum) for every image asset in
    range(n): fake-decode (blake2b-seeded pixel stream), g×g channel-mean
    grid pool in float32, /255, then the JVM-fold sum rounded to 6 dp."""
    import numpy as np
    out = []
    g = int(dim ** 0.5)
    for i in range(n):
        kind, payload, w, h, _ = synthetic_asset_meta(i, seed)
        if kind != "image":
            continue
        img = _expected_pixels(i, payload, w, h).astype(np.float32)
        gh, gw = max(h // g, 1), max(w // g, 1)
        pooled = img[: g * gh, : g * gw].reshape(g, gh, g, gw, 3).mean(axis=(1, 3, 4))
        vec = pooled.flatten()
        vec = np.pad(vec, (0, dim - len(vec)))[:dim] / 255.0
        floats = [float(np.float32(x)) for x in vec]  # array<float> widening
        acc = 0.0
        for x in floats:
            acc += x
        out.append((f"asset_{i:08d}", w, h, round6(acc)))
    return out


def resized_image_rows(n: int, out_w: int, out_h: int, seed: int = 42):
    """(asset_id, width, height, payload_md5) per image asset after the
    nearest-neighbour resize — checksums the exact raw-RGB bytes the
    operator emits."""
    import numpy as np
    out = []
    for i in range(n):
        kind, payload, w, h, _ = synthetic_asset_meta(i, seed)
        if kind != "image":
            continue
        img = _expected_pixels(i, payload, w, h)
        ys = (np.arange(out_h) * img.shape[0] // out_h)
        xs = (np.arange(out_w) * img.shape[1] // out_w)
        resized = img[ys][:, xs]
        out.append((f"asset_{i:08d}", out_w, out_h,
                    hashlib.md5(resized.tobytes()).hexdigest()))
    return out


def audio_stat_rows(n: int, seed: int = 42):
    """(asset_id, n_samples, rms) per audio asset: payload bytes as
    little-endian pcm16, rms = sqrt(mean(x^2)) rounded 6dp (numpy mean,
    matching the operator's documented arithmetic)."""
    import numpy as np
    out = []
    for i in range(n):
        kind, payload, _, _, _ = synthetic_asset_meta(i, seed)
        if kind != "audio":
            continue
        buf = payload[: len(payload) // 2 * 2]
        samples = np.frombuffer(buf, dtype=np.int16).astype(np.float64)
        rms = float(np.sqrt((samples ** 2).mean())) if len(samples) else 0.0
        out.append((f"asset_{i:08d}", len(samples), round(rms, 6)))
    return out


def video_frame_rows(n: int, seed: int = 42):
    """(asset_id, frame_idx, width, height, mean_r, mean_g, mean_b) per
    decoded video frame — derived from the SPEC, not the engine's
    container parser: AVI-bearing assets (i % 9 == 5) carry the
    documented gradient formula pix[y,x,c] = (3x+7y+11c+key+97f) mod 256
    at (min(w,32), min(h,32)) with 4 + i%5*2 frames (the engine
    round-trips these through actual RIFF/AVI encode/parse); the rest
    take the deterministic-fake path (blake2b per (payload, frame),
    min(8, ceil(dur/1s)) frames at the catalog shape)."""
    import numpy as np
    out = []
    for i in range(n):
        kind, payload, w, h, dur = synthetic_asset_meta(i, seed)
        if kind != "video":
            continue
        if i % 9 == 5:
            vw, vh = min(w, 32), min(h, 32)
            nf, key = 4 + i % 5 * 2, i * 1009
            ys = np.arange(vh, dtype=np.int64)[:, None, None]
            xs = np.arange(vw, dtype=np.int64)[None, :, None]
            cs = np.arange(3, dtype=np.int64)[None, None, :]
            frames = np.stack([
                ((3 * xs + 7 * ys + 11 * cs + key + 97 * f) % 256).astype(np.uint8)
                for f in range(nf)])
        else:
            vw, vh, nf = w, h, min(8, (dur - 1) // 1000 + 1)
            frames = np.empty((nf, vh, vw, 3), dtype=np.uint8)
            for f in range(nf):
                ps = int.from_bytes(hashlib.blake2b(
                    payload + f.to_bytes(4, "big"), digest_size=8).digest(), "big")
                frames[f] = np.random.default_rng(ps).integers(
                    0, 256, size=(vh, vw, 3), dtype=np.uint8)
        means = frames.astype(np.float64).mean(axis=(1, 2))
        for f in range(frames.shape[0]):
            # plain round(): the operator rounds Python-side (like
            # audio_stat_rows), so F.round semantics don't apply here
            out.append((f"asset_{i:08d}", f, vw, vh,
                        round(float(means[f, 0]), 6), round(float(means[f, 1]), 6),
                        round(float(means[f, 2]), 6)))
    return out


def frame_count_rows(n: int, every_ms: int = 1000, seed: int = 42):
    """(asset_id, n_frames) per video asset: |sequence(0, dur-1, step)|."""
    out = []
    for i in range(n):
        kind, _, _, _, dur = synthetic_asset_meta(i, seed)
        if kind != "video":
            continue
        out.append((f"asset_{i:08d}", (dur - 1) // every_ms + 1))
    return out


def _zone_ring(kind: str, params_json: str):
    """Rebuild a circle/star zone's ring from its params — NOT from the
    engine's WKB: circle = the documented 100-point linspace tessellation
    (reference CIRCLE converter contract, postgis_entity_converter.py
    261-282); poly = the params ring. corpus.py build_zones pins both."""
    import json

    import numpy as np
    p = json.loads(params_json)
    if kind == "circle":
        ang = np.linspace(0.0, 2.0 * np.pi, 100)
        return np.stack([p["cx"] + p["r"] * np.cos(ang),
                         p["cy"] + p["r"] * np.sin(ang)], axis=1)
    return np.asarray(p["ring"], dtype=np.float64)


def pip_poly_zone_rows(points, zones):
    """Expected (doc_id, handle, zone_id) rows of the PIP join against
    circle/star zones: boundary-inclusive WINDING-NUMBER containment
    (Sunday's signed-crossing algorithm), reimplemented here against
    params-rebuilt rings. The engine's kernel is an even-odd ray cast
    over WKB-parsed rings (geometry/predicates.py) — so this oracle
    differs in data path, code path AND algorithm family (VERDICT r4
    item 5: a re-derived even-odd twin could share a blind spot; for the
    simple rings the corpus pins, wn != 0 ⟺ even-odd inside, while the
    crossing bookkeeping — vertex handling, horizontal edges, left/right
    strictness — is computed by different math)."""
    import numpy as np
    out = []
    if not points:
        return out
    px = np.array([r[2] for r in points], dtype=np.float64)
    py = np.array([r[3] for r in points], dtype=np.float64)
    for zone_id, kind, params_json in zones:
        hit = winding_covers(px, py, _zone_ring(kind, params_json))
        for i in np.nonzero(hit)[0]:
            out.append((points[i][0], points[i][1], zone_id))
    return out


def winding_covers(px, py, ring):
    """Boundary-inclusive containment of (px, py) batches in one simple
    ring via Sunday's signed-crossing WINDING NUMBER — the algorithm-twin
    of geometry/predicates.points_in_polygon (even-odd ray cast): for
    simple rings wn != 0 ⟺ even-odd inside, but vertex handling,
    horizontal edges, and left/right strictness are computed by different
    math. Shared by the q_pip_poly_zones oracle and the cross-algorithm
    fuzz test."""
    import numpy as np
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    ring = np.asarray(ring, dtype=np.float64)[:, :2]
    if len(ring) > 1 and np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    x1, y1 = ring[:, 0], ring[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    # isLeft: >0 when the point lies left of the directed edge
    is_left = ((x2 - x1)[None, :] * (py[:, None] - y1[None, :])
               - (px[:, None] - x1[None, :]) * (y2 - y1)[None, :])
    # upward edge crossing counts +1 when the point is strictly left;
    # downward crossing counts -1 when strictly right (half-open
    # y-ranges give each vertex to exactly one incident edge)
    up = ((y1[None, :] <= py[:, None]) & (y2[None, :] > py[:, None])
          & (is_left > 0))
    down = ((y1[None, :] > py[:, None]) & (y2[None, :] <= py[:, None])
            & (is_left < 0))
    inside = (up.sum(axis=1) - down.sum(axis=1)) != 0
    # boundary-inclusive: |cross| tiny and within the segment bbox
    dx, dy = (x2 - x1)[None, :], (y2 - y1)[None, :]
    cross = (px[:, None] - x1[None, :]) * dy - (py[:, None] - y1[None, :]) * dx
    scale = np.maximum(np.abs(dx), np.abs(dy)) + 1.0
    within = ((np.minimum(x1, x2)[None, :] - 1e-12 <= px[:, None])
              & (px[:, None] <= np.maximum(x1, x2)[None, :] + 1e-12)
              & (np.minimum(y1, y2)[None, :] - 1e-12 <= py[:, None])
              & (py[:, None] <= np.maximum(y1, y2)[None, :] + 1e-12))
    on_edge = ((np.abs(cross) <= 1e-12 * scale) & within).any(axis=1)
    return inside | on_edge

"""Physical-plan audit: capture `.explain` for the flagship operators,
check the scale-critical plan properties (scan pruning, broadcast vs
shuffle, map-side combine, single Arrow-batched Python crossing, no
row-at-a-time UDFs), and write a human-readable PLAN_AUDIT.md.

The same properties are pinned as regression tests in
tests/test_plans.py; this script produces the inspectable artifact —
the actual plans the engine ships, annotated — and exits nonzero if
any property fails, so it doubles as a CI gate:

    python scripts/plan_audit.py          # writes PLAN_AUDIT.md
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys
import tempfile

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dxf_postgis_converter_spark.corpus import (  # noqa: E402
    SPANS_SCHEMA, ZONES_SCHEMA, build_document, build_zones,
)
from dxf_postgis_converter_spark.session import get_spark  # noqa: E402


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _refine_above_join(simple: str) -> bool:
    lines = simple.splitlines()
    refine = [i for i, ln in enumerate(lines) if "Filter" in ln and "aggregate(" in ln]
    cand_join = [i for i, ln in enumerate(lines) if "Join [cell" in ln]
    return len(refine) == 1 and len(cand_join) == 1 and refine[0] < cand_join[0]


def _only_python_is_edge_decode(simple: str) -> bool:
    python = [ln for ln in simple.splitlines()
              if re.search(r"MapIn|EvalPython|InPandas", ln)]
    return len(python) == 1 and "MapInArrow" in python[0] and "parts#" in python[0]


def audit(sections, name, df, checks, excerpt_markers=()):
    """checks: list of (label, predicate over {'formatted','simple'})."""
    plans = {"formatted": plan_of(df), "simple": plan_of(df, "simple")}
    rows, ok = [], True
    for label, pred in checks:
        passed = bool(pred(plans))
        ok &= passed
        rows.append((label, passed))
    # excerpt: the simple-mode tree (short), plus any formatted detail
    # lines that carry the markers (PushedFilters / ReadSchema / ...)
    excerpt = plans["simple"].rstrip()
    detail = [ln.strip() for ln in plans["formatted"].splitlines()
              if any(m in ln for m in excerpt_markers)]
    sections.append((name, rows, excerpt, detail, ok))
    return ok


def main() -> int:
    spark = get_spark(app_name="plan-audit", master="local[4]",
                      shuffle_partitions=8)
    docs = spark.createDataFrame([build_document(i) for i in range(40)],
                                 schema=SPANS_SCHEMA).cache()
    zones = spark.createDataFrame(build_zones(), schema=ZONES_SCHEMA).cache()

    from dxf_postgis_converter_spark.functions.decode import decode_documents
    from dxf_postgis_converter_spark.functions.text import (
        dup_word_fraction, has_pii, lang_id, quality_score, redact_pii,
    )
    from dxf_postgis_converter_spark.operators.area_selection import (
        select_entities,
    )
    from dxf_postgis_converter_spark.operators.dedup import minhash_lsh_pairs
    from dxf_postgis_converter_spark.operators.spatial_join import (
        point_in_polygon_join,
    )
    from dxf_postgis_converter_spark.operators.tiles import tile_pyramid_counts

    entities = decode_documents(docs).cache()
    entities.count()

    sections, all_ok = [], True

    # 1. decode over a REAL parquet scan: pruning must reach the files
    tmp = tempfile.mkdtemp(prefix="plan_audit_")
    pq = os.path.join(tmp, "docs")
    docs.write.mode("overwrite").parquet(pq)
    all_ok &= audit(
        sections, "decode (documents parquet → entities)",
        decode_documents(spark.read.parquet(pq)),
        [("exactly ONE Arrow-batched Python crossing (MapInArrow)",
          lambda p: p["simple"].count("MapInArrow") == 1),
         ("no row-at-a-time Python UDF nodes",
          lambda p: "BatchEvalPython" not in p["formatted"]
          and "ArrowEvalPython" not in p["formatted"]),
         ("narrow plan — ZERO exchanges scan→entities",
          lambda p: "Exchange" not in p["simple"]),
         ("IsNotNull(spans) pushed to the parquet scan",
          lambda p: "PushedFilters: [IsNotNull(spans)]" in p["formatted"]),
         ("column pruning: scan reads only (doc_id, spans)",
          lambda p: "ReadSchema: struct<doc_id:string,spans:array"
          in p["formatted"])],
        excerpt_markers=("PushedFilters", "ReadSchema"))

    # 1b. INSERT virtual-entity expansion over a REAL entities parquet:
    # the INSERT filter and 4-column projection must reach the scan, and
    # the whole operator is one Python crossing with no shuffle
    epq = os.path.join(tmp, "entities")
    entities.write.mode("overwrite").parquet(epq)
    from dxf_postgis_converter_spark.operators.insert_expand import (
        expand_inserts,
    )
    all_ok &= audit(
        sections, "insert_expand (entities parquet → virtual entities)",
        expand_inserts(spark.read.parquet(epq)),
        [("exactly ONE Arrow-batched Python crossing (MapInArrow), "
          "zero MapInPandas",
          lambda p: p["simple"].count("MapInArrow") == 1
          and "MapInPandas" not in p["simple"]),
         ("narrow plan — ZERO exchanges scan→virtual entities",
          lambda p: "Exchange" not in p["simple"]),
         ("entity_type = INSERT pushed to the parquet scan",
          lambda p: "EqualTo(entity_type,INSERT)" in p["formatted"]),
         ("column pruning: scan reads only the 4 expansion inputs + the "
          "filter column (entity_type)",
          lambda p: "ReadSchema: struct<doc_id:string,span_offset:int,"
          "handle:string,entity_type:string,data_json:string>"
          in p["formatted"])],
        excerpt_markers=("PushedFilters", "ReadSchema"))

    # 2. PIP broadcast path: the 10^12-row probe side never shuffles.
    # Probes come from the entities parquet, so the only Python node a
    # PIP plan may show is the operator's own zone-side edge decode.
    pts = spark.read.parquet(epq).filter("geom_type = 'POINT'").select(
        "doc_id", "handle", F.col("xmin").alias("x"), F.col("ymin").alias("y"))
    pip_refine_checks = [
        ("zero MapInPandas", lambda p: "MapInPandas" not in p["simple"]),
        ("exact refine is a JVM Filter above the candidate (cell) join",
         lambda p: _refine_above_join(p["simple"])),
        ("the only Python node is the zone-side edge decode (MapInArrow)",
         lambda p: _only_python_is_edge_decode(p["simple"]))]
    all_ok &= audit(
        sections, "point-in-polygon join (broadcast cover path)",
        point_in_polygon_join(pts, zones, res=6),
        [("zone cell cover broadcast (BroadcastHashJoin)",
          lambda p: "BroadcastHashJoin" in p["simple"]),
         ("probe side NEVER hash-repartitioned",
          lambda p: "Exchange hashpartitioning" not in p["simple"]),
         *pip_refine_checks])

    # 3. PIP salted shuffle path — the huge-zone-side / hot-cell regime
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        all_ok &= audit(
            sections, "point-in-polygon join (salted shuffle path)",
            point_in_polygon_join(pts, zones, res=6,
                                  broadcast_zones=False, n_salt=8),
            [("no broadcast (huge-polygon-side regime pinned)",
              lambda p: "BroadcastHashJoin" not in p["simple"]),
             ("shuffle keyed on (cell, salt): hot cells spread over "
              "n_salt reducers",
              lambda p: "Exchange hashpartitioning(cell" in p["simple"]
              and "salt" in p["simple"]),
             *pip_refine_checks])
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # 4. tile pyramid: ONE scan + ONE heavy shuffle for the whole
    #    pyramid (z_max partials), plus one tiny rollup shuffle — never a
    #    re-scan per level
    all_ok &= audit(
        sections, "tile pyramid (z8→z6 rollup)",
        tile_pyramid_counts(entities.filter("xmin is not null"),
                            z_max=8, z_min=6),
        [("map-side combine before the exchange (partial_count)",
          lambda p: "partial_count" in p["formatted"]),
         ("exactly TWO exchanges for ALL pyramid levels (z_max partials "
          "+ tiny ancestor-chain rollup; never per-level union branches)",
          lambda p: p["simple"].count("Exchange hashpartitioning") == 2),
         ("base table scanned and decoded ONCE (single MapInArrow "
          "lineage, no MapInPandas)",
          lambda p: "MapInPandas" not in p["simple"]
          and p["simple"].count("MapInArrow") <= 1)])

    # 5. area selection: pure JVM column predicate, zero exchanges
    all_ok &= audit(
        sections, "area selection (rect ∩ bbox, INSIDE)",
        select_entities(entities, "rectangle", "inside",
                        (0.0, 200.0, 0.0, 200.0)),  # (x_min,x_max,y_min,y_max)
        [("ZERO exchanges (predicate on bbox columns)",
          lambda p: "Exchange" not in p["simple"]),
         ("whole-stage codegen covers the filter (starred nodes)",
          lambda p: "*(" in p["simple"]),
         ("no Python stage",
          lambda p: "MapInPandas" not in p["simple"]
          and "EvalPython" not in p["formatted"])])

    # 6. text kernels: lang-id, quality, PII scrub, repetition — all JVM
    text_df = docs.select(
        "doc_id",
        F.concat_ws(" ", F.transform("spans", lambda s: s["text"]))
        .alias("text"))
    all_ok &= audit(
        sections, "text kernels (lang-id, quality, PII, repetition)",
        text_df.select(
            "doc_id", lang_id(F.col("text")).alias("lang"),
            quality_score(F.col("text")).alias("quality"),
            redact_pii(F.col("text")).alias("clean"),
            has_pii(F.col("text")).alias("had_pii"),
            dup_word_fraction(F.col("text")).alias("rep")),
        [("ZERO exchanges", lambda p: "Exchange" not in p["simple"]),
         ("pure JVM column algebra — no Python stage",
          lambda p: "MapInPandas" not in p["simple"]
          and "EvalPython" not in p["formatted"]),
         ("whole-stage codegen (starred nodes)",
          lambda p: "*(" in p["simple"])])

    # 7. MinHash LSH: ONE signature shuffle + banded equi-join — never
    #    an all-pairs product
    all_ok &= audit(
        sections, "MinHash+LSH near-dup pairs",
        minhash_lsh_pairs(text_df),
        [("banded bucket equi-join, not a cartesian product",
          lambda p: "CartesianProduct" not in p["simple"]
          and "BroadcastNestedLoopJoin" not in p["simple"]),
         ("joins are hash/sort joins on bucket keys",
          lambda p: ("SortMergeJoin" in p["simple"]
                     or "ShuffledHashJoin" in p["simple"]
                     or "BroadcastHashJoin" in p["simple"]))])

    # 8. IVF top-k, distributed query side (r6): BOTH sides enter the
    #    bucket join through Arrow-batched assignment maps — the query
    #    side must NOT funnel through a driver collect/LocalTableScan
    import numpy as np

    from dxf_postgis_converter_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(5)
    emb_pq = os.path.join(tmp, "emb")
    spark.createDataFrame(
        [(i, rng.standard_normal(8).tolist()) for i in range(200)],
        "vec_id long, embedding array<double>").write.mode("overwrite").parquet(emb_pq)
    emb_scan = spark.read.parquet(emb_pq)
    qs_scan = emb_scan.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    cents = rng.standard_normal((16, 8))
    all_ok &= audit(
        sections, "IVF top-k (distributed query side)",
        ivf_topk(emb_scan.filter("vec_id >= 5"), qs_scan, k=5,
                 centroids=cents, n_probe=4),
        [("query probes are a distributed map, not a driver collect "
          "(no LocalTableScan anywhere: both sides come from real scans)",
          lambda p: "LocalTableScan" not in p["simple"]
          and p["simple"].count("MapInPandas") == 2),
         ("candidate join is an equi-join on centroid_id",
          lambda p: "CartesianProduct" not in p["simple"]
          and "BroadcastNestedLoopJoin" not in p["simple"])])

    # 9. kNN: the operator's driver-side tables (sub-res counts, depth
    #    maps) are Arrow local relations, so no leaf of the plan is a
    #    PythonRDD and no broadcast build of them starts a Python worker.
    #    materialize is patched to identity here: a checkpoint's own plan
    #    is an ExistingRDD scan by design. Inputs are parquet; the dense
    #    cluster puts the fine-level branch into the plan.
    import pyarrow as pa
    import pyarrow.parquet as pa_parquet

    import dxf_postgis_converter_spark.operators.knn as knn_mod

    knn_in = []
    for name, pts in (
            ("probe_id", np.vstack([rng.uniform(0, 8192, size=(60, 2)),
                                    rng.normal(900, 15, size=(20, 2))])),
            ("target_id", np.vstack([rng.uniform(0, 8192, size=(1500, 2)),
                                     rng.normal(900, 15, size=(500, 2))]))):
        path = os.path.join(tmp, f"knn_{name}.parquet")
        pa_parquet.write_table(pa.table({name: [f"{name[0]}{i}" for i in range(len(pts))],
                                  "x": pts[:, 0], "y": pts[:, 1]}), path)
        knn_in.append(spark.read.parquet(path))
    materialize = knn_mod.materialize
    knn_mod.materialize = lambda df: df
    try:
        all_ok &= audit(
            sections, "kNN join (counts-pyramid radius proof)",
            knn_mod.knn_join(*knn_in, k=3, res=6),
            [("driver-side tables are LocalTableScans: no PythonRDD leaf "
              "(no Scan ExistingRDD)",
              lambda p: "LocalTableScan" in p["simple"]
              and "ExistingRDD" not in p["simple"]),
             ("no Python stage",
              lambda p: not re.search(r"MapIn|EvalPython|InPandas",
                                      p["simple"])),
             ("candidate join is an equi-join on cell, not a cartesian "
              "product",
              lambda p: "CartesianProduct" not in p["simple"]
              and "BroadcastNestedLoopJoin" not in p["simple"])])
    finally:
        knn_mod.materialize = materialize

    lines = [
        "# PLAN_AUDIT — physical plans of the flagship operators",
        "",
        "Generated by `python scripts/plan_audit.py` (exit 0 = every "
        "property holds; the same properties are regression-pinned in "
        "tests/test_plans.py). Corpus: 40 deterministic documents, "
        "local[4], shuffle.partitions=8 — plan SHAPE is what matters; "
        "AQE re-plans sizes at runtime.",
        "",
    ]
    for name, rows, excerpt, detail, _ok in sections:
        lines.append(f"## {name}")
        lines.append("")
        for label, passed in rows:
            lines.append(f"- {'✅' if passed else '❌'} {label}")
        lines.append("")
        lines.append("```")
        lines.append(excerpt)
        lines.append("```")
        if detail:
            lines.append("")
            lines.append("Scan details:")
            lines.append("```")
            lines.extend(detail)
            lines.append("```")
        lines.append("")

    out = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLAN_AUDIT.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    n_checks = sum(len(r) for _, r, _, _, _ in sections)
    n_pass = sum(p for _, r, _, _, _ in sections for _, p in r)
    print(f"{n_pass}/{n_checks} plan properties hold -> {out}")
    spark.stop()
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())

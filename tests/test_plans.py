"""Physical-plan regression guards — the PLANS.md evidence, asserted.

A correctness-green operator can silently regress into a bad plan (lost
filter pushdown, broadcast flipping to shuffle, a second Python stage);
at 100 TB those are outage-grade. Each test pins the plan property that
makes the operator scale, not exact plan text.
"""

import contextlib
import io
import re

import pyspark.sql.functions as F


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_decode_plan_one_python_stage_pushdown(spark, docs_df, tmp_path):
    from dxf_postgis_converter_spark.functions.decode import decode_documents

    plan = plan_of(decode_documents(docs_df))
    # ONE Arrow-batched Python crossing, no row-at-a-time UDF (formatted
    # mode lists every node twice: once in the tree, once in the details)
    assert plan_of(decode_documents(docs_df), "simple").count("MapInArrow") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # scan-level pruning needs a real file scan (the in-memory fixture has
    # no scan node): only (doc_id, spans) read, IsNotNull pushed to parquet
    pq = str(tmp_path / "docs")
    docs_df.write.parquet(pq)
    plan_pq = plan_of(decode_documents(spark.read.parquet(pq)))
    assert "PushedFilters: [IsNotNull(spans)]" in plan_pq
    assert "ReadSchema: struct<doc_id:string,spans:array" in plan_pq


def _parquet_points(spark, entities_df, tmp_path):
    """POINT probes from a parquet scan, so the only Python node in a
    PIP plan can be the operator's own."""
    pq = str(tmp_path / "points")
    entities_df.filter("geom_type = 'POINT'").select(
        "doc_id", "handle", F.col("xmin").alias("x"), F.col("ymin").alias("y")
    ).write.parquet(pq)
    return spark.read.parquet(pq)


def assert_pip_refine_in_jvm(simple: str):
    """Zero MapInPandas; the refine is a JVM Filter above the candidate
    (cell) join; the only Python node is the zone-side edge decode."""
    lines = simple.splitlines()
    refine = [i for i, ln in enumerate(lines) if "Filter" in ln and "aggregate(" in ln]
    cand_join = [i for i, ln in enumerate(lines) if "Join [cell" in ln]
    python = [ln for ln in lines if re.search(r"MapIn|EvalPython|InPandas", ln)]
    assert "MapInPandas" not in simple
    assert len(refine) == 1 and len(cand_join) == 1 and refine[0] < cand_join[0], simple
    assert len(python) == 1 and "MapInArrow" in python[0] and "parts#" in python[0], python


def test_pip_broadcast_plan(spark, entities_df, zones_df, tmp_path):
    from dxf_postgis_converter_spark.operators.spatial_join import (
        point_in_polygon_join,
    )

    pts = _parquet_points(spark, entities_df, tmp_path)
    plan = plan_of(point_in_polygon_join(pts, zones_df, res=6))
    # cover table broadcast: the 10^12-row probe side is never shuffled
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert_pip_refine_in_jvm(plan_of(point_in_polygon_join(pts, zones_df, res=6), "simple"))


def test_pip_salted_plan_shuffles_without_broadcast(spark, entities_df, zones_df, tmp_path):
    from dxf_postgis_converter_spark.operators.spatial_join import (
        point_in_polygon_join,
    )

    pts = _parquet_points(spark, entities_df, tmp_path)
    # broadcast_zones=False doesn't FORCE a shuffle — at test scale
    # Catalyst still auto-broadcasts the tiny cover side (correct). Pin
    # the huge-polygon-side regime the way a 10^12-row run would see it:
    # cover stats above the auto-broadcast threshold.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = point_in_polygon_join(
            pts, zones_df, res=6, broadcast_zones=False, n_salt=8)
        plan = plan_of(df, "simple")  # simple mode shows partitioning args
        # a real shuffle join keyed on (cell, salt): the probe stream of a
        # hot cell spreads across n_salt reducers
        assert "BroadcastHashJoin" not in plan
        assert "Exchange hashpartitioning(cell" in plan
        assert "salt" in plan
        assert_pip_refine_in_jvm(plan)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_tile_pyramid_partial_aggregation(entities_df):
    from dxf_postgis_converter_spark.operators.tiles import tile_pyramid_counts

    plan = plan_of(
        tile_pyramid_counts(entities_df.filter("xmin is not null"),
                            z_max=8, z_min=6))
    # map-side combine before EVERY exchange: partial_count upstream,
    # final count downstream — the shuffle carries per-tile partials,
    # never raw entity rows
    assert "partial_count" in plan
    assert "Exchange" in plan
    # the whole pyramid is ONE pass: exactly two exchanges regardless of
    # depth (z_max per-tile partials + the tiny ancestor-chain rollup),
    # never a union of per-level branches re-scanning the base table
    assert plan.count("+- Exchange (") == 2, plan[:3000]
    assert "Union" not in plan
    assert "MapInPandas" not in plan


def test_tile_pyramid_matches_per_level_rollup(entities_df):
    """The one-pass ancestor-chain formulation is algebraically identical
    to rolling parents up level by level — pin that equivalence on the
    corpus (both orderings of every level's counts must agree)."""
    from dxf_postgis_converter_spark.index.grid import parent_col
    from dxf_postgis_converter_spark.operators.tiles import (
        assign_tiles, tile_pyramid_counts,
    )

    ents = entities_df.filter("xmin is not null")
    got = {r["tile_id"]: r["n"]
           for r in tile_pyramid_counts(ents, z_max=7, z_min=4).collect()}
    level = (assign_tiles(ents, 7, mode="center")
             .groupBy("tile_id").agg(F.count("*").alias("n")))
    want = {r["tile_id"]: r["n"] for r in level.collect()}
    for _ in range(3):
        level = (level.select(parent_col(F.col("tile_id")).alias("tile_id"), "n")
                 .groupBy("tile_id").agg(F.sum("n").alias("n")))
        want.update({r["tile_id"]: r["n"] for r in level.collect()})
    assert got == want


def test_no_row_python_udfs_anywhere(entities_df, zones_df, docs_df):
    """The north-rule constraint: vectorized pandas/Arrow UDFs only.
    Every headline operator's plan must be free of row-at-a-time Python
    evaluation nodes."""
    from dxf_postgis_converter_spark.functions.decode import decode_documents
    from dxf_postgis_converter_spark.functions.text import (
        lang_id, quality_score, token_count,
    )
    from dxf_postgis_converter_spark.operators.dedup import minhash_lsh_pairs
    from dxf_postgis_converter_spark.operators.spatial_join import (
        point_in_polygon_join,
    )
    from dxf_postgis_converter_spark.operators.tiles import tile_pyramid_counts

    pts = entities_df.filter("geom_type = 'POINT'").select(
        "doc_id", "handle", F.col("xmin").alias("x"), F.col("ymin").alias("y"))
    texts = docs_df.select(
        "doc_id", F.concat_ws(" ", F.transform(
            "spans", lambda s: F.coalesce(s["text"], F.lit("")))).alias("text"))
    dfs = [
        decode_documents(docs_df),
        point_in_polygon_join(pts, zones_df, res=6),
        tile_pyramid_counts(entities_df.filter("xmin is not null"), 8, 6),
        texts.select(lang_id(F.col("text")), quality_score(F.col("text")),
                     token_count(F.col("text"))),
        minhash_lsh_pairs(texts, num_hashes=16, bands=4),
    ]
    for df in dfs:
        plan = plan_of(df)
        assert "BatchEvalPython" not in plan, plan[:2000]


def test_knn_oneshot_job_count_input_independent(spark):
    """knn_join's scale property, asserted at the scheduler level: the
    default call's Spark job count must NOT depend on the data's density
    profile — no driver round loop whose length a hot sheet could grow."""
    import numpy as np

    from dxf_postgis_converter_spark.operators.knn import knn_join

    sc = spark.sparkContext
    rng = np.random.default_rng(3)
    uniform_t = rng.uniform(0, 8192, size=(3000, 2))
    dense_t = np.vstack([
        rng.normal(loc=(700, 700), scale=10, size=(2800, 2)),
        rng.uniform(0, 8192, size=(200, 2)),
    ])
    probes = rng.uniform(0, 8192, size=(60, 2))

    def mkdf(pts, pre, schema):
        return spark.createDataFrame(
            [(f"{pre}{i}", float(x), float(y)) for i, (x, y) in enumerate(pts)],
            schema)

    pdf = mkdf(probes, "p", "probe_id string, x double, y double")

    def jobs(name, tpts):
        tdf = mkdf(tpts, "t", "target_id string, x double, y double")
        sc.setJobGroup(name, "job-count probe")
        try:
            knn_join(pdf, tdf, k=3, res=6).count()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(name))

    uniform = jobs("knn-jc-u", uniform_t)
    dense = jobs("knn-jc-d", dense_t)
    # identical job count whatever the density asks for (measured 17 on
    # both at local[4]; not a bound — AQE may split stages differently)
    assert uniform == dense, (uniform, dense)


def test_materialize_runs_shuffle_stages_at_call(spark):
    """session.materialize is lazy only above its shuffles: over a plan
    with an exchange, AQE runs the shuffle stages when the call is made;
    over a plan with none, the call runs no job. The remaining work runs
    at the next action."""
    from dxf_postgis_converter_spark.session import materialize

    sc = spark.sparkContext

    def jobs(name, df):
        sc.setJobGroup(name, "materialize job-count probe")
        try:
            out = materialize(df)
            at_call = len(sc.statusTracker().getJobIdsForGroup(name))
            out.count()
            total = len(sc.statusTracker().getJobIdsForGroup(name))
        finally:
            sc.setJobGroup(None, None)
        return at_call, total

    grouped = spark.range(200_000).groupBy((F.col("id") % 97).alias("k")).count()
    at_call, total = jobs("mat-exchange", grouped)
    assert at_call >= 1 and total > at_call, (at_call, total)
    at_call, total = jobs("mat-narrow", spark.range(200_000).filter("id % 3 = 0"))
    assert at_call == 0 and total >= 1, (at_call, total)


def _knn_parquet_inputs(spark, tmp_path):
    """kNN probes and targets from parquet files written with pyarrow, so
    every leaf of a kNN plan is a file scan or one of the operator's own
    driver-side tables. The targets hold a dense cluster with some
    probes inside it, so those probes select fine levels and the plan
    carries the fine-level branch and both broadcasts of the depth
    table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(11)
    tpts = np.vstack([rng.uniform(0, 8192, size=(1500, 2)),
                      rng.normal(loc=(900, 900), scale=15, size=(500, 2))])
    ppts = np.vstack([rng.uniform(0, 8192, size=(60, 2)),
                      rng.normal(loc=(900, 900), scale=15, size=(20, 2))])
    out = []
    for name, pre, pts in (("probe_id", "p", ppts), ("target_id", "t", tpts)):
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(pa.table({
            name: [f"{pre}{i}" for i in range(len(pts))],
            "x": pts[:, 0], "y": pts[:, 1]}), path)
        out.append(spark.read.parquet(path))
    return out


def test_knn_driver_tables_are_local_relations(spark, tmp_path, monkeypatch):
    """kNN's driver-side tables (the sub-res counts and the depth maps)
    are Arrow local relations: no leaf of the plan is a PythonRDD, so no
    broadcast build or reuse of them starts a Python worker. materialize
    is patched to identity, because a checkpoint's own plan is an
    ExistingRDD scan by design."""
    import dxf_postgis_converter_spark.operators.knn as knn_mod

    monkeypatch.setattr(knn_mod, "materialize", lambda df: df)
    probes, targets = _knn_parquet_inputs(spark, tmp_path)
    out = knn_mod.knn_join(probes, targets, k=3, res=6)
    assert any(L > 6 for L in knn_mod._LAST_SCHEDULE[0][1])  # fine branch
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan[:3000]
    assert "ExistingRDD" not in plan, plan[:3000]


def test_knn_repeated_call_compiles_nothing(spark, tmp_path):
    """A second identical knn_join call in one session reuses every
    generated class: the codegen cache holds a whole call's classes, so
    a warm call pays no Janino compile."""
    from dxf_postgis_converter_spark.operators.knn import knn_join

    compiles = (spark.sparkContext._jvm.org.apache.spark.metrics.source
                .CodegenMetrics.METRIC_COMPILATION_TIME())
    probes, targets = _knn_parquet_inputs(spark, tmp_path)
    first = knn_join(probes, targets, k=3, res=6).collect()
    before = compiles.getCount()
    second = knn_join(probes, targets, k=3, res=6).collect()
    assert compiles.getCount() - before == 0
    assert sorted(first) == sorted(second)


def test_export_and_roundtrip_plans_single_python_stage(spark, docs_df, tmp_path):
    """Export and the roundtrip report are each ONE Arrow-batched Python
    stage over the document scan — no shuffle, no row-at-a-time UDF, and
    only (doc_id, spans) read from a real file scan: the stage scales
    with the scan at 10^12 documents."""
    from dxf_postgis_converter_spark.sources.dxf_export import (
        documents_to_dxf, export_roundtrip_report,
    )

    for op in (documents_to_dxf, export_roundtrip_report):
        simple = plan_of(op(docs_df), "simple")
        assert simple.count("MapInPandas") == 1, simple[:1500]
        assert "Exchange" not in simple, simple[:1500]
        assert "BatchEvalPython" not in simple
    pq = str(tmp_path / "docs_export")
    docs_df.write.parquet(pq)
    plan_pq = plan_of(export_roundtrip_report(spark.read.parquet(pq)))
    assert "ReadSchema: struct<doc_id:string,spans:array" in plan_pq


def test_banded_embedding_lsh_plan(spark):
    """r6 banded LSH: the candidate search is bucket equi-joins — never a
    cartesian product — with the hot-bucket cap as a broadcast anti-join
    (minhash's shape), and the whole signature tower is JVM expressions
    (no Python stage anywhere in the pair plan)."""
    from dxf_postgis_converter_spark.operators.dedup import (
        embedding_neardup_pairs,
    )
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5, 0.25]) for i in range(12)],
        "vec_id bigint, embedding array<double>")
    simple = plan_of(embedding_neardup_pairs(emb, threshold=0.9), "simple")
    assert "CartesianProduct" not in simple
    assert "BroadcastNestedLoopJoin" not in simple
    assert "LeftAnti" in simple, simple[:1500]  # hot-bucket cap
    assert "BatchEvalPython" not in simple and "MapInPandas" not in simple

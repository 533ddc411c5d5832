"""Partitioning invariance — the correctness half of the north rule.

On a real cluster the SAME query runs over arbitrary partitionings (N vs
4N executors re-split every scan and shuffle), so any operator whose
answer depends on partition layout is wrong-at-scale even if every
single-layout test passes. Each case runs the operator over adversarial
repartitionings of identical input (one fat partition; many skinny ones;
a skewed split) and pins the exact result multiset."""

from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from dxf_postgis_converter_spark.operators.knn import knn_join
from dxf_postgis_converter_spark.operators.dedup import minhash_lsh_pairs
from dxf_postgis_converter_spark.operators.spatial_join import (
    point_in_polygon_join,
)
from dxf_postgis_converter_spark.operators.tiles import tile_pyramid_counts


def _multiset(df, ndigits=9):
    def canon(v):
        return round(v, ndigits) if isinstance(v, float) else v
    return Counter(tuple(canon(v) for v in r) for r in df.collect())


LAYOUTS = [lambda df: df.coalesce(1),
           lambda df: df.repartition(13),
           lambda df: df.repartition(3, "doc_id")
           if "doc_id" in df.columns else df.repartition(3)]


@pytest.fixture(scope="module")
def pts(entities_df):
    return entities_df.filter(F.col("geom_type") == "POINT").select(
        "doc_id", "handle",
        F.col("xmin").alias("x"), F.col("ymin").alias("y")).cache()


def test_pip_join_partitioning_invariant(pts, zones_df):
    base = _multiset(point_in_polygon_join(pts, zones_df, res=6)
                     .select("doc_id", "handle", "zone_id"))
    assert sum(base.values()) > 0
    for layout in LAYOUTS:
        got = _multiset(point_in_polygon_join(layout(pts), zones_df, res=6)
                        .select("doc_id", "handle", "zone_id"))
        assert got == base


def test_knn_partitioning_invariant(spark):
    rng = np.random.default_rng(11)
    t = np.vstack([rng.uniform(0, 4096, size=(300, 2)),
                   rng.normal(loc=(900, 900), scale=20, size=(80, 2))])
    tdf = spark.createDataFrame(
        [(f"t{i}", float(x), float(y)) for i, (x, y) in enumerate(t)],
        "target_id string, x double, y double")
    p = rng.uniform(0, 4096, size=(40, 2))
    pdf = spark.createDataFrame(
        [(f"p{i}", float(x), float(y)) for i, (x, y) in enumerate(p)],
        "probe_id string, x double, y double")
    sel = ["probe_id", "rank", "target_id"]
    base = _multiset(knn_join(pdf, tdf, k=3, res=6).select(*sel))
    assert sum(base.values()) == 40 * 3
    for layout in LAYOUTS[:2]:
        got = _multiset(knn_join(layout(pdf), layout(tdf), k=3, res=6)
                        .select(*sel))
        assert got == base


def test_minhash_pairs_partitioning_invariant(spark):
    base_txt = ("the quick brown fox jumps over the lazy dog and runs far "
                "away into the woods tonight under a bright cold moon")
    rows = [(f"d{i}", base_txt.replace("lazy", w))
            for i, w in enumerate(["lazy", "sleepy", "angry"])]
    rows += [(f"x{i}", f"totally unrelated document number {i} about spark "
              f"shuffle partitioning and adaptive execution plans {i}")
             for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    sel = ["id_a", "id_b"]
    base = _multiset(minhash_lsh_pairs(docs, jaccard_threshold=0.5)
                     .select(*sel))
    assert sum(base.values()) > 0
    for layout in LAYOUTS:
        got = _multiset(minhash_lsh_pairs(layout(docs), jaccard_threshold=0.5)
                        .select(*sel))
        assert got == base


def test_contamination_partitioning_invariant(spark):
    base_txt = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
                "lam mu nu xi omicron pi rho sigma tau upsilon")
    docs = spark.createDataFrame(
        [(f"d{i}", f"PAD{i} " + base_txt + f" TAIL{i}") for i in range(6)]
        + [("clean", "nothing shared here at all in any way whatsoever "
                     "with the benchmark texts of this test case")],
        "doc_id string, text string")
    bench = spark.createDataFrame(
        [("long", " ".join(base_txt.split()[:13])),   # 13-gram item
         ("short", " ".join(base_txt.split()[3:8]))],  # 5-token item
        "bench_id string, text string")
    from dxf_postgis_converter_spark.operators.dedup import (
        benchmark_contamination,
    )
    base = _multiset(benchmark_contamination(docs, bench, n=13))
    assert sum(base.values()) == 12  # 6 padded docs × 2 bench items
    for layout in LAYOUTS:
        got = _multiset(benchmark_contamination(layout(docs), bench, n=13))
        assert got == base


def test_export_reingest_partitioning_invariant(docs_df):
    from dxf_postgis_converter_spark.sources.dxf_export import (
        export_reingest_spans,
    )
    base = _multiset(export_reingest_spans(docs_df))
    assert sum(base.values()) > 0
    for layout in LAYOUTS:
        got = _multiset(export_reingest_spans(layout(docs_df)))
        assert got == base


def test_tile_pyramid_partitioning_invariant(entities_df):
    base = _multiset(tile_pyramid_counts(entities_df, z_max=6, z_min=3))
    assert sum(base.values()) > 0
    for layout in LAYOUTS:
        got = _multiset(tile_pyramid_counts(layout(entities_df),
                                            z_max=6, z_min=3))
        assert got == base


def test_insert_expand_partitioning_invariant(entities_df):
    """r7: virtual-entity expansion is per-row (zero shuffle), so its
    result multiset must be identical under every adversarial layout —
    the data_json column pins geometry + attributes value-level."""
    from dxf_postgis_converter_spark.operators.insert_expand import (
        expand_inserts,
    )

    def run(layout):
        return _multiset(expand_inserts(layout(entities_df)).select(
            "doc_id", "insert_handle", "block_path", "depth",
            "entity_type", "geom_type", "data_json"))

    base = run(LAYOUTS[0])
    assert sum(base.values()) > 0  # corpus v4 closures make this non-empty
    for layout in LAYOUTS[1:]:
        assert run(layout) == base

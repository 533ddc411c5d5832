"""Hot-cell detection + adaptive splitting + salting bounds
(north_star skew contract)."""

import pyspark.sql.functions as F
import pytest

from dxf_postgis_converter_spark.index.grid import cell_col, cell_ix, cell_iy, cell_res, cell_size
from dxf_postgis_converter_spark.index.skew import (
    adaptive_cell_index,
    cell_population_stats,
    hot_cells,
    salt_col,
)

CAP = 50


@pytest.fixture(scope="module")
def skewed_points(spark):
    """500 points in one 20×20 hot window + 500 spread over the extent."""
    hot = spark.range(500).select(
        (F.lit(1000.0) + F.pmod(F.col("id") * 7, 20)).alias("x"),
        (F.lit(1000.0) + F.pmod(F.col("id") * 13, 20)).alias("y"),
        F.concat(F.lit("h"), F.col("id")).alias("handle"))
    cold = spark.range(500).select(
        (F.pmod(F.col("id") * 131, 8000) + 10.0).alias("x"),
        (F.pmod(F.col("id") * 197, 8000) + 10.0).alias("y"),
        F.concat(F.lit("c"), F.col("id")).alias("handle"))
    return hot.unionByName(cold).cache()


def test_hot_cells_detected(skewed_points):
    base = skewed_points.withColumn("cell", cell_col(F.col("x"), F.col("y"), 6))
    hot = hot_cells(base, cap=CAP).collect()
    assert len(hot) >= 1
    assert all(r.n > CAP for r in hot)


def test_adaptive_split_bounds_population(skewed_points):
    idx = adaptive_cell_index(skewed_points, base_res=6, max_res=12, cap=CAP)
    per_cell = idx.groupBy("cell").count().collect()
    assert max(r["count"] for r in per_cell) <= CAP
    assert idx.count() == skewed_points.count()  # no rows lost or duplicated


def test_adaptive_cells_contain_their_points(skewed_points):
    """Every row's mixed-res cell must be the true cell of (x,y) at that res."""
    idx = adaptive_cell_index(skewed_points, base_res=6, max_res=12, cap=CAP)
    bad = idx.filter(
        (cell_ix(F.col("cell")) != F.floor(F.col("x") / (F.lit(8192.0) / F.pow(F.lit(2.0), cell_res(F.col("cell")).cast("double")))))
        | (cell_iy(F.col("cell")) != F.floor(F.col("y") / (F.lit(8192.0) / F.pow(F.lit(2.0), cell_res(F.col("cell")).cast("double")))))
    )
    assert bad.count() == 0


def test_adaptive_respects_max_res(skewed_points):
    """With max_res == base_res no split can happen even above cap."""
    idx = adaptive_cell_index(skewed_points, base_res=6, max_res=6, cap=CAP)
    assert idx.select(cell_res(F.col("cell")).alias("r")).distinct().collect()[0].r == 6


def test_salted_repartition_spreads_hot_cell(skewed_points):
    base = skewed_points.withColumn("cell", cell_col(F.col("x"), F.col("y"), 6))
    salted = base.repartition(16, F.col("cell"), salt_col("handle", 8))
    sizes = salted.groupBy(F.spark_partition_id().alias("p")).count().collect()
    # hot cell (500+ rows) must not land in a single partition
    assert max(r["count"] for r in sizes) < 500


def test_population_stats_shape(skewed_points):
    idx = adaptive_cell_index(skewed_points, base_res=6, max_res=12, cap=CAP)
    stats = cell_population_stats(idx).collect()
    assert sum(r.rows for r in stats) == 1000
    assert all(r.max_cell_rows <= CAP for r in stats)

"""Cell-prefix partitioned store: pruning actually happens (plan-level
PartitionFilters), scoped reads return exactly the right rows, and a
store is opened once per session until it is written again."""

import pyspark.sql.functions as F
import pytest

from dxf_postgis_converter_spark.index.grid import covers_py
from dxf_postgis_converter_spark.sources.entity_store import (
    read_entities,
    read_entities_bbox,
    with_cell_prefix,
    write_entities,
)


@pytest.fixture(scope="module")
def store(spark, entities_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ents") / "store")
    write_entities(entities_df, path)
    return path


def test_roundtrip_row_count(spark, entities_df, store):
    assert read_entities(spark, store).count() == entities_df.count()


def test_geometryless_rows_preserved(spark, entities_df, store):
    got = read_entities(spark, store).filter("cell_p = -1").count()
    want = entities_df.filter(F.col("xmin").isNull()).count()
    assert got == want > 0


def _overlapping(df, q):
    return df.filter(
        (F.col("xmin") <= q[2]) & (F.col("xmax") >= q[0])
        & (F.col("ymin") <= q[3]) & (F.col("ymax") >= q[1]))


@pytest.mark.parametrize("q, min_straddlers", [
    ((1000.0, 1000.0, 2000.0, 2000.0), 0),
    # inside prefix cell (3, 5) only; entity d0003e is centred in cell
    # (2, 5) and its bbox reaches ~365 units across x = 3072 into it
    ((3100.0, 5300.0, 3400.0, 5600.0), 1),
], ids=["spans-cells", "centre-one-cell-away"])
def test_bbox_read_matches_bruteforce(spark, entities_df, store, q, min_straddlers):
    got = read_entities_bbox(spark, store, *q).select("handle")
    want = _overlapping(entities_df, q).select("handle")
    straddlers = _overlapping(with_cell_prefix(entities_df), q) \
        .filter(~F.col("cell_p").isin(covers_py(*q, 3)))
    assert straddlers.count() >= min_straddlers
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_partition_pruning_in_plan(spark, store):
    df = read_entities_bbox(spark, store, 1000.0, 1000.0, 1100.0, 1100.0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the pruning predicate on cell_p must be present and non-trivial
    start = plan.index("PartitionFilters: [")
    seg = plan[start:start + 300]
    assert "cell_p" in seg


def test_prefix_assignment_consistent(entities_df):
    tagged = with_cell_prefix(entities_df)
    # every geometry row lands in a valid res-3 cell, others in -1
    bad = tagged.filter(
        (F.col("xmin").isNotNull() & ((F.col("cell_p") < 0)
         | (F.shiftright(F.col("cell_p"), 58) != 3)))
        | (F.col("xmin").isNull() & (F.col("cell_p") != -1)))
    assert bad.count() == 0


def _job_count(spark, group, fn):
    """Spark jobs launched by fn(), counted in a dedicated job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_unchanged_store_reopens_without_jobs(spark, store):
    first = read_entities(spark, store)
    assert _job_count(spark, "store-reopen", lambda: read_entities(spark, store)) == 0
    assert read_entities(spark, store) is first
    # another session never gets this session's relation: it opens anew
    other = spark.newSession()
    assert _job_count(spark, "store-other-session",
                      lambda: read_entities(other, store)) > 0
    assert read_entities(other, store).sparkSession is other


def _halves(entities_df):
    """The rows of the first and of the second half of the documents."""
    ids = sorted(r[0] for r in entities_df.select("doc_id").distinct().collect())
    first = F.col("doc_id").isin(ids[:len(ids) // 2])
    return entities_df.filter(first), entities_df.filter(~first)


def _handles(df):
    return sorted(r[0] for r in df.select("handle").collect())


def test_overwrite_is_visible(spark, entities_df, tmp_path):
    path = str(tmp_path / "store")
    old, new = _halves(entities_df)
    write_entities(old, path)
    q = (0.0, 0.0, 4096.0, 4096.0)
    assert _handles(read_entities(spark, path)) == _handles(old)
    assert _handles(read_entities_bbox(spark, path, *q)) == _handles(_overlapping(old, q))
    write_entities(new, path)
    assert _handles(read_entities(spark, path)) == _handles(new)
    assert _handles(read_entities_bbox(spark, path, *q)) == _handles(_overlapping(new, q))


def test_append_is_visible(spark, entities_df, tmp_path):
    """Appends show in the next read, also one that bypasses
    write_entities: it still moves the _SUCCESS marker, the cache's
    validity token."""
    path = str(tmp_path / "store")
    old, new = _halves(entities_df)
    write_entities(old, path)
    assert read_entities(spark, path).count() == old.count()
    write_entities(new, path, mode="append")
    assert read_entities(spark, path).count() == entities_df.count()
    with_cell_prefix(old).write.mode("append").partitionBy("cell_p").parquet(path)
    assert read_entities(spark, path).count() == entities_df.count() + old.count()

"""Lineage + idempotent resume (north_rule checkpoint contract)."""

import pyspark.sql.functions as F
import pytest

from dxf_postgis_converter_spark.functions.decode import decode_documents
from dxf_postgis_converter_spark.plans.lineage import (
    BUCKET_COL,
    LineageLog,
    run_stage,
)

N_BUCKETS = 8


def _transform(df):
    return decode_documents(df).select(
        "doc_id", "span_offset", "handle", "layer", "entity_type", "geom_type")


@pytest.fixture()
def dirs(tmp_path):
    return str(tmp_path / "out"), LineageLog(str(tmp_path / "lineage"))


def test_single_shot_complete(spark, docs_df, dirs):
    out_dir, log = dirs
    s = run_stage(spark, stage="decode", snapshot_id="v1", source=docs_df,
                  transform=_transform, out_dir=out_dir, lineage=log,
                  n_buckets=N_BUCKETS)
    assert s["complete"] and s["processed_buckets"] == N_BUCKETS
    expected = _transform(docs_df).count()
    assert spark.read.parquet(out_dir).count() == expected
    assert s["rows"] == expected


def test_resume_after_partial_run(spark, docs_df, dirs):
    out_dir, log = dirs
    s1 = run_stage(spark, stage="decode", snapshot_id="v1", source=docs_df,
                   transform=_transform, out_dir=out_dir, lineage=log,
                   n_buckets=N_BUCKETS, max_buckets_per_run=3)
    assert not s1["complete"] and s1["processed_buckets"] == 3
    s2 = run_stage(spark, stage="decode", snapshot_id="v1", source=docs_df,
                   transform=_transform, out_dir=out_dir, lineage=log,
                   n_buckets=N_BUCKETS)
    assert s2["complete"] and s2["skipped_buckets"] == 3
    assert s2["processed_buckets"] == N_BUCKETS - 3
    # output identical to a single-shot run: no missing rows, no duplicates
    got = spark.read.parquet(out_dir).drop(BUCKET_COL)
    expected = _transform(docs_df)
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_rerun_is_noop(spark, docs_df, dirs):
    out_dir, log = dirs
    run_stage(spark, stage="decode", snapshot_id="v1", source=docs_df,
              transform=_transform, out_dir=out_dir, lineage=log, n_buckets=N_BUCKETS)
    n1 = spark.read.parquet(out_dir).count()
    s = run_stage(spark, stage="decode", snapshot_id="v1", source=docs_df,
                  transform=_transform, out_dir=out_dir, lineage=log, n_buckets=N_BUCKETS)
    assert s["processed_buckets"] == 0 and s["skipped_buckets"] == N_BUCKETS
    assert spark.read.parquet(out_dir).count() == n1


def test_crash_heals_partial_bucket(spark, docs_df, dirs):
    """Simulate a crash AFTER data landed but BEFORE lineage was appended:
    run bucket 0's write manually with no lineage row, then run the stage —
    it must overwrite (not duplicate) that bucket."""
    out_dir, log = dirs
    from dxf_postgis_converter_spark.plans.lineage import bucket_of
    partial = _transform(docs_df).withColumn(BUCKET_COL, bucket_of("doc_id", N_BUCKETS)) \
        .filter(F.col(BUCKET_COL) == 0).limit(5)  # half-written bucket
    partial.write.mode("overwrite").option("partitionOverwriteMode", "dynamic") \
        .partitionBy(BUCKET_COL).parquet(out_dir)
    s = run_stage(spark, stage="decode", snapshot_id="v1", source=docs_df,
                  transform=_transform, out_dir=out_dir, lineage=log, n_buckets=N_BUCKETS)
    assert s["complete"]
    got = spark.read.parquet(out_dir).drop(BUCKET_COL)
    expected = _transform(docs_df)
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_new_snapshot_not_confused(spark, docs_df, dirs):
    out_dir, log = dirs
    run_stage(spark, stage="decode", snapshot_id="v1", source=docs_df,
              transform=_transform, out_dir=out_dir, lineage=log, n_buckets=N_BUCKETS)
    s = run_stage(spark, stage="decode", snapshot_id="v2", source=docs_df,
                  transform=_transform, out_dir=out_dir, lineage=log, n_buckets=N_BUCKETS)
    assert s["processed_buckets"] == N_BUCKETS  # v2 resumes nothing from v1
    m = {(r.stage, r.snapshot_id): r for r in log.read(spark)
         .groupBy("stage", "snapshot_id")
         .agg(F.countDistinct(BUCKET_COL).alias("n_buckets"),
              F.sum("row_count").alias("total_rows")).collect()}
    assert m[("decode", "v1")].n_buckets == N_BUCKETS
    assert m[("decode", "v2")].n_buckets == N_BUCKETS
    assert m[("decode", "v1")].total_rows == m[("decode", "v2")].total_rows


def test_failed_stage_records_nothing(spark, docs_df, dirs):
    """A stage that dies mid-run must leave no COMPLETE lineage rows, so
    the next run redoes all of it."""
    out_dir, log = dirs
    with pytest.raises(Exception):
        run_stage(spark, stage="decode", snapshot_id="v1", source=docs_df,
                  transform=lambda df: df.select("no_such_column"),
                  out_dir=out_dir, lineage=log, n_buckets=N_BUCKETS)
    assert log.completed_buckets(spark, "decode", "v1") == []
    s = run_stage(spark, stage="decode", snapshot_id="v1", source=docs_df,
                  transform=_transform, out_dir=out_dir, lineage=log,
                  n_buckets=N_BUCKETS)
    assert s["complete"] and s["processed_buckets"] == N_BUCKETS


def test_run_stage_from_snapshot_table(spark, docs_df, dirs, tmp_path):
    """Lineage keyed by REAL snapshot ids: same snapshot resumes (all
    buckets skipped), a new commit to the source re-processes everything
    under a distinct snapshot id — resume state never leaks across data
    versions."""
    from dxf_postgis_converter_spark.plans.lineage import (
        run_stage_from_table,
    )
    from dxf_postgis_converter_spark.sources.snapshot_store import (
        SnapshotTable,
    )

    out_dir, log = dirs
    src = SnapshotTable(spark, str(tmp_path / "docs_tbl"))
    src.append(docs_df.limit(20))

    s1 = run_stage_from_table(spark, stage="decode", table=src,
                              transform=_transform, out_dir=out_dir,
                              lineage=log, n_buckets=N_BUCKETS)
    assert s1["complete"] and s1["processed_buckets"] == N_BUCKETS

    # same snapshot → pure resume, nothing re-processed
    s2 = run_stage_from_table(spark, stage="decode", table=src,
                              transform=_transform, out_dir=out_dir,
                              lineage=log, n_buckets=N_BUCKETS)
    assert s2["processed_buckets"] == 0 and s2["skipped_buckets"] == N_BUCKETS

    # new commit = new snapshot id → full re-process, old state intact
    src.append(docs_df.limit(30).subtract(docs_df.limit(20)))
    s3 = run_stage_from_table(spark, stage="decode", table=src,
                              transform=_transform, out_dir=out_dir,
                              lineage=log, n_buckets=N_BUCKETS)
    assert s3["processed_buckets"] == N_BUCKETS

    sids = {r.snapshot_id
            for r in log.read(spark).select("snapshot_id").distinct().collect()}
    assert sids == {src._manifest(0)["snapshot_id"],
                    src._manifest(1)["snapshot_id"]}
    # the final out_dir state reflects the NEW snapshot's full input
    n_out = spark.read.parquet(out_dir).select("doc_id").distinct().count()
    assert n_out == 30

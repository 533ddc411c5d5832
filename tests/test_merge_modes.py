"""Import merge modes (J5-J7): set-algebra semantics vs the reference's
per-mode behaviour (import_use_case.py:424-530), plus the import report.
SnapshotTable.merge, the store that persists a merge, is covered in
test_snapshot_store."""

import pyspark.sql.functions as F
import pytest

from dxf_postgis_converter_spark.operators.merge_modes import (
    ImportMode,
    add_objects,
    apply_mode,
    import_report,
    overwrite_layers,
    overwrite_objects,
)

COLS = "doc_id string, layer string, name string, entity_type string, payload string"


@pytest.fixture(scope="module")
def target(spark):
    return spark.createDataFrame([
        ("d1", "L1", "A", "LINE", "t1"),
        ("d1", "L1", "B", "LINE", "t2"),
        ("d1", "L2", "C", "TEXT", "t3"),
        ("d2", "L1", "A", "LINE", "t4"),
    ], COLS).cache()


@pytest.fixture(scope="module")
def source(spark):
    return spark.createDataFrame([
        ("d1", "L1", "A", "LINE", "s1"),   # key exists in target
        ("d1", "L1", "D", "ARC", "s2"),    # new key, existing layer
        ("d1", "L3", "E", "TEXT", "s3"),   # new layer
    ], COLS).cache()


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_overwrite_layers(target, source):
    got = _rows(overwrite_layers(target, source))
    # (d1,L1) replaced wholesale: B gone, A=s1, D added; (d1,L2),(d2,L1) kept
    assert got == {
        ("d1", "L1", "A", "LINE", "s1"), ("d1", "L1", "D", "ARC", "s2"),
        ("d1", "L3", "E", "TEXT", "s3"), ("d1", "L2", "C", "TEXT", "t3"),
        ("d2", "L1", "A", "LINE", "t4"),
    }


def test_overwrite_objects(target, source):
    got = _rows(overwrite_objects(target, source))
    # A@d1/L1 updated to s1; B kept; new rows appended
    assert ("d1", "L1", "A", "LINE", "s1") in got
    assert ("d1", "L1", "A", "LINE", "t1") not in got
    assert ("d1", "L1", "B", "LINE", "t2") in got
    assert ("d2", "L1", "A", "LINE", "t4") in got  # other doc untouched
    assert len(got) == 6


def test_add_objects(target, source):
    got = _rows(add_objects(target, source))
    # A@d1/L1 kept as t1 (insert-if-absent); D and E appended
    assert ("d1", "L1", "A", "LINE", "t1") in got
    assert ("d1", "L1", "A", "LINE", "s1") not in got
    assert ("d1", "L1", "D", "ARC", "s2") in got
    assert len(got) == 6


def test_apply_mode_dispatch(target, source):
    assert _rows(apply_mode(target, source, "add_objects")) == _rows(add_objects(target, source))
    assert _rows(apply_mode(target, source, ImportMode.OVERWRITE_LAYERS)) == \
        _rows(overwrite_layers(target, source))


def test_import_report_counts_merged_state(target, source):
    state = add_objects(target.withColumn("geometry_wkb", F.lit(b"")),
                        source.withColumn("geometry_wkb", F.lit(b"")))
    rep = {(r.doc_id, r.layer): r.n_entities for r in import_report(state).collect()}
    assert rep[("d1", "L1")] == 3

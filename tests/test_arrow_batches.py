"""Every mapInArrow body on the degenerate batches Spark can hand it: a
zero-row batch yields no rows, and a batch of nothing but NULL or
malformed input yields error rows (or no rows), never an exception that
would fail the whole batch. Called directly on pyarrow batches, no
Spark."""

import struct

import pyarrow as pa
import pytest

from dxf_postgis_converter_spark.functions.decode import _decode_arrow_batches
from dxf_postgis_converter_spark.operators.insert_expand import _expand_batches
from dxf_postgis_converter_spark.operators.reconstruct import _rebuild_arrow_batches
from dxf_postgis_converter_spark.operators.spatial_join import _edge_batches

# NULL, unparseable, and JSON that is not an object
BAD_JSON = [None, "{not json", "[1]", "null", '"s"',
            '{"geometries": 5, "extra_data": [1]}']
# NULL, truncated header, truncated ring, a POINT, big-endian, 2-D POLYGON
BAD_WKB = [None, b"\x01\x03",
           b"\x01" + struct.pack("<III", 1003, 1, 5),
           b"\x01" + struct.pack("<I", 1001) + bytes(24),
           bytes(9),
           b"\x01" + struct.pack("<II", 3, 0)]


N = len(BAD_JSON)
IDS = [f"r{i}" for i in range(N)]
# the Arrow types Spark hands each column to the Python worker
TYPES = {"doc_id": pa.string(), "media_ref": pa.string(), "offset": pa.int32(),
         "span_offset": pa.int32(), "handle": pa.string(),
         "data_json": pa.string(), "zone_id": pa.string(),
         "geometry_wkb": pa.binary()}


def _batch(cols: dict, n: int):
    return pa.RecordBatch.from_arrays(
        [pa.array(v[:n], TYPES[k]) for k, v in cols.items()], names=list(cols))


def _check_decode(out):
    assert out.num_rows == N
    assert out.column("entity_type").to_pylist() == ["UNKNOWN"] * N
    assert None not in out.column("error").to_pylist()


def _check_expand(out):
    # a NULL data_json was decode's error already; every other row is
    # one INSERT error record
    assert out.num_rows == N - 1
    assert all("unparseable" in e for e in out.column("error").to_pylist())


def _check_rebuild(out):
    # the last payload is a JSON object, so it is rebuilt (and its span
    # then mismatches); every other one gets a NULL media_ref
    assert out.num_rows == N
    assert out.column("media_ref").to_pylist()[:-1] == [None] * (N - 1)


def _check_edges(out):
    assert out.num_rows == 0


CASES = {
    "decode": (_decode_arrow_batches,
               {"doc_id": IDS, "media_ref": BAD_JSON, "offset": list(range(N))},
               _check_decode),
    "insert_expand": (lambda it: _expand_batches(it, 32),
                      {"doc_id": IDS, "span_offset": list(range(N)),
                       "handle": IDS, "data_json": BAD_JSON},
                      _check_expand),
    "reconstruct": (_rebuild_arrow_batches,
                    {"doc_id": IDS, "span_offset": list(range(N)),
                     "data_json": BAD_JSON},
                    _check_rebuild),
    "spatial_join": (_edge_batches,
                     {"zone_id": IDS[:len(BAD_WKB)], "geometry_wkb": BAD_WKB},
                     _check_edges),
}


def _run(fn, batch):
    """All output batches of fn over one input batch, as one table."""
    out = list(fn(iter([batch])))
    return pa.Table.from_batches(out) if out else None


@pytest.mark.parametrize("stage", sorted(CASES))
def test_zero_row_batch_yields_no_rows(stage):
    fn, cols, _ = CASES[stage]
    out = _run(fn, _batch(cols, 0))
    assert out is None or out.num_rows == 0


@pytest.mark.parametrize("stage", sorted(CASES))
def test_all_bad_batch_does_not_fail(stage):
    fn, cols, check = CASES[stage]
    out = _run(fn, _batch(cols, N))
    check(out if out is not None else pa.table({}))

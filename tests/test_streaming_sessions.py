"""Custom stateful operator: gap sessionization over window functions."""

import datetime as dt

import pyspark.sql.functions as F
import pytest

from dxf_postgis_converter_spark.streaming.events import EVENTS_SCHEMA
from dxf_postgis_converter_spark.streaming.sessions import sessionize_batch

EVENTS = "/root/testdata/sf0.001/events.parquet"


@pytest.fixture(scope="module")
def small_events(spark):
    e = spark.read.parquet(EVENTS).select("event_id", "ts", "user_id", "event_type", "value")
    return e.filter(F.col("user_id") < 8).cache()


def test_batch_sessions_shape(small_events):
    s = sessionize_batch(small_events, gap_min=30)
    rows = s.collect()
    assert len(rows) > 0
    assert all(r.session_start <= r.session_end for r in rows)
    # session event counts add up
    assert sum(r.n_events for r in rows) == small_events.count()


def test_batch_gap_splits(spark):
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [(i, base + dt.timedelta(minutes=m), 1, "c", 1.0)
            for i, m in enumerate([0, 10, 20, 120, 125])]  # 100-min gap splits
    e = spark.createDataFrame(rows, EVENTS_SCHEMA)
    s = sessionize_batch(e, gap_min=30).orderBy("session_start").collect()
    assert len(s) == 2
    assert s[0].n_events == 3 and s[1].n_events == 2

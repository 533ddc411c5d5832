"""Gap-based sessionization — the engine's custom stateful operator.

Pure window functions (lag → gap flag → running sum = session index; the
gaps-and-islands formulation, fully SQL-expressible — the DuckDB oracle
for q_sessionize).

Scale: one shuffle on user_id + one window sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F

DEFAULT_GAP_MIN = 30


def sessionize_batch(events: DataFrame, gap_min: int = DEFAULT_GAP_MIN) -> DataFrame:
    """events(user_id, ts, value) → one row per session."""
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sid = F.sum(
        F.when(gap.isNull() | (gap > gap_min * 60), 1).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        events.withColumn("_sid", sid)
        .groupBy("user_id", "_sid")
        .agg(F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"),
             F.count("*").alias("n_events"),
             F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2)
             .alias("total_value"))
        .drop("_sid")
    )

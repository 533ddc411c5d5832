"""Skew handling: hot-cell detection, adaptive cell splitting, salted
repartitioning (north_star: "skew from dense CAD sheets is handled with
salted repartitioning on cell prefix plus adaptive cell-splitting of hot
cells"; SURVEY §4.3 — AQE's skew-join splitting alone is not enough when
one grid cell holds a dense sheet's whole entity population).

All three are plain DataFrame code, no planner extensions:

- ``hot_cells``: per-cell counts above a cap — one map-side-combined
  groupBy over the (already narrow) cell column.
- ``adaptive_cell_index``: assign base-res cells, then re-index ONLY the
  rows inside hot cells at res+1, repeating until every cell is under
  the cap or max_res is hit. Each round touches a shrinking subset
  (hot rows only), so total work is O(rows · hot-depth), and the result
  is a mixed-resolution cell column whose per-cell population is
  bounded — the partitioning key for downstream joins/writes.
- ``salt_col``: deterministic salt from a row key, spreading any
  residual hot cell across ``n_salt`` reducers (the join-side
  replication lives in spatial_join.zone_cover_cells).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize
from .grid import cell_col, cell_res

DEFAULT_CAP = 100_000


def hot_cells(df: DataFrame, cell: str = "cell", cap: int = DEFAULT_CAP) -> DataFrame:
    """Cells whose row count exceeds the cap: (cell, n)."""
    return df.groupBy(cell).agg(F.count("*").alias("n")).filter(F.col("n") > cap)


def adaptive_cell_index(
    df: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
    base_res: int = 6,
    max_res: int = 12,
    cap: int = DEFAULT_CAP,
) -> DataFrame:
    """df + mixed-resolution ``cell`` column with ≤cap rows per cell
    (except cells already at max_res, which cannot split further).

    Driver-side bounded loop (the reference pattern of SURVEY §4.3):
    each round re-indexes only rows whose current cell is hot. Hot-cell
    id sets are tiny (they are the skewed tail by definition) → broadcast
    semi/anti joins, never a shuffle of the full table.
    """
    out = df.withColumn("cell", cell_col(F.col(x_col), F.col(y_col), base_res))
    for res in range(base_res + 1, max_res + 1):
        # truncate lineage each round (hot_cells' aggregate materializes
        # it): the plan otherwise doubles per iteration (cold ∪ resplit
        # both reference the previous round's whole tree) and blows up the
        # driver. On a real cluster each round would land in the stage's
        # checkpoint table (plans/lineage.py run_stage): same cut, durable.
        out = materialize(out)
        hot = hot_cells(out, cap=cap).select("cell")
        if hot.isEmpty():
            break
        hot = F.broadcast(hot)
        cold = out.join(hot, "cell", "left_anti")
        resplit = out.join(hot, "cell", "left_semi") \
            .withColumn("cell", cell_col(F.col(x_col), F.col(y_col), res))
        out = cold.unionByName(resplit)
    return out


def salt_col(key_col: str, n_salt: int) -> F.Column:
    """Deterministic salt in [0, n_salt) from a stable row key."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_salt)).cast("int")


def cell_population_stats(df: DataFrame, cell: str = "cell") -> DataFrame:
    """Operational skew report: per-resolution max/avg cell population."""
    per_cell = df.groupBy(cell).agg(F.count("*").alias("n"))
    return per_cell.groupBy(cell_res(F.col(cell)).alias("res")).agg(
        F.count("*").alias("n_cells"),
        F.max("n").alias("max_cell_rows"),
        F.round(F.avg("n"), 2).alias("avg_cell_rows"),
        F.sum("n").alias("rows"))

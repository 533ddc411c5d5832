"""Cell-prefix partitioned entity store (SURVEY §4.4: "derived entities
written with cell prefix partitioning").

Layout: one partition directory per coarse cell (``cell_p`` = quadtree
cell at ``prefix_res``), so spatially-scoped reads — area selections,
PIP probes against a zone's neighbourhood, tile renders — prune whole
partitions at planning time (Catalyst ``PartitionFilters``) instead of
scanning 10^12 rows. ``prefix_res`` 3 → ≤64 directories, 4 → ≤256; pick
so each partition is 10s of GB at target scale (repartition before write
keeps one file per partition instead of files × tasks).

Geometry-less entities (DIMENSION, 3DSOLID, …) land in the reserved
``cell_p = -1`` partition, so nothing is dropped and non-spatial readers
still see every row.

Open once per session: ``spark.read.parquet`` on a store is not free.
It lists every partition directory (a parallel job once there are more
than 32 of them), reads a footer for the schema (a 1-task job) and pays
the driver gaps between the two. On a 65-partition store of 1000
documents at local[4] (4 cores, 15 GB) one open cost 0.6–1.1 s (median
0.7 s over 8), almost all of it fixed, against ≈4 ms for handing back an
open relation; re-opening per query spent about a quarter of a warm
query pass on listing the same directory again. ``read_entities``
therefore keeps the opened relation per (SparkSession, path) and hands
it back while the store is unchanged; every call returns the same
DataFrame (alias the two sides to self-join it). The cache is
invalidated three ways:

- the validity token is the modification time of the store's
  ``_SUCCESS`` marker, read through the path's Hadoop ``FileSystem`` (one
  metadata call, on any filesystem), so any later committed write, from
  any writer, re-opens the store; a store without a marker is never
  cached;
- ``write_entities`` drops the entry for its path, in every mode;
- a relation is only handed back to the session that opened it.
"""

from __future__ import annotations

from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.grid import cell_col

DEFAULT_PREFIX_RES = 3  # 8x8 grid → at most 64 + 1 partitions

# Intermediate materializations (the entities table is re-read by every
# downstream stage, then superseded) default to lz4: measured 4.5s vs
# 26s (zstd, contended) / ~8.5s (zstd, quiet) for the sf0.1 decode write
# at +33% size — write throughput beats storage for short-lived tables.
# Final/exported tables keep the session-level zstd default (session.py).
import os as _os

INTERMEDIATE_CODEC = _os.environ.get("SPARK_GRAFT_INTERMEDIATE_CODEC", "lz4")


@dataclass
class _Open:
    """One opened store: the relation, the ``_SUCCESS`` mtime it was
    opened at, and the largest bbox half-width/height in it (computed on
    the first bbox read)."""
    df: DataFrame
    token: int | None
    reach: tuple[float, float] | None = None


# qualified store path → its open in the session that last read it
_OPENED: dict[str, _Open] = {}


def _locate(spark: SparkSession, path: str) -> tuple[str, int | None]:
    """(fully qualified path, ``_SUCCESS`` mtime or None without a marker)."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    p = Path(path)
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    qualified = fs.makeQualified(p)
    try:
        token = fs.getFileStatus(Path(qualified, "_SUCCESS")).getModificationTime()
    except Py4JJavaError as e:
        if not e.java_exception.getClass().getName().endswith("FileNotFoundException"):
            raise
        token = None
    return qualified.toString(), token


def _open(spark: SparkSession, path: str) -> _Open:
    # no lock: every hit re-checks the token, so a race between readers
    # at worst opens the store twice
    key, token = _locate(spark, path)
    hit = _OPENED.get(key)
    if hit is not None and token is not None and hit.token == token \
            and hit.df.sparkSession is spark:
        return hit
    opened = _Open(spark.read.parquet(path), token)
    if token is None:
        _OPENED.pop(key, None)
    else:
        _OPENED[key] = opened
    return opened


def with_cell_prefix(entities: DataFrame, prefix_res: int = DEFAULT_PREFIX_RES) -> DataFrame:
    """Add the partition column: coarse cell of the bbox centre
    (geometry-less rows → -1)."""
    cx = (F.col("xmin") + F.col("xmax")) / 2
    cy = (F.col("ymin") + F.col("ymax")) / 2
    return entities.withColumn(
        "cell_p",
        F.when(F.col("xmin").isNull(), F.lit(-1).cast("long"))
        .otherwise(cell_col(cx, cy, prefix_res)))


def write_entities(entities: DataFrame, path: str,
                   prefix_res: int = DEFAULT_PREFIX_RES, mode: str = "overwrite") -> None:
    """Write partitioned by cell prefix; repartition on the partition
    column first so each partition directory gets one writer (without it
    every task writes a file into every partition → tasks × partitions
    small files, the classic 10^12-row write mistake). Drops the path's
    opened relation, whatever the mode, so the next read re-opens it."""
    key = _locate(entities.sparkSession, path)[0]
    try:
        with_cell_prefix(entities, prefix_res) \
            .repartition(F.col("cell_p")) \
            .write.mode(mode).partitionBy("cell_p") \
            .option("compression", INTERMEDIATE_CODEC).parquet(path)
    finally:
        _OPENED.pop(key, None)


def read_entities(spark: SparkSession, path: str) -> DataFrame:
    """The stored entity table, opened once per session (module doc)."""
    return _open(spark, path).df


def read_entities_bbox(spark: SparkSession, path: str,
                       xmin: float, ymin: float, xmax: float, ymax: float,
                       prefix_res: int = DEFAULT_PREFIX_RES) -> DataFrame:
    """Exactly the rows whose bbox overlaps the query bbox.

    Rows are partitioned by the cell of their bbox *centre*, so an entity
    can overlap the window from a cell the window does not cover. The
    window is widened by the store's largest bbox half-width and
    half-height before taking its cell cover (the widen-the-query answer
    to objects spanning partition borders, cf. Parallel Spatial Join
    Processing with Adaptive Replication, EDBT 2025); that extent is one
    small aggregate per opened store. The prefix cells prune partitions
    (a literal IN-list on cell_p → Catalyst's PartitionFilters), then the
    rows are filtered exactly."""
    from ..index.grid import covers_py

    opened = _open(spark, path)
    df = opened.df
    if opened.reach is None:
        w, h = df.agg(F.max(F.col("xmax") - F.col("xmin")),
                      F.max(F.col("ymax") - F.col("ymin"))).first()
        opened.reach = ((w or 0.0) / 2, (h or 0.0) / 2)
    rx, ry = opened.reach
    cells = covers_py(xmin - rx, ymin - ry, xmax + rx, ymax + ry, prefix_res)
    return df.filter(F.col("cell_p").isin(cells)).filter(
        (F.col("xmin") <= xmax) & (F.col("xmax") >= xmin)
        & (F.col("ymin") <= ymax) & (F.col("ymax") >= ymin))

"""SparkSession factory with scale-oriented defaults.

Designed for a multi-executor cluster at 100 TB; tested on local[N].
All settings are plain public Spark confs — AQE on (runtime re-plan +
skew-join backstop), Arrow on (every Python crossing is batched).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "dxf-postgis-converter-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores) so the same code path runs under spark-submit on a real cluster
    (where master is provided externally and this arg stays None).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or _default_shuffle_partitions()))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # bytes cap complements the record cap (whichever hits first):
        # bounds the Arrow batch for wide rows (multimodal binary
        # payloads can be MBs each), which keeps the Python-worker socket
        # from saturating in both directions at once (a PythonRunner
        # flow-control deadlock)
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "16777216")
        # interleaved documents carry ~100KB span arrays per row: the
        # stock 4096-row vectorized-reader batch reserves 100s of MB of
        # contiguous heap PER TASK on such columns, and a few overlapping
        # scans at local[32] OOM the JVM (observed r6: sf0.4 contamination
        # stage, three concurrent documents scans). 512 rows ≈ tens of MB
        # per task on blob columns, unnoticeable on narrow ones.
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        # 32m, not the stock 128m: scan partitions feed Arrow→Python
        # stages, so a stage needs ≥3-4 waves of tasks per core for
        # straggler smoothing. Spark's split formula (totalBytes /
        # defaultParallelism, clamped by maxPartitionBytes) degenerates to
        # ~1 task per core once input/cores exceeds the clamp — measured
        # at sf0.4/local[8]: 9 tasks for 8 cores ran decode at 0.58
        # scaling efficiency vs 0.84 with 32m (34 tasks, 4 waves). At
        # cluster scale 32m splits of a 100 TB table = 3.1M tasks ≈
        # hundreds of waves on 4k slots — same property, fine for Spark.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "32m"))
        # Scan-parallelism floor: MEASURED AND REJECTED in r8, recorded
        # here so it is not retried. A minPartitionNum of 2-4× cores
        # un-packs the 64-file/213MB corpus into 64-128 splits; that
        # looked like a decode win under a noisy first measurement, but
        # controlled A/B (same session / order-swapped) showed 64-split
        # decode is SLOWER than the default 32 (4.5s vs 3.6-4.0s noop —
        # per-task overhead beats wave smoothing when tasks are already
        # balanced) and the 64-file entities table it writes costs
        # +0.2-0.5s on EVERY downstream scan (per-file reader init ×2).
        # So spark.sql.files.minPartitionNum is left unset: Spark's own
        # default (the cluster's defaultParallelism) applies.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Generated-class cache. A static conf; stock 100 entries. One
        # warm perfbench `read` pass generates more distinct classes than
        # that (kNN ≈100 per call), so the LRU thrashed and every call
        # recompiled: a repeated kNN call (2000 probes × 16k targets,
        # k=5, local[4]) compiled 27 classes. At 2000 entries it compiles
        # 0, and the warm per-op medians of 4 `read` runs fell for kNN
        # 6.17 → 5.41 s and dedup 3.36 → 2.68 s, the whole pass 20.6 →
        # 18.6 s, with no rise in peak RSS (≈4.8 GB).
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.ui.enabled", "false")
        # Shuffle/spill scratch space. Measured on this box: pointing it
        # at tmpfs changes NOTHING at bench scale (1M-probe kNN local[8]
        # 56.5s tmpfs vs 53.2s /tmp, within run noise) — the page cache
        # already absorbs our ≤ few-GB shuffle writes, so the residual
        # non-parallel cost is NOT disk-serialization. Env override kept
        # for machines where scratch really is a slow disk; on a real
        # cluster the cluster manager sets this.
        .config("spark.local.dir", os.environ.get("SPARK_GRAFT_LOCAL_DIR",
                                                  os.environ.get("TMPDIR", "/tmp")))
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER_SET"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def materialize(df: DataFrame) -> DataFrame:
    """The engine's one materialization barrier: ``df`` with its lineage
    truncated, for an intermediate that several consumers (or the rounds
    of a driver loop, whose plan then stays flat) would recompute.

    Lazy: the next action over the result stores it, so the barrier adds
    no job of its own. Its blocks are freed when the DataFrame is
    garbage-collected, so there is nothing to unpersist. A failed task
    recomputes only its own partition; durability across executor loss
    belongs to ``plans/lineage.py``'s checkpoint tables, not here.
    """
    return df.localCheckpoint(eager=False)


def _driver_memory() -> str:
    """``SPARK_DRIVER_MEMORY`` (deployment override), else ≈60 % of the
    machine's physical RAM capped at 16g: the rest is for the Python
    workers, the JVM's off-heap memory and the page cache. In local mode
    the driver JVM runs every task, so a fixed 16g overcommits a 15 GB
    box."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return os.environ["SPARK_DRIVER_MEMORY"]
    mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") * 6 // 10 >> 20
    return f"{min(mib, 16 << 10)}m"


def _cpu_count() -> int:
    """Core count the session is sized for (SPARK_GRAFT_CPUS, else all)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    try:
        return int(cpus) if cpus else os.cpu_count() or 8
    except ValueError:
        return os.cpu_count() or 8


def _default_shuffle_partitions() -> int:
    """Shuffle partitions ∝ cores (≈2x) so scaling N→4N keeps partition
    counts proportional — required for the ≥0.8 scaling-efficiency target."""
    return max(8, 2 * _cpu_count())

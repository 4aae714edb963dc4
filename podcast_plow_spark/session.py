"""SparkSession factory with scale-appropriate defaults.

Design notes for the 100 TB target (tested on local[N]):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting.
- Arrow enabled and batch-size bounded: every per-row kernel in this
  engine is a pandas UDF; batch size caps executor-python memory when
  rows carry binary image payloads (SURVEY.md §7 "binary payloads").
- Session timezone pinned UTC: the reference coerces all timestamps to
  UTC (reference server/services/jobs.py:77-92).
- shuffle.partitions default 32 locally. AQE's
  `spark.sql.adaptive.coalescePartitions` was meant to supersede that
  number, but it did not reach cached plans:
  `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` defaults
  to false (Spark 4.1), which keeps AQE from changing a cached plan's
  output partitioning, so the last shuffle under every `.cache()` ran
  all 32 partitions. A crawl epoch ran its ~500-row windows and Python
  UDFs in 32 tasks each. The setting is now on (see get_spark).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark"]


def get_spark(
    app_name: str = "podcast-plow-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cores`` may be an int (→ ``local[n]``), a full master string
    (``local[*]``, ``local-cluster[n,c,m]``, ``spark://…``), or the
    sentinel ``"submit"`` — meaning the master (and driver memory)
    were fixed by ``spark-submit`` and must not be overridden here;
    every other engine conf still applies.
    """
    # one BLAS thread per python worker: N workers × M-thread BLAS pools
    # oversubscribe the box and anti-scale every numpy kernel
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    from_submit = str(cores) == "submit"
    master = f"local[{cores}]" if not str(cores).startswith(("local", "spark://", "yarn")) else str(cores)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = SparkSession.builder.appName(app_name)
    if not from_submit:
        builder = builder.master(master)
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce (and skew-split) shuffles inside cached
        # relations too. The crawl engine caches its per-epoch batch,
        # dequeue prefix, probed candidates and new rows; without this
        # each of those plans ran the full shuffle.partitions count of
        # tasks over a batch of ~100-500 rows. AQE only merges
        # partitions below its target size, so large cached relations
        # keep their parallelism. Interleaved A/B of perfbench
        # crawl-feeds on a 4-core VM: whole-crawl CPU median 98.2 s
        # without it, 70.7 s with it alone (3 runs), 67.9 s with it
        # plus the engine's single-pass candidate kernel (12 pairs).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.filterPushdown", "true")
        # INT96 (the legacy default) has no usable column stats —
        # TIMESTAMP_MICROS makes run_at row-group min/max real, so the
        # dequeue's order-key prefix filter can prune WRITE ORDERED BY
        # frontier files on its timestamp component, not just priority
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # r6 (optimization guide §3.1/§9): let the planner pick a
        # shuffled-hash join when the per-partition build side fits —
        # avoids sorting both sides of every big equi-join (sort-merge
        # stays available for sides the estimator calls big); the AQE
        # threshold additionally rewrites SMJ→SHJ at runtime from REAL
        # post-shuffle sizes, which catches the aggregated/UDF-derived
        # sides whose static estimates are inflated
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", str(64 * 1024 * 1024))
        # r6 (guide §6): the sandbox tables are SINGLE ~10-130 MB parquet
        # files, so the default 128 MB split size gives the whole scan to
        # ONE task and every scan-heavy stage starts sequential. 8 MB
        # splits spread a 126 MB lineitem over 16 tasks. Parameterised
        # because the right value is deployment-dependent: on a real
        # 100 TB layout with 128 MB-1 GB row-grouped files the guide's
        # recommendation is the opposite (512 MB-1 GB splits to cut
        # scheduling overhead) — set SPARK_GRAFT_MAX_PARTITION_BYTES.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(8 * 1024 * 1024)),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    if not from_submit:
        # local mode: driver heap IS the executor heap — size it for
        # 32 concurrent task threads (execution memory) + cached tables,
        # else execution evicts storage and cached plans silently
        # recompute (measured 3× per-epoch regression at local[32]).
        # Under spark-submit the driver JVM is already up — its heap is
        # whatever --driver-memory said; setting the conf here would be
        # silently ignored, so don't pretend.
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
        )
    # Shuffle/spill to tmpfs when useful: this VM's virtualized
    # disk makes shuffle-block commits pathologically slow (measured
    # 84 s of cumulative shuffle-write time for a 16 MiB exchange —
    # file create/sync latency, not bandwidth). Production clusters
    # put spark.local.dir on NVMe or use an external shuffle service;
    # RAM-backed local dirs are the single-box equivalent. But many
    # containers cap /dev/shm at 64 MB, where redirecting shuffle
    # there trades slow writes for ENOSPC — so only auto-default when
    # the tmpfs actually has headroom (≥4 GiB free). Explicit
    # overrides: SPARK_GRAFT_LOCAL_DIR=<dir> picks the dir,
    # SPARK_GRAFT_TMPFS=0 disables the auto-default entirely.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if (
        local_dir is None
        and os.environ.get("SPARK_GRAFT_TMPFS", "1") != "0"
        and os.path.isdir("/dev/shm")
    ):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 4 << 30:
                local_dir = "/dev/shm/spark-local"
        except OSError:
            pass
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()

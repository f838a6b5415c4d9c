"""SparkSession helpers tuned for the engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; production target is a
multi-executor cluster, so every default here (AQE, shuffle partitions,
Arrow exchange) is chosen to survive a 1000-executor / 100 TB scale-up.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_defaults() -> tuple[int, str]:
    """``(cpus, driver_memory)`` for the local session. An explicit
    ``SPARK_GRAFT_CPUS`` / ``SPARK_DRIVER_MEMORY`` wins; unset, cpus is
    the usable core count (the affinity mask, which a container's cpuset
    narrows) and driver memory is the smaller of 16g and half of
    physical RAM."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    mem = os.environ.get("SPARK_DRIVER_MEMORY")
    if not mem:
        ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
        mem = f"{min(16 << 10, ram_mb // 2)}m"
    return int(cpus), mem


_RUNTIME_CONFS = {
    # Reference semantics are IEEE/C++-style (x/0.0 -> ±inf, truncating
    # casts, null on invalid array index: SURVEY §2.7), which is Spark's
    # non-ANSI mode; Spark 4 flipped the default to ANSI (errors).
    "spark.sql.ansi.enabled": "false",
    # non-ANSI flips size(null) to -1 (legacy Hive quirk); we want null
    "spark.sql.legacy.sizeOfNull": "false",
    # AQE re-plans shuffles at runtime (partition coalescing + skew-join
    # splitting) — essential at 100 TB where static planning misestimates.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Shuffles START wide and AQE coalesces down by bytes: with
    # initialPartitionNum pinned to shuffle.partitions (=cores), a
    # corpus 10x the tuning point lands ~15M rows in each sort/agg
    # partition and spills (measured: 36 GB spill on the sf10 prefix-
    # jaccard stress tier, whose per_doc collect_list and verify-join
    # sorts exceeded executor memory at 32 partitions). 8x cores start
    # + byte-targeted coalescing keeps small stages at their old
    # effective width (AQE merges them back to ~advisoryPartitionSize)
    # while big stages keep the parallelism that bounds per-task sort
    # memory. On a 1000-executor cluster the same principle holds:
    # initial width scales with the cluster, AQE right-sizes per stage.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(
        host_defaults()[0] * 8
    ),
    # Arrow batch exchange for every pandas_udf / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # DuckDB oracle timestamps are UTC-naive; pin the session zone.
    "spark.sql.session.timeZone": "UTC",
}


def tune(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply runtime (session-settable) confs to an existing session.

    Used by driver-invoked query entry points, which receive a session we
    didn't build.
    """
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    if shuffle_partitions is None:
        shuffle_partitions = host_defaults()[0]
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    except Exception:
        pass
    return spark


def get_session(app: str = "torcharrow-spark") -> SparkSession:
    cpus, memory = host_defaults()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.driver.memory", memory)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(cpus))
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return tune(spark)

"""SparkSession factory with the engine's scale-oriented defaults.

Local-mode knobs mirror what a 1000-executor cluster submit would set via
spark-submit --conf: AQE on (runtime skew-join splitting + partition
coalescing), Arrow transport on for the pandas-UDF exact-geometry phase,
shuffle partitions sized to the parallelism rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(total_bytes: int | None = None) -> str:
    """Driver heap for this host: half of physical RAM (``total_bytes``,
    read from the OS when None), at least 1g and at most 24g. A fixed 24g
    heap on a 15 GB host lets the driver JVM grow until the OS kills it."""
    if total_bytes is None:
        total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(24, total_bytes // 2 // 2**30))}g"


def get_spark(
    app: str = "pygridmap_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    import re

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    # local[N] -> N threads; anything else (yarn, spark://, local[*])
    # falls back to the host cpu count for the shuffle-width default.
    m = re.fullmatch(r"local\[(\d+)\]", master)
    n_threads = int(m.group(1)) if m else cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n_threads))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

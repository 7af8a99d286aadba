"""SparkSession factory tuned for the index engine.

Defaults are sized for the sandbox (local[N], 32 cores) but every knob is
the one you would set on a real 1000-executor cluster: AQE on (runtime
skew-join + partition coalescing), Arrow execution for pandas UDFs, and a
shuffle-partition count that tracks parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "whoosh_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or _default_parallelism(master)))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def default_driver_memory(ram_bytes: int | None = None) -> str:
    """The driver heap: a quarter of physical RAM, at most 8 GB, so two
    Spark processes (a test run beside an oracle check) fit one machine.
    ``SPARK_GRAFT_DRIVER_MEM`` overrides it."""
    if ram_bytes is None:
        try:
            ram_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        except (ValueError, OSError, AttributeError):
            return "8g"
    return f"{max(512, min(8192, ram_bytes // 4 // 2**20))}m"


def _default_parallelism(master: str) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or 8
        try:
            return max(4, int(inner))
        except ValueError:
            return 32
    return 200

"""SparkSession factory tuned for this engine.

Mirrors the reference's session bootstrap (iceberg_it.py:27-39 builds a session
with Iceberg extensions + ANSI store assignment) but standalone: no external
catalog or JVM plugin is required. All engine capabilities are provided at the
Python layer.

Scale posture: AQE on (runtime coalescing, skew-join splitting), shuffle
partitions sized to the local core count for tests but overridable via env for
cluster runs, Arrow enabled for the Pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # Let Catalyst re-plan at runtime: coalesce small shuffle partitions,
    # split skewed ones — essential at 100 TB where static planning is wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic timezone so results match the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Arrow batch transfer for the (rare) Pandas-UDF paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI store assignment like the reference session (iceberg_it.py:38).
    "spark.sql.storeAssignmentPolicy": "ANSI",
    # INT64 micros instead of legacy INT96: parquet footers then carry
    # min/max statistics for timestamp columns (INT96 has none), which
    # the table format harvests into manifest lower/upper bounds for
    # file skipping. Matches what Iceberg's own parquet writer produces.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.ui.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


def default_driver_mem() -> str:
    """Local driver heap sized from physical RAM: everything but 32 GiB,
    at least a quarter of RAM and at most 48g. A host with 80 GB or more
    gets 48g; a 16 GB host gets 4g, leaving room for the Python side."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(48 * 1024, max(phys_mb // 4, phys_mb - 32 * 1024))}m"


def get_spark(app_name: str = "iceberg_demo_spark", master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores)
    and ``SPARK_GRAFT_DRIVER_MEM`` the local driver heap (default:
    :func:`default_driver_mem`).
    On a real cluster, pass ``master=None`` and submit with spark-submit —
    every config here is master-agnostic.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    if master.startswith("local"):
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()

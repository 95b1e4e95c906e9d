"""Loaders for the driver-generated parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file (or directory) each under the
scale-factor dir. Spark infers a parquet file's schema with one job that
reads its footer; ``load_tables`` runs that job once per file version per
application (``scratch.source_parquet`` caches the schema), so a repeated
load builds fresh relations and registers views without running a job.
Catalyst pushes filters/column pruning into the parquet scan, and every
action scans the data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from iceberg_demo_spark.scratch import source_parquet

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor — at 100 TB
# these stay ~KB-MB (region=5 rows, nation=25 always; supplier/part grow but
# slowly). Catalyst auto-broadcasts under the threshold; we keep the hint
# explicit where it matters in the query builders.
SMALL_DIMS = ("region", "nation")


def _configure(spark: SparkSession) -> None:
    """Runtime confs the engine needs regardless of who built the session.

    - events.ts is parquet TIMESTAMP(NANOS), which Spark cannot read natively;
      the legacy conf surfaces it as bigint nanos and the loader converts.
    - UTC session timezone keeps collected timestamps aligned with DuckDB.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_tables(spark: SparkSession, sf_dir: str,
                tables: tuple[str, ...] = TPCH_TABLES) -> dict[str, DataFrame]:
    """Read the parquet tables and register each as a temp view.

    Returns name → DataFrame. Views are (re)registered on every call so a
    single session can switch scale factors safely.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    _configure(spark)
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        df = source_parquet(spark, path)
        # Nanos timestamps arrive as bigint (see _configure): truncate to
        # micros — the same truncation DuckDB applies when materializing.
        for field in df.schema.fields:
            if field.name == "ts" and isinstance(field.dataType, T.LongType):
                # Integer division: `/` is double division and ns-since-epoch
                # (~1.7e18) exceeds double's 53-bit exact-integer range.
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        df.createOrReplaceTempView(name)
        out[name] = df
    return out

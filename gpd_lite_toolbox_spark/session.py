"""The one place that builds and configures Spark sessions for this engine.

``ENGINE_CONF`` is the one table of engine confs every plan relies on:
UTC session time zone, parquet TIMESTAMP(NANOS) read as int64, and a
1 MB scan split. ``get_spark`` sets it at build time, so
``newSession()`` inherits it; ``configure`` applies it at runtime to a
session built elsewhere (the driver's). Both ship the package to the
Python workers. AQE, partition coalescing and skew-join handling are
Spark defaults (all on in Spark 4.1) that the engine relies on for
spatial self-joins but does not set.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .deploy import ship_package

ENGINE_CONF = {
    # DuckDB oracles compare timestamps as UTC values; a host-local zone
    # would shift every timestamp the session renders or parses
    "spark.sql.session.timeZone": "UTC",
    # the driver's events.parquet carries TIMESTAMP(NANOS): read the raw
    # int64 and convert in the view layer (fixtures.register_base_tables)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Local test files are single small parquets, so a default-config
    # scan is ONE partition and per-row compute (Arrow kernels,
    # interpreted folds) serializes on one core. On a real deployment
    # the inputs split into many partitions by size; a 1 MB split
    # target reproduces that scan parallelism at test scale.
    "spark.sql.files.maxPartitionBytes": "1m",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply ``ENGINE_CONF`` to a session built elsewhere and ship the
    package to its workers (UDF closures reference this package, and
    workers launched from a non-repo cwd cannot import it otherwise).
    Idempotent."""
    ship_package(spark)
    for key, value in ENGINE_CONF.items():
        spark.conf.set(key, value)
    return spark


def get_spark(app_name: str = "gpd_lite_toolbox_spark") -> SparkSession:
    """Local session: master and shuffle width from ``SPARK_GRAFT_CPUS``,
    Arrow on (every geometry kernel is an Arrow-batched pandas_udf), UI
    off, driver memory from ``SPARK_DRIVER_MEM``, plus ``ENGINE_CONF``."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config(map=ENGINE_CONF)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark

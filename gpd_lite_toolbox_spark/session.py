"""The one place that builds and configures Spark sessions for this engine.

``ENGINE_CONF`` is the one table of engine confs every plan relies on:
UTC session time zone, parquet TIMESTAMP(NANOS) read as int64, and a
1 MB scan split. ``get_spark`` sets it at build time, so
``newSession()`` inherits it; ``configure`` applies it at runtime to a
session built elsewhere (the driver's). Both ship the package to the
Python workers. AQE, partition coalescing and skew-join handling are
Spark defaults (all on in Spark 4.1) that the engine relies on for
spatial self-joins but does not set.

``get_spark`` also sizes Spark's generated-code cache
(``spark.sql.codegen.cache.maxEntries``) to ``CODEGEN_CACHE_ENTRIES``.
The Spark default of 100 classes is smaller than one warm pass of the
curation chain (about 226 classes), so the LRU cache missed on every
entry and each warm pass Janino-recompiled 218 classes; with the larger
cache it recompiles 8-16. The cache is a static SQL conf, read once
per JVM when the first plan is compiled, so it is set on the builder
only: a runtime ``spark.conf.set`` of it raises, which is why it is not
in ``ENGINE_CONF``.

``get_spark`` sizes the session from the machine it runs on (Linux):

- cores: the CPUs this process may run on, ``os.sched_getaffinity``
  (what ``nproc`` prints). They set both ``local[n]`` and
  ``spark.sql.shuffle.partitions``. A fixed ``local[32]`` ran 32 task
  threads on a 4-vCPU host.
- driver heap: a quarter of ``MemTotal`` in ``/proc/meminfo`` (about
  3.9g on a 16 GB host; 8g again at 32 GB). At a fixed 8g the full test
  lane in one process grew the JVM to 9.9 GB RSS on a 16 GB, 4-vCPU
  host and the kernel's OOM killer took it; the same tests passed in a
  fresh process at 3g. perfbench on that host, 6 alternating pairs per
  workload at 8g -> 4g: geo_reference run_s 2.38 -> 2.34, cpu_s 6.46
  -> 6.41; curation run_s 3.92 -> 3.67, cpu_s 12.21 -> 11.10. In 10
  more pairs at 8g -> 4017m no end-to-end median got worse. The
  smaller heap cost nothing measurable.

``SPARK_GRAFT_CPUS`` and ``SPARK_DRIVER_MEM`` override the two values;
they are the only session-size settings, and no other module reads or
defaults them.
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

# Generated classes Spark's codegen cache keeps (Spark default: 100).
# Measured with CodegenMetrics' compilation count on the seed-1
# perfbench inputs: a curation pass compiles about 226 classes and a
# geo_reference pass 82, so at 100 entries every warm curation pass
# recompiled 218 of them; at 2000 it recompiles 8-16, stages whose code
# differs on every run (a `limit` stage names its counter from a
# JVM-wide sequence; AQE can number whole-stage codegen ids in another
# order) and so never hits the cache. All 220 declared queries compile
# about 3700 classes at sf0.01 (3400 distinct), so a session cycling
# through every query still evicts; 2000 holds any one pipeline.
CODEGEN_CACHE_ENTRIES = 2000


def configure(spark: SparkSession) -> SparkSession:
    """Apply ``ENGINE_CONF`` to a session built elsewhere and ship the
    package to its workers (UDF closures reference this package, and
    workers launched from a non-repo cwd cannot import it otherwise).
    Idempotent. The codegen cache size is a static conf and cannot be
    set at runtime, so such a session keeps its JVM's cache size
    (``CODEGEN_CACHE_ENTRIES`` only if its builder set it)."""
    ship_package(spark)
    for key, value in ENGINE_CONF.items():
        spark.conf.set(key, value)
    return spark


def _host_memory_quarter() -> str:
    """A quarter of the host's ``MemTotal``, as a JVM size in MiB."""
    with open("/proc/meminfo") as fh:
        kib = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    return f"{kib // 4096}m"


def get_spark(app_name: str = "gpd_lite_toolbox_spark") -> SparkSession:
    """Local session sized from the host (module docstring): one task
    slot and shuffle partition per usable core, a quarter of the host's
    memory as driver heap. Arrow on (every geometry kernel is an
    Arrow-batched pandas_udf), UI off, a codegen cache of
    ``CODEGEN_CACHE_ENTRIES`` classes, plus ``ENGINE_CONF``."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    heap = os.environ.get("SPARK_DRIVER_MEM") or _host_memory_quarter()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", heap)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config(map=ENGINE_CONF)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark

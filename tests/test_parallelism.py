"""parallelism.py tests: ``widen`` reads its width from the physical
plan, makes the choice a run-read would, and starts no Spark job
unless a shuffle AQE may coalesce decides the width."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from gpd_lite_toolbox_spark import fixtures as FX, parallelism
from gpd_lite_toolbox_spark.parallelism import widen
from tests.util import jobs_started

_PKG = Path(__file__).resolve().parents[1] / "gpd_lite_toolbox_spark"


@pytest.fixture(scope="module")
def scans(spark, tmp_path_factory):
    """A parquet dir written as one file and one written as more files
    (so more scan splits) than the session has cores."""
    root = tmp_path_factory.mktemp("widen_scans")
    width = spark.sparkContext.defaultParallelism
    one, many = str(root / "one"), str(root / "many")
    spark.range(1000).coalesce(1).write.parquet(one)
    spark.range(20000).repartition(width + 3).write.parquet(many)
    return one, many


_SHAPES = {
    "one_file_scan": lambda spark, one, many: spark.read.parquet(one),
    "multi_split_scan": lambda spark, one, many: spark.read.parquet(many),
    "local_checkpoint": lambda spark, one, many: spark.read.parquet(
        one
    ).localCheckpoint(),
    "repartition_n": lambda spark, one, many: spark.read.parquet(
        one
    ).repartition(spark.sparkContext.defaultParallelism + 2),
    "coalesce_1": lambda spark, one, many: spark.read.parquet(
        many
    ).coalesce(1),
    "limit": lambda spark, one, many: spark.read.parquet(many).limit(5),
    "broadcast_join_stream_side": lambda spark, one, many: spark.read.parquet(
        many
    ).join(F.broadcast(spark.read.parquet(one)), "id"),
    "union": lambda spark, one, many: spark.read.parquet(one).union(
        spark.range(0, 10, 1, 3)
    ),
    # children hash-partitioned alike are zipped, not summed
    "union_alike": lambda spark, one, many: spark.read.parquet(one)
    .repartition(3, "id")
    .union(spark.range(10).repartition(3, "id")),
    "range": lambda spark, one, many: spark.range(0, 100, 1, 2),
}


def _widen_jobs(spark, df) -> list[int]:
    """The ids of the jobs ``widen(df)`` started, once its choice is
    checked against ``df.rdd.getNumPartitions() < width``."""
    sc = spark.sparkContext
    with jobs_started(sc) as jobs:
        widened = widen(df) is not df
    assert widened == (df.rdd.getNumPartitions() < sc.defaultParallelism)
    return jobs


@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_widen_reads_the_plan(spark, scans, shape):
    df = _SHAPES[shape](spark, *scans)
    planned = parallelism.planned_partitions(df)
    assert _widen_jobs(spark, df) == []
    assert planned == df.rdd.getNumPartitions()


def test_widen_reads_a_persisted_frame_before_and_after_materialization(
    spark, scans
):
    persisted = spark.read.parquet(scans[0]).repartition(3).persist()
    try:
        assert _widen_jobs(spark, persisted.select("id")) == []
        persisted.count()
        assert _widen_jobs(spark, persisted.select("id")) == []
    finally:
        persisted.unpersist()


def test_widen_falls_back_behind_a_hash_aggregate(spark, scans):
    """An aggregate's shuffle is one AQE may coalesce, so only a run
    can size it: widen falls back to the run-read, which runs the
    stages below the frame."""
    df = spark.read.parquet(scans[1]).groupBy(
        (F.col("id") % 7).alias("k")
    ).count()
    assert parallelism.planned_partitions(df) == (
        "ShuffleExchangeExec(ENSURE_REQUIREMENTS)"
    )
    assert _widen_jobs(spark, df) != []


def test_building_pair_stats_starts_no_job(spark, sf_dir):
    """The geo_reference pair-statistics frame: its widen calls read
    the fixtures' fixed-count repartitions and the bbox join's stream
    side, so building it runs nothing (it ran 5 jobs when widen read
    the width by running the frame)."""
    from gpd_lite_toolbox_spark.operators.joins import intersection_stats_table

    def build():
        return intersection_stats_table(
            FX.cpolys(spark, sf_dir),
            FX.cpolys_b(spark, sf_dir),
            cell_size=3125.0,
        )

    build()  # registers and writes the fixture layers on first use
    with jobs_started(spark.sparkContext) as jobs:
        build()
    assert jobs == []


def _run_reads(source: str) -> list[tuple[int, str]]:
    """(line, name) of every ``.rdd`` and ``getNumPartitions`` use."""
    return [
        (node.lineno, node.attr)
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Attribute)
        and node.attr in ("rdd", "getNumPartitions")
    ]


def test_only_parallelism_py_reads_partitions_by_running():
    """``df.rdd.getNumPartitions()`` runs every stage below an AQE
    frame; the one such read is widen's fallback, so operators size
    frames through widen rather than by running them."""
    src = '"""Never ``df.rdd``."""\n# df.rdd\nn = df.rdd.getNumPartitions()\n'
    assert _run_reads(src) == [(3, "getNumPartitions"), (3, "rdd")]
    offenders = [
        f"{path.relative_to(_PKG)}:{line}: .{name}"
        for path in sorted(_PKG.rglob("*.py"))
        if path != _PKG / "parallelism.py"
        for line, name in _run_reads(path.read_text(encoding="utf-8"))
    ]
    assert offenders == []

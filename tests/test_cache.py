"""cache.py tests: the one persist lifecycle and its guard."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError
from pyspark import StorageLevel

from gpd_lite_toolbox_spark import cache, fixtures as FX
from tests.util import corpus_body as _corpus_body

_PKG = Path(__file__).resolve().parents[1] / "gpd_lite_toolbox_spark"
_LIFECYCLE = {"persist", "cache", "unpersist"}


def _lifecycle_calls(source: str) -> list[tuple[int, str]]:
    """(line, name) of every ``x.persist(...)``, ``x.cache(...)`` and
    ``x.unpersist(...)`` call in ``source``."""
    return [
        (node.lineno, node.func.attr)
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in _LIFECYCLE
    ]


def test_only_cache_py_persists_or_unpersists():
    """Every persisted intermediate has one owner: cache.py's registry.
    A bare persist outside it is a frame release_caches() cannot free."""
    # a docstring or comment naming a call is not a call
    src = '"""Callers should ``.unpersist()``."""\n# df.cache()\ndf.persist()\n'
    assert _lifecycle_calls(src) == [(3, "persist")]
    offenders = [
        f"{path.relative_to(_PKG)}:{line}: .{name}()"
        for path in sorted(_PKG.rglob("*.py"))
        if path != _PKG / "cache.py"
        for line, name in _lifecycle_calls(path.read_text(encoding="utf-8"))
    ]
    assert offenders == []


@pytest.fixture
def cache_manager(spark):
    """Spark's CacheManager, emptied: the package's caches released and
    any cache an earlier test left behind cleared."""
    cache.release_caches()
    spark.catalog.clearCache()
    manager = spark._jsparkSession.sharedState().cacheManager()
    assert manager.isEmpty()
    return manager


def test_release_caches_frees_tracked_intermediates(spark):
    from gpd_lite_toolbox_spark import release_caches
    from gpd_lite_toolbox_spark.text.dedup import minhash_lsh_pairs

    release_caches()  # drain anything earlier tests tracked
    corpus = _corpus_body(spark).withColumnRenamed("body", "text")
    minhash_lsh_pairs(corpus, threshold=0.3).collect()
    n = release_caches()
    assert n >= 1
    assert release_caches() == 0  # registry drained; idempotent


def test_release_caches_frees_cartogram_output(spark, sf_dir, cache_manager):
    from gpd_lite_toolbox_spark.operators.cartogram import transform_cartogram

    out = transform_cartogram(FX.polys(spark, sf_dir), "size_mb", iterations=3)
    out.count()
    # iteration 1 was released once iteration 2 was materialized; the
    # result and the iteration it is built from stay tracked
    assert len(cache._TRACKED) == 2
    assert out.storageLevel == StorageLevel.MEMORY_AND_DISK_DESER
    assert cache.release_caches() == 2
    assert out.storageLevel == StorageLevel.NONE
    assert cache_manager.isEmpty()


def test_transform_cartogram_keeps_callers_cache(spark, sf_dir, cache_manager):
    from gpd_lite_toolbox_spark.operators.cartogram import transform_cartogram

    polys = FX.polys(spark, sf_dir).cache()
    try:
        transform_cartogram(polys, "size_mb", iterations=3).count()
        assert polys.storageLevel == StorageLevel.MEMORY_AND_DISK_DESER
    finally:
        polys.unpersist()
        cache.release_caches()


def test_write_curation_flags_index_leaves_nothing_cached(
    spark, tmp_path, cache_manager
):
    from gpd_lite_toolbox_spark.text.pipeline import write_curation_flags_index

    corpus = _corpus_body(spark).withColumnRenamed("body", "text")
    write_curation_flags_index(corpus, str(tmp_path / "flags"), threshold=0.3)
    assert cache._TRACKED == []
    assert cache_manager.isEmpty()
    flags = spark.read.parquet(str(tmp_path / "flags"))
    assert {(r.id, r.near) for r in flags.collect()} == {
        (1, False), (2, True), (3, False)
    }


def test_failed_index_write_leaves_nothing_cached(
    spark, tmp_path, cache_manager
):
    from gpd_lite_toolbox_spark.text.dedup import write_minhash_index

    not_a_dir = tmp_path / "index"
    not_a_dir.write_text("a file where the index directory should go")
    corpus = _corpus_body(spark).withColumnRenamed("body", "text")
    with pytest.raises(Py4JJavaError, match="ParentNotDirectoryException"):
        write_minhash_index(corpus, str(not_a_dir))
    assert cache._TRACKED == []
    assert cache_manager.isEmpty()


def test_ingest_against_missing_index_tracks_nothing(
    spark, tmp_path, cache_manager
):
    from gpd_lite_toolbox_spark.text.dedup import ingest_near_dups

    batch = _corpus_body(spark).withColumnRenamed("body", "text")
    out = ingest_near_dups(spark, str(tmp_path / "never_written"), batch)
    assert cache._TRACKED == []
    assert cache_manager.isEmpty()
    assert out.count() == 0

"""Round-6 ADVICE regression pins: Hadoop-FS store manifest resolution,
applicationId cache keying, the widen guard on pair stats, and the
engine-stable day bucketing / feature scaling already covered by the
lr/event-trend parity gates."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_manifest_resolves_through_hadoop_fs(spark, tmp_path):
    """The store manifest must be found through Hadoop's FileSystem
    API (scheme-aware), not bare os.path: a store committed through an
    explicit file: URI reads back through that URI and the bare path;
    a missing path is never written; a directory without a manifest
    is not a committed store."""
    import os

    import pytest

    from gpd_lite_toolbox_spark import store

    family = {"rows": store.Part()}
    d = str(tmp_path / "committed")
    store.write("file:" + d, family, {"rows": spark.range(3)})
    assert "v0000000001.json" in os.listdir(f"{d}/_manifest")
    assert store.read(spark, "file:" + d, "rows").count() == 3
    assert store.read(spark, d, "rows").count() == 3
    missing = "file:" + str(tmp_path / "missing")
    assert store.read(spark, missing, "rows", missing_ok=True) is None
    bare = tmp_path / "nomanifest"
    (bare / "rows").mkdir(parents=True)
    with pytest.raises(FileNotFoundError, match="no manifest"):
        store.read(spark, "file:" + str(bare), "rows")


def test_committed_empty_remote_style_index_returns_no_matches(
    spark, tmp_path
):
    """The ingest day-1 empty-index path accepts a committed EMPTY
    index via the FS-resolved manifest (an empty corpus commits
    batches that hold no rows) — including when addressed through an
    explicit file: URI, the local stand-in for a remote scheme."""
    from gpd_lite_toolbox_spark.text.dedup import (
        ingest_near_dups,
        write_minhash_index,
    )

    path = str(tmp_path / "mhidx_empty")
    empty = spark.createDataFrame([], "id long, text string")
    write_minhash_index(empty, path)
    batch = spark.createDataFrame(
        [(1, "a document probing an empty committed index")],
        "id long, text string",
    )
    assert ingest_near_dups(spark, "file:" + path, batch).count() == 0


def test_ngram_cache_keyed_by_application_id(spark):
    """The shared ngram-sets cache keys by applicationId (+ sf_dir) —
    id(sparkContext) could alias a restarted context after address
    reuse (round-6 ADVICE)."""
    import __spark_entry__ as E

    E._ngram_sets(spark, "/root/testdata/sf0.001")
    keys = list(E._NGRAM_SETS_CACHE)
    assert any(k[0] == spark.sparkContext.applicationId for k in keys)
    assert all(isinstance(k[0], str) for k in keys)


def test_pair_stats_skips_repartition_when_already_wide(spark, sf_dir):
    """_pair_stats spreads narrow broadcast-join outputs but must NOT
    add an exchange to an already-wide pair table (round-6 ADVICE:
    double-WKB rows make a redundant exchange expensive)."""
    from gpd_lite_toolbox_spark import fixtures as FX
    from gpd_lite_toolbox_spark.operators.joins import _pair_stats
    from gpd_lite_toolbox_spark.operators.spatial_join import bbox_join

    polys = FX.polys(spark, sf_dir)
    j = bbox_join(polys, polys, 10000.0)
    width = spark.sparkContext.defaultParallelism
    wide = j.repartition(width + 4)
    base = wide._jdf.queryExecution().optimizedPlan().toString()
    out = _pair_stats(wide, 0.0, 0.0, rect_exact=False)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # widen() must not stack any repartition beyond what the input
    # plan already carries...
    assert plan.count("Repartition") == base.count("Repartition")
    # ...while a narrow input still gets spread to full parallelism
    # (plan-string counting is defeated here by CollapseRepartition
    # merging widen's exchange into the coalesce, so check partitions)
    narrow = j.coalesce(1)
    spread = _pair_stats(narrow, 0.0, 0.0, rect_exact=False)
    assert spread.rdd.getNumPartitions() == width
    assert narrow.rdd.getNumPartitions() == 1

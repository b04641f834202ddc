"""Regression tests for the round-5 ADVICE items: the session-keyed
ngram-sets memo + release-hook eviction, ingest_near_dups error-class
narrowing, and unreadable WARC directories (the PPJoin exact-ceil
boundary pins live in tests/test_dedup.py, the IVF tombstone and
compaction pins in tests/test_vector_index.py)."""

import pytest

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# ngram-sets memo: session keying + release-hook eviction
# ---------------------------------------------------------------------------


def test_ngram_sets_memo_keyed_by_session_and_evicted_on_release(
    spark, sf_dir
):
    import __spark_entry__ as E
    from gpd_lite_toolbox_spark.cache import release_caches

    E._NGRAM_SETS_CACHE.clear()
    df1 = E._ngram_sets(spark, sf_dir)
    assert df1 is E._ngram_sets(spark, sf_dir)  # memo hit, same session
    keys = list(E._NGRAM_SETS_CACHE)
    assert keys and all(
        isinstance(k, tuple) and len(k) == 2 for k in keys
    ), "memo must be keyed (session, sf_dir), not sf_dir alone"
    # a stale-session entry is evicted on the next miss
    E._NGRAM_SETS_CACHE[(-1, sf_dir)] = df1
    E._ngram_sets(spark, sf_dir + "/.")  # different sf_dir -> miss
    assert (-1, sf_dir) not in E._NGRAM_SETS_CACHE
    # release_caches() drops every memoized handle (the unpersisted
    # frame must not be served from the dict afterwards)
    release_caches()
    assert not E._NGRAM_SETS_CACHE
    df2 = E._ngram_sets(spark, sf_dir)
    assert df2 is not df1
    assert df2.storageLevel.useMemory  # rebuilt AND re-persisted


# ---------------------------------------------------------------------------
# ingest_near_dups: error-class narrowing (day-1 vs corrupt index)
# ---------------------------------------------------------------------------


def _batch(spark):
    return spark.createDataFrame(
        [(1, "hello world hello world hello world hello world")],
        "id long, text string",
    )


def test_ingest_day1_states_stay_legal(spark, tmp_path):
    from gpd_lite_toolbox_spark.text.dedup import (
        ingest_near_dups,
        write_minhash_index,
    )

    # never-written index (missing path) -> empty result
    missing = str(tmp_path / "never_written")
    assert ingest_near_dups(spark, missing, _batch(spark)).count() == 0
    # committed EMPTY index (a zero-row corpus: a manifest whose
    # batches hold no rows) -> empty result
    empty_idx = str(tmp_path / "empty_idx")
    write_minhash_index(
        spark.createDataFrame([], "id long, text string"), empty_idx
    )
    assert ingest_near_dups(spark, empty_idx, _batch(spark)).count() == 0


def test_ingest_corrupt_index_propagates(spark, tmp_path):
    """A bands directory that exists but was never committed (no store
    manifest — the half-written/corrupt state) must RAISE, not be
    treated as day-1 empty: swallowing it would silently admit every
    batch document as non-duplicate (ADVICE r5)."""
    from gpd_lite_toolbox_spark.text.dedup import ingest_near_dups

    corrupt = tmp_path / "corrupt_idx"
    (corrupt / "bands").mkdir(parents=True)
    with pytest.raises(FileNotFoundError, match="no manifest"):
        ingest_near_dups(spark, str(corrupt), _batch(spark))


# ---------------------------------------------------------------------------
# Same defect class, swept proactively: WARC reads
# ---------------------------------------------------------------------------


def test_warc_corrupt_dir_propagates_but_missing_is_empty(spark, tmp_path):
    from pyspark.errors import AnalysisException

    from gpd_lite_toolbox_spark.sources.warc import read_warc

    # missing directory: a legal empty corpus
    assert read_warc(spark, str(tmp_path / "none")).count() == 0
    # present but unreadable: must raise, not read as empty
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "seg.warc").write_bytes(b"WARC/1.0\r\n\r\n")
    import os

    os.chmod(bad / "seg.warc", 0)
    try:
        if os.geteuid() == 0:
            pytest.skip("running as root: chmod 0 is not enforceable")
        with pytest.raises(AnalysisException):
            read_warc(spark, str(bad)).count()
    finally:
        os.chmod(bad / "seg.warc", 0o644)

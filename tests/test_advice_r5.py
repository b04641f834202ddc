"""Regression tests for the round-5 ADVICE items: PPJoin exact-ceil
boundary pruning, the session-keyed ngram-sets memo + release-hook
eviction, ingest_near_dups error-class narrowing, and unreadable
WARC directories (the IVF tombstone and compaction pins live in
tests/test_vector_index.py)."""

import pytest

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# PPJoin float-ceil boundary (ADVICE medium, dedup.py prefix filters)
# ---------------------------------------------------------------------------


def _synth_sets(spark, rows):
    """Build a ngram_doc_sets-shaped table directly: (id, _fs sorted
    bigint array, n_sh) — lets the test place pairs EXACTLY at the
    jaccard threshold, which real text shingles can't do on demand."""
    data = [(i, sorted(fs), len(fs)) for i, fs in rows]
    return spark.createDataFrame(
        data, "id bigint, _fs array<bigint>, n_sh bigint"
    )


def test_ppjoin_exact_threshold_pair_survives_t02(spark):
    """J exactly 0.2 at na+nb=18: the position filter's double bound
    t/(1+t)*(na+nb) evaluates to 3.0000000000000004, and a plain ceil
    prunes the pair (ADVICE-verified failure case).  Recall must be
    exactly 1 at the threshold."""
    from gpd_lite_toolbox_spark.text.dedup import ngram_jaccard_prefix_pairs

    # B's 3 shingles all inside A's 15 -> J = 3/(15+3-3) = 0.2 exactly
    sets = _synth_sets(
        spark,
        [(1, list(range(100, 115))), (2, [100, 101, 102])],
    )
    dummy = spark.createDataFrame([], "id bigint, text string")
    out = ngram_jaccard_prefix_pairs(dummy, threshold=0.2, sets=sets)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (1, 2) in pairs


def test_ppjoin_exact_threshold_pair_survives_t028(spark):
    """J exactly 0.28 with na=25: ceil(0.28*25) evaluates to
    ceil(7.000000000000001)=8 in doubles, so the LENGTH filter
    nb >= ceil(t*na) wrongly prunes nb=7 (ADVICE-verified case)."""
    from gpd_lite_toolbox_spark.text.dedup import ngram_jaccard_prefix_pairs

    # B's 7 shingles all inside A's 25 -> J = 7/(25+7-7) = 7/25 = 0.28
    sets = _synth_sets(
        spark,
        [(1, list(range(200, 225))), (2, list(range(200, 207)))],
    )
    dummy = spark.createDataFrame([], "id bigint, text string")
    out = ngram_jaccard_prefix_pairs(dummy, threshold=0.28, sets=sets)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (1, 2) in pairs


def test_ppjoin_matches_bruteforce_across_thresholds(spark):
    """Exhaustive-oracle sweep over awkward thresholds on a synthetic
    universe dense in exact-boundary pairs."""
    from gpd_lite_toolbox_spark.text.dedup import ngram_jaccard_prefix_pairs

    rows = []
    rid = 0
    for n in (3, 5, 7, 9, 12, 15, 18, 25):
        rows.append((rid, list(range(1000, 1000 + n))))
        rid += 1
        rows.append((rid, list(range(1000, 1000 + max(1, n // 2)))))
        rid += 1
    sets = _synth_sets(spark, rows)
    local = {i: set(fs) for i, fs in rows}
    dummy = spark.createDataFrame([], "id bigint, text string")
    for t in (0.2, 0.25, 0.28, 1.0 / 3.0, 0.4):
        expect = set()
        ids = sorted(local)
        for i in ids:
            for j in ids:
                if i >= j:
                    continue
                inter = len(local[i] & local[j])
                union = len(local[i] | local[j])
                if union and inter / union >= t:
                    expect.add((i, j))
        got = {
            (r.id_a, r.id_b)
            for r in ngram_jaccard_prefix_pairs(
                dummy, threshold=t, sets=sets
            ).collect()
        }
        assert got == expect, f"threshold {t}: {got ^ expect}"


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

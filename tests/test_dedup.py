"""text/dedup.py operator tests."""

from __future__ import annotations

from gpd_lite_toolbox_spark import cache
from gpd_lite_toolbox_spark.text.corpus import split_corpus
from gpd_lite_toolbox_spark.text.dedup import (
    contamination_report,
    minhash_lsh_pairs,
)


def test_contamination_report_skips_corpus_persist_given_pairs(spark):
    """With a precomputed ``pairs`` frame the corpus is read once (the
    coverage pass), so contamination_report persists one frame fewer:
    the splits and the leak pairs, not the corpus projection. The
    report itself is unchanged."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(i, f"{base} {i % 3}") for i in range(12)]
        + [(100, "an unrelated document about something else entirely")],
        "id long, text string",
    )
    splits = split_corpus(corpus, {"train": 0.5, "test": 0.5}, seed=0)
    with cache.scoped_release():
        pairs = minhash_lsh_pairs(corpus, threshold=0.5)
        n0 = len(cache._TRACKED)
        given = contamination_report(corpus, splits, pairs=pairs)
        assert len(cache._TRACKED) - n0 == 2
        n1 = len(cache._TRACKED)
        derived = contamination_report(corpus, splits)
        # the derived path persists the corpus, splits and leak pairs
        # on top of whatever minhash_lsh_pairs persists itself
        assert len(cache._TRACKED) - n1 >= 3
        got = sorted(map(tuple, given.collect()))
        assert got == sorted(map(tuple, derived.collect()))
        assert any(r[5] for r in got)  # some doc leaks across splits

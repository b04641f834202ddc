"""Persisted corpus-substrate layer (text/substrate.py): day-2 runs
are fed from parquet and NEVER touch the raw text — proven by passing
an EMPTY dummy corpus alongside the substrate frames and requiring
output identical to the day-1 one-shot build (r5 verdict stretch #8).
"""

import pytest

from pyspark.sql import functions as F

from gpd_lite_toolbox_spark import fixtures as FX
from gpd_lite_toolbox_spark.text.substrate import (
    SUBSTRATES,
    read_substrate,
    write_substrate,
)


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    return FX.fixture_df(spark, sf_dir, "corpus")


@pytest.fixture(scope="module")
def sub_path(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("substrate") / "sub")
    written = write_substrate(corpus, path)
    assert set(written) == set(SUBSTRATES)
    return path


def _dummy(spark):
    return spark.createDataFrame([], "id bigint, text string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_ngram_jaccard_day2_matches_and_skips_text(
    spark, corpus, sub_path
):
    from gpd_lite_toolbox_spark.text.dedup import ngram_jaccard_pairs

    day1 = ngram_jaccard_pairs(corpus, threshold=0.5, max_df=64)
    sets = read_substrate(spark, sub_path, "ngram_sets")
    day2 = ngram_jaccard_pairs(
        _dummy(spark), threshold=0.5, max_df=64, sets=sets
    )
    assert _rows(day1) == _rows(day2)
    # the day-2 plan reads the materialized fold, not the corpus
    assert "ngram_sets" in day2._jdf.queryExecution().executedPlan().toString()


def test_ngram_prefix_and_containment_day2(spark, corpus, sub_path):
    from gpd_lite_toolbox_spark.text.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_prefix_pairs,
    )

    sets = read_substrate(spark, sub_path, "ngram_sets")
    assert _rows(
        ngram_jaccard_prefix_pairs(corpus, threshold=0.5)
    ) == _rows(
        ngram_jaccard_prefix_pairs(_dummy(spark), threshold=0.5, sets=sets)
    )
    wsets = read_substrate(spark, sub_path, "word_ngram_sets")
    assert _rows(
        ngram_containment_pairs(corpus, threshold=0.8, max_df=64)
    ) == _rows(
        ngram_containment_pairs(
            _dummy(spark), threshold=0.8, max_df=64, sets=wsets
        )
    )


def test_minhash_day2_matches_and_skips_text(spark, corpus, sub_path):
    from gpd_lite_toolbox_spark.text.dedup import minhash_lsh_pairs

    day1 = minhash_lsh_pairs(corpus, threshold=0.5)
    day2 = minhash_lsh_pairs(
        _dummy(spark),
        threshold=0.5,
        sig=read_substrate(spark, sub_path, "minhash_sigs"),
        verify_sets=read_substrate(spark, sub_path, "minhash_verify_sets"),
    )
    assert _rows(day1) == _rows(day2)


def test_lm_scorers_day2_match_and_skip_text(spark, corpus, sub_path):
    """All four counts= scorers run off the one order-3 ngram_counts
    substrate (the bigram pair collapses it to order 2) with an EMPTY
    corpus, row-identical to the one-shot build."""
    from gpd_lite_toolbox_spark.text.corpus import (
        bigram_logprob,
        kn_bigram_logprob,
        kn_trigram_logprob,
        trigram_logprob,
    )

    counts = read_substrate(spark, sub_path, "ngram_counts")
    for scorer in (
        bigram_logprob,
        kn_bigram_logprob,
        trigram_logprob,
        kn_trigram_logprob,
    ):
        assert _rows(scorer(corpus)) == _rows(
            scorer(_dummy(spark), counts=counts)
        ), scorer.__name__


def test_counts_of_lower_order_is_rejected(spark, corpus):
    from gpd_lite_toolbox_spark.text.corpus import (
        bigram_logprob,
        kn_trigram_logprob,
        ngram_doc_counts,
        trigram_logprob,
    )

    with pytest.raises(ValueError, match="order-2"):
        trigram_logprob(corpus, counts=ngram_doc_counts(corpus, order=2))
    with pytest.raises(ValueError, match="order-2"):
        kn_trigram_logprob(corpus, counts=ngram_doc_counts(corpus, order=2))
    with pytest.raises(ValueError, match="order-1"):
        bigram_logprob(corpus, counts=ngram_doc_counts(corpus, order=1))
    with pytest.raises(ValueError, match="order must be"):
        ngram_doc_counts(corpus, order=4)


def test_partial_rewrite_and_unknown_names(spark, corpus, sub_path, tmp_path):
    # rewriting ONE substrate leaves the others intact
    n0 = read_substrate(spark, sub_path, "ngram_sets").count()
    write_substrate(corpus, sub_path, which=["ngram_counts"])
    assert read_substrate(spark, sub_path, "ngram_sets").count() == n0
    with pytest.raises(ValueError, match="unknown substrate"):
        write_substrate(corpus, str(tmp_path), which=["nope"])
    with pytest.raises(ValueError, match="unknown substrate"):
        read_substrate(spark, sub_path, "nope")
    # a missing substrate directory raises, never empty-fallback
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        read_substrate(spark, str(tmp_path / "missing"), "ngram_sets").count()


def test_append_then_day2_equals_full_rebuild(spark, corpus, tmp_path):
    """Day-2 incremental loop: write the substrate for part of the
    corpus, append the rest as an admitted batch — every consumer must
    produce rows identical to a substrate built from the full corpus
    in one shot."""
    from gpd_lite_toolbox_spark.text.dedup import ngram_jaccard_pairs
    from gpd_lite_toolbox_spark.text.substrate import append_to_substrate

    base = corpus.filter(F.col("id") % 7 != 0)
    batch = corpus.filter(F.col("id") % 7 == 0)
    inc = str(tmp_path / "inc")
    write_substrate(base, inc, which=["ngram_sets"])
    append_to_substrate(batch, inc, which=["ngram_sets"])
    full = str(tmp_path / "full")
    write_substrate(corpus, full, which=["ngram_sets"])
    d = _dummy(spark)
    assert _rows(
        ngram_jaccard_pairs(
            d, threshold=0.5, max_df=64,
            sets=read_substrate(spark, inc, "ngram_sets"),
        )
    ) == _rows(
        ngram_jaccard_pairs(
            d, threshold=0.5, max_df=64,
            sets=read_substrate(spark, full, "ngram_sets"),
        )
    )


def test_append_ngram_counts_scores_equal_full_rebuild(
    spark, corpus, tmp_path
):
    """ngram_counts is per-doc, so an appended batch leaves the same
    table a full rebuild writes: the LM scorers fed from either agree
    row for row."""
    from gpd_lite_toolbox_spark.text.corpus import (
        bigram_logprob,
        trigram_logprob,
    )
    from gpd_lite_toolbox_spark.text.substrate import append_to_substrate

    base = corpus.filter(F.col("id") % 7 != 0)
    batch = corpus.filter(F.col("id") % 7 == 0)
    inc = str(tmp_path / "inc")
    write_substrate(base, inc, which=["ngram_counts"])
    assert append_to_substrate(batch, inc, which=["ngram_counts"]) == [
        "ngram_counts"
    ]
    full = str(tmp_path / "full")
    write_substrate(corpus, full, which=["ngram_counts"])
    d = _dummy(spark)
    for scorer in (bigram_logprob, trigram_logprob):
        assert _rows(
            scorer(d, counts=read_substrate(spark, inc, "ngram_counts"))
        ) == _rows(
            scorer(d, counts=read_substrate(spark, full, "ngram_counts"))
        ), scorer.__name__

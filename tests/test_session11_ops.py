"""Round-5 session-2 operators: Kneser-Ney bigram scoring (the IVF
index maintenance tests live in tests/test_vector_index.py)."""

import math

import pytest

from pyspark.sql import functions as F

from gpd_lite_toolbox_spark import fixtures as FX


def test_kn_bigram_hand_computed(spark):
    """One doc 'a b a b': c(a,b)=2, c(b,a)=1, T=2 types, every
    continuation count 1. P(b|a) = (2-.75)/2 + (.75*1/2)*(1/2),
    P(a|b) = (1-.75)/1 + (.75*1/1)*(1/2); doc mean over the three
    instances (a,b),(b,a),(a,b)."""
    from gpd_lite_toolbox_spark.text.corpus import kn_bigram_logprob

    df = spark.createDataFrame([(1, "a b a b")], "id bigint, text string")
    row = kn_bigram_logprob(df).collect()[0]
    p_ba = (2 - 0.75) / 2 + (0.75 * 1 / 2) * (1 / 2)
    p_ab = (1 - 0.75) / 1 + (0.75 * 1 / 1) * (1 / 2)
    want = (2 * -math.log(p_ba) + -math.log(p_ab)) / 3
    assert row.n_bigrams == 3
    assert abs(row.avg_neg_logprob - round(want, 6)) < 1e-9


def test_kn_bigram_contract_rows_and_degenerate_docs(spark):
    from gpd_lite_toolbox_spark.text.corpus import kn_bigram_logprob

    df = spark.createDataFrame(
        [(1, "x y z"), (2, "solo"), (3, ""), (4, None)],
        "id bigint, text string",
    )
    out = {r.id: r for r in kn_bigram_logprob(df).collect()}
    # sub-2-token docs are unscored, same contract as bigram_logprob
    assert set(out) == {1}
    assert out[1].n_bigrams == 2
    with pytest.raises(ValueError, match="discount"):
        kn_bigram_logprob(df, discount=1.5)


def test_kn_differs_from_addk_where_continuations_differ(spark, sf_dir):
    """Gate-can-fail check: on the real corpus the KN score must not
    collapse onto the add-1 score (if it did, the new oracle would be
    re-checking the old model)."""
    from gpd_lite_toolbox_spark.text.corpus import (
        bigram_logprob,
        kn_bigram_logprob,
    )

    corpus = FX.fixture_df(spark, sf_dir, "corpus")
    kn = {r.id: r.avg_neg_logprob for r in kn_bigram_logprob(corpus).collect()}
    ak = {r.id: r.avg_neg_logprob for r in bigram_logprob(corpus).collect()}
    assert set(kn) == set(ak) and len(kn) > 0
    n_diff = sum(1 for k in kn if kn[k] != ak[k])
    assert n_diff > len(kn) * 0.5


def test_kn_probabilities_bounded(spark, sf_dir):
    """Every scored instance must carry a valid probability: NLL > 0
    (P < 1) on the fixture — a mass-leak (P >= 1 from a bad lambda)
    would show as a non-positive score."""
    from gpd_lite_toolbox_spark.text.corpus import kn_bigram_logprob

    corpus = FX.fixture_df(spark, sf_dir, "corpus")
    bad = kn_bigram_logprob(corpus).filter(F.col("avg_neg_logprob") <= 0)
    assert bad.count() == 0

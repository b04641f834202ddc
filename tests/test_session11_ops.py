"""Round-5 session-2 operators: Kneser-Ney bigram scoring and the
IVF index maintenance path."""

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


def test_ivf_delete_filters_probes_and_compact_rewrites(spark, sf_dir, tmp_path):
    from gpd_lite_toolbox_spark.vector.ann import (
        ann_ivf_topk_indexed,
        compact_ivf_index,
        delete_from_ivf_index,
        write_ivf_index,
    )
    from gpd_lite_toolbox_spark.vector.pq import default_coarse_centroids

    FX.register_base_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    path = str(tmp_path / "idx")
    write_ivf_index(emb, path, dims=64, centroids=default_coarse_centroids())
    queries = emb.filter(F.col("vec_id") % 50 == 0)

    full = ann_ivf_topk_indexed(spark, path, queries, k=5, dims=64)
    # self-hit at rank 1 before any delete
    r1 = {r.query_id: r.neighbor_id for r in full.collect() if r.rank == 1}
    assert len(r1) > 0 and all(q == n for q, n in r1.items())

    # delete every query vector itself: self-hits must vanish
    delete_from_ivf_index(spark, path, queries.select("vec_id"))
    filt = ann_ivf_topk_indexed(spark, path, queries, k=5, dims=64)
    deleted = {q for q in r1}
    assert all(
        r.neighbor_id not in deleted for r in filt.collect()
    ), "tombstoned vector surfaced in a probe"

    pre = {(r.query_id, r.rank): r.neighbor_id for r in filt.collect()}
    n_cells = compact_ivf_index(spark, path)
    assert n_cells > 0
    post = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ann_ivf_topk_indexed(spark, path, queries, k=5, dims=64).collect()
    }
    assert post == pre
    # tombstones cleared: second compaction is a no-op
    assert compact_ivf_index(spark, path) == 0


def test_ivf_compact_removes_emptied_cells(spark, tmp_path):
    """A cell whose members ALL die must disappear: from the committed
    cells and, once compaction's manifest is published, from disk."""
    from gpd_lite_toolbox_spark import store
    from gpd_lite_toolbox_spark.vector.ann import (
        compact_ivf_index,
        delete_from_ivf_index,
        write_ivf_index,
    )
    from gpd_lite_toolbox_spark.vector.pq import default_coarse_centroids

    seed = default_coarse_centroids()
    # vectors hugging centroid 0 and centroid 1: two occupied cells
    rows = [(i, [float(x) + 1e-4 * i for x in seed[0]]) for i in range(3)]
    rows += [(10 + i, [float(x) + 1e-4 * i for x in seed[1]]) for i in range(3)]
    pts = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    path = str(tmp_path / "idx")
    write_ivf_index(pts, path, dims=64, centroids=seed)
    cells = tmp_path / "idx" / "cells"
    assert list(cells.glob("_b=*/cell=1/*.parquet"))
    delete_from_ivf_index(spark, path, [10, 11, 12])
    compact_ivf_index(spark, path)
    assert not list(cells.glob("_b=*/cell=1"))
    kept = store.read(spark, path, "cells")
    assert {r.neighbor_id for r in kept.collect()} == {0, 1, 2}
    assert {r.cell for r in kept.collect()} == {0}


def test_ivf_compact_leaves_session_conf_untouched(spark, tmp_path):
    """Regression pin (r5 verdict #1): compact_ivf_index once pinned
    spark.sql.sources.partitionOverwriteMode=dynamic on the SESSION
    when the key started unset — every later plain mode("overwrite")
    write then silently stopped truncating.  The rewrite must use a
    per-write option and leave session config byte-identical."""
    from gpd_lite_toolbox_spark.vector.ann import (
        compact_ivf_index,
        delete_from_ivf_index,
        write_ivf_index,
    )
    from gpd_lite_toolbox_spark.vector.pq import default_coarse_centroids

    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(key)  # fresh-default session: key unset -> STATIC
    before = spark.conf.get(key)  # resolves the default, e.g. STATIC

    seed = default_coarse_centroids()
    rows = [(i, [float(x) + 1e-4 * i for x in seed[0]]) for i in range(4)]
    pts = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    path = str(tmp_path / "idx")
    write_ivf_index(pts, path, dims=64, centroids=seed)
    delete_from_ivf_index(spark, path, [0])
    assert compact_ivf_index(spark, path) > 0
    assert spark.conf.get(key) == before
    assert spark.conf.get(key).upper() == "STATIC"
    # and plain overwrite still truncates (the production hazard)
    tgt = str(tmp_path / "plain")
    spark.range(31).write.mode("overwrite").parquet(tgt)
    spark.range(1).write.mode("overwrite").parquet(tgt)
    assert spark.read.parquet(tgt).count() == 1

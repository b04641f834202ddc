"""Semantic checks for the data-pipeline operators: the oracle proves
Spark==DuckDB; these prove the answers mean what they claim (planted
duplicates recovered, ANN self-hit, LSH recall)."""

import pyspark.sql.functions as F
import pytest

from gpd_lite_toolbox_spark import fixtures as FX


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    return FX.fixture_df(spark, sf_dir, "corpus").cache()


def test_exact_dedup_finds_planted_duplicates(spark, sf_dir, corpus):
    from gpd_lite_toolbox_spark.text.dedup import exact_dedup

    groups = exact_dedup(corpus).collect()
    n_planted = corpus.filter(F.col("id") >= 1000000).filter(
        F.col("id") < 2000000
    ).count()
    assert len(groups) == n_planted
    for g in groups:
        assert g.n_copies == 2
        assert g.keep_id < 1000000  # canonical survivor is the original


def test_minhash_finds_planted_near_duplicates(spark, sf_dir, corpus):
    from gpd_lite_toolbox_spark.text.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(corpus, threshold=0.5).collect()
    found = {(p.id_a, p.id_b) for p in pairs}
    planted_near = [
        r.id for r in corpus.filter(F.col("id") >= 2000000).select("id").collect()
    ]
    # near-dups differ by one appended token: high jaccard, must be found
    hit = sum((orig := pid - 2000000, pid) in found for pid in planted_near)
    assert hit == len(planted_near), f"missed {len(planted_near) - hit}"
    # exact duplicates too (jaccard 1.0)
    exact = [(pid - 1000000, pid) for pid in range(1000000, 1000001)]
    for a, b in exact:
        if (a, b) in found:
            j = next(p.jaccard for p in pairs if (p.id_a, p.id_b) == (a, b))
            assert j == 1.0


def test_shingle_layout_is_one_exchange(spark):
    """The shingle table's dedup + df-window ride ONE exchange: the
    repartition by shingle satisfies both the (id, shingle) dedup's
    clustering requirement and the window's, so no further
    hashpartitioning exchange appears below the window (the round-4
    perf contract for ngram_jaccard's substrate). Uses a synthetic
    corpus so another test's persisted shingle cache (plan-equality
    cache lookup would swap in an InMemoryTableScan and hide the
    exchanges) cannot match."""
    from pyspark.sql import Window

    from gpd_lite_toolbox_spark.text.dedup import shingles

    corp = spark.createDataFrame(
        [(i, f"plan audit document number {i} with enough text") for i in range(50)],
        "id long, text string",
    )
    shf = shingles(corp, hashed=True).withColumn(
        "df", F.count("*").over(Window.partitionBy("shingle"))
    )
    plan = shf._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 exchange, plan has {n_exchanges}:\n{plan}"


def test_decontaminate_flags_planted_benchmark_overlap(spark):
    """A train doc that verbatim-copies a benchmark doc is flagged
    with n_hits == its full shingle-set size; a train doc embedding
    one benchmark sentence is flagged with 0 < n_hits < full; a
    disjoint doc is not flagged at all."""
    from gpd_lite_toolbox_spark.text.dedup import decontaminate, shingles

    bench_text = (
        "the held out evaluation question asks about the capital of "
        "france and the answer is paris obviously"
    )
    rows = [
        (1, bench_text),  # verbatim copy of benchmark doc
        (2, "training prose with " + bench_text + " quoted in the middle"),
        (3, "completely unrelated zebra xylophone quantum marmalade"),
    ]
    train = spark.createDataFrame(rows, "id bigint, text string")
    bench = spark.createDataFrame([(100, bench_text)], "id bigint, text string")
    got = {r.id: r.n_hits for r in decontaminate(train, bench).collect()}
    full = shingles(
        spark.createDataFrame([(1, bench_text)], "id bigint, text string")
    ).count()
    assert got[1] == full
    assert 0 < got[2] < shingles(train.filter("id = 2")).count()
    assert 3 not in got


def test_ngram_jaccard_exact_superset_of_minhash(spark, sf_dir, corpus):
    """The exact n-gram measure must (a) recover every planted family
    with the right score and (b) contain every minhash-emitted pair —
    minhash verifies the SAME measure on a probabilistic candidate
    subset, so with the df-cap disabled containment is an identity."""
    from gpd_lite_toolbox_spark.text.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    exact = {
        (p.id_a, p.id_b): p.jaccard
        for p in ngram_jaccard_pairs(corpus, threshold=0.5).collect()
    }
    # planted exact duplicates score 1.0
    for pid in [
        r.id
        for r in corpus.filter(
            (F.col("id") >= 1000000) & (F.col("id") < 2000000)
        ).select("id").collect()
    ]:
        assert exact.get((pid - 1000000, pid)) == 1.0
    # planted near-duplicates (one appended token) are found
    for pid in [
        r.id
        for r in corpus.filter(F.col("id") >= 2000000).select("id").collect()
    ]:
        assert (pid - 2000000, pid) in exact
    mh = {
        (p.id_a, p.id_b): p.jaccard
        for p in minhash_lsh_pairs(corpus, threshold=0.5).collect()
    }
    assert set(mh) <= set(exact), f"minhash invented {set(mh) - set(exact)}"
    for k, j in mh.items():
        assert exact[k] == j  # identical exact-verify arithmetic


def test_ngram_jaccard_df_cap_only_prunes(spark, sf_dir, corpus):
    """max_df only removes candidate pairs — surviving pairs keep the
    full-set exact score."""
    from gpd_lite_toolbox_spark.text.dedup import ngram_jaccard_pairs

    full = {
        (p.id_a, p.id_b): p.jaccard
        for p in ngram_jaccard_pairs(corpus, threshold=0.5).collect()
    }
    capped = {
        (p.id_a, p.id_b): p.jaccard
        for p in ngram_jaccard_pairs(corpus, threshold=0.5, max_df=40).collect()
    }
    assert set(capped) <= set(full)
    for k, j in capped.items():
        assert full[k] == j


def test_ann_self_is_rank_one(spark, sf_dir):
    import __spark_entry__ as E

    top = E.queries()["ann_topk"](spark, sf_dir)
    r1 = top.filter(F.col("rank") == 1).collect()
    assert all(r.query_id == r.neighbor_id and r.cosine == 1.0 for r in r1)


def test_ann_lsh_recall_vs_brute(spark, sf_dir):
    import __spark_entry__ as E

    brute = E.queries()["ann_topk"](spark, sf_dir).filter(F.col("rank") <= 5)
    lsh = E.queries()["ann_lsh_topk"](spark, sf_dir)
    b = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    l = {(r.query_id, r.neighbor_id) for r in lsh.collect()}
    recall = len(b & l) / len(b)
    # 8 hyperplanes on 64-dim synthetic clusters: generous floor, the
    # point is it retrieves a meaningful fraction without all-pairs
    assert recall >= 0.3, f"LSH recall {recall:.2f}"


def test_ann_ivf_recall_vs_brute(spark, sf_dir):
    """KMeans-fit IVF path (the queries() entry now runs the
    hash-gated explicit-quantizer form; this keeps the trained
    quantizer covered)."""
    from gpd_lite_toolbox_spark.vector.ann import ann_ivf_topk

    import __spark_entry__ as E

    FX.register_base_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    brute = E.queries()["ann_topk"](spark, sf_dir).filter(F.col("rank") <= 5)
    ivf = ann_ivf_topk(emb.filter(F.col("vec_id") % 50 == 0), emb, k=10)
    b = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    i = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    recall = len(b & i) / len(b)
    # the embeddings fixture is clustered: probing 4/16 cells must keep
    # a solid majority of the true top-5 (and the self-hit always lands
    # in the probed home cell)
    assert recall >= 0.6, f"IVF recall {recall:.2f}"
    r1 = {
        r.query_id: r.neighbor_id
        for r in ivf.collect()
        if r.rank == 1
    }
    assert all(q == n for q, n in r1.items()), "self-hit must be rank 1"


def test_embedding_lsh_finds_planted_scaled_copies(spark, sf_dir):
    from gpd_lite_toolbox_spark.text.dedup import embedding_near_dups

    FX.register_base_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    planted = (
        emb.filter(F.col("vec_id") % 20 == 0)
        .select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            F.transform(
                "embedding", lambda x: (x.cast("double") * 1.001).cast("float")
            ).alias("embedding"),
            "label",
        )
    )
    aug = emb.unionByName(planted)
    # scaled copies have cosine exactly 1.0 and identical LSH buckets:
    # the pruned path MUST retrieve every planted pair
    pairs = embedding_near_dups(aug, threshold=0.999).collect()
    found = {(p.id_a, p.id_b) for p in pairs}
    expect = {
        (r.vec_id, r.vec_id + 1000000)
        for r in emb.filter(F.col("vec_id") % 20 == 0).select("vec_id").collect()
    }
    assert expect <= found, f"missed {len(expect - found)} planted pairs"


def test_embedding_lsh_subset_of_exact_with_recall_floor(spark, sf_dir):
    # cross-check the benched LSH path against the exact all-pairs
    # baseline: LSH can only prune, never invent pairs, and at the
    # fixture threshold it must keep a meaningful fraction of them
    from gpd_lite_toolbox_spark.text.dedup import embedding_near_dups

    FX.register_base_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_near_dups(emb, threshold=0.45, exact=True).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in embedding_near_dups(emb, threshold=0.45, exact=False).collect()
    }
    assert lsh <= exact, f"LSH invented {len(lsh - exact)} pairs"
    if exact:
        recall = len(lsh) / len(exact)
        # weak 0.45 threshold: sign-LSH collision probability is low by
        # design here; the floor pins that banding retrieves a real
        # fraction (planted-copy test above pins the ~1.0-cosine regime)
        assert recall >= 0.25, f"LSH recall {recall:.2f}"


def test_cosine_topk_guardrail_blocks_oversized_cross_join(spark, sf_dir):
    """The exact brute-force path refuses pair counts above max_pairs
    unless force=True — the guard that keeps the O(Q x N) baseline from
    being picked by accident at corpus scale."""
    import pytest
    from gpd_lite_toolbox_spark.vector.ann import cosine_topk

    FX.register_base_tables(spark, sf_dir)
    emb = spark.table("embeddings").limit(20)
    with pytest.raises(ValueError, match="max_pairs"):
        cosine_topk(emb, emb, k=3, max_pairs=100)
    forced = cosine_topk(emb, emb, k=3, max_pairs=100, force=True)
    assert forced.count() == 20 * 3


def test_embedding_near_dups_exact_guardrail(spark, sf_dir):
    """embedding_near_dups(exact=True) carries the same max_pairs/force
    guard as cosine_topk (round-6 VERDICT item 2): an oversized corpus
    raises instead of silently launching an |N|^2 crossJoin, and
    force=True restores the cross-check baseline; the default LSH path
    never counts."""
    import pytest
    from gpd_lite_toolbox_spark.text.dedup import embedding_near_dups

    FX.register_base_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    with pytest.raises(ValueError, match="max_pairs"):
        embedding_near_dups(emb, threshold=0.45, exact=True, max_pairs=10)
    forced = embedding_near_dups(
        emb.limit(30), threshold=0.45, exact=True, max_pairs=10, force=True
    )
    assert forced.columns == ["id_a", "id_b", "cosine"]
    forced.count()  # executes the guarded plan end-to-end


def test_embedding_hot_bucket_cap_is_bit_identical(spark, sf_dir):
    """Skew guard: a planted degenerate LSH bucket (40 same-direction
    vectors collide in every band) is split into block-pair tasks by
    ``bucket_cap`` — the capped plan must emit exactly the same pairs
    with bit-identical cosine values as the uncapped plan, and must
    retrieve all C(40,2) planted pairs."""
    from gpd_lite_toolbox_spark.text.dedup import embedding_near_dups

    FX.register_base_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    base = emb.filter(F.col("vec_id") == 0).select("embedding")
    # positive scalings keep every hyperplane sign: one bucket per band
    hot = (
        spark.range(40)
        .withColumnRenamed("id", "vec_id")
        .crossJoin(base)
        .select(
            (F.col("vec_id") + 2000000).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x: (
                    x.cast("double") * (1.0 + F.col("vec_id") / 100.0)
                ).cast("float"),
            ).alias("embedding"),
            F.lit(0).alias("label"),
        )
    )
    aug = emb.limit(50).select("vec_id", "embedding", "label").unionByName(hot)

    def run(cap):
        return {
            (r.id_a, r.id_b): r.cosine
            for r in embedding_near_dups(
                aug, threshold=0.999, bucket_cap=cap
            ).collect()
        }

    capped = run(8)        # 40 > 8 -> B = 5 blocks, 15 block-pair tasks
    uncapped = run(10**9)  # single task per bucket (the r3 plan)
    assert capped == uncapped, "capped plan diverged from uncapped"
    planted = {
        (a + 2000000, b + 2000000)
        for a in range(40)
        for b in range(a + 1, 40)
    }
    assert planted <= set(capped), (
        f"missed {len(planted - set(capped))} hot-bucket pairs"
    )


def test_multi_to_single_stats_matches_chained_path(spark, sf_dir):
    """The fused single-pass explode+stats must equal the three-stage
    st_parts -> posexplode -> st_area/st_centroid_xy chain."""
    from gpd_lite_toolbox_spark.geometry.functions import st_area, st_centroid_xy
    from gpd_lite_toolbox_spark.operators.explode import (
        multi_to_single,
        multi_to_single_stats,
    )

    m = FX.mpolys(spark, sf_dir)
    fused = {
        (r.id, r.part_idx): (r.area, r.cx, r.cy)
        for r in multi_to_single_stats(m).collect()
    }
    chained = {
        (r.id, r.part_idx): (r.area, r.x, r.y)
        for r in multi_to_single(m)
        .select(
            "id", "part_idx",
            st_area("geometry").alias("area"),
            st_centroid_xy("geometry").alias("c"),
        )
        .select("id", "part_idx", "area", "c.x", "c.y")
        .collect()
    }
    assert fused == chained


def test_random_pts_in_polygons_inside_and_exact_count(spark, sf_dir):
    """Every sampled point lies strictly inside its concave/holed
    polygon and every feature gets exactly coef points."""
    import numpy as np

    from gpd_lite_toolbox_spark.geometry import kernels as K
    from gpd_lite_toolbox_spark.geometry import wkb as W
    from gpd_lite_toolbox_spark.operators.points import random_pts_in_polygons

    polys = FX.cpolys(spark, sf_dir)
    pts = random_pts_in_polygons(polys, coef=3).select(
        "id", "px", "py", "geometry"
    ).collect()
    n_features = polys.count()
    assert len(pts) == 3 * n_features
    per = {}
    for r in pts:
        per[r.id] = per.get(r.id, 0) + 1
        geom = W.decode(bytes(r.geometry))
        assert K.points_in_geom(
            np.array([r.px]), np.array([r.py]), geom
        )[0], (r.id, r.px, r.py)
    assert all(v == 3 for v in per.values())


def test_find_borders_codes_containing_separator(spark, sf_dir):
    # regression: front_r must come from the raw side codes, not a
    # re-split of the concatenated key — codes like 'FR-75' would mangle
    from gpd_lite_toolbox_spark.operators.joins import find_borders

    polys = FX.polys(spark, sf_dir).withColumn(
        "code", F.concat(F.lit("FR-"), F.col("code"))
    )
    fb = find_borders(polys, cell_size=3125.0).limit(10).collect()
    assert fb
    for r in fb:
        # codes are 'FR-U{id}': rebuild expected keys from the ids
        lc, rc = f"FR-U{r.left_id}", f"FR-U{r.right_id}"
        assert r.front == f"{lc}-{rc}"
        assert r.front_r == f"{rc}-{lc}"


def test_ragged_match_lines_matches_resampled_counterpart(spark, sf_dir):
    """Variable-vertex-count path: the B layer is the SAME road sampled
    with a different vertex count (3/5/7 cycle) plus jitter — the chkl
    index mapping must still recover the counterpart as the argmin."""
    import __spark_entry__ as E

    m = E.queries()["match_lines_ragged"](spark, sf_dir).collect()
    by_a = {}
    for r in m:
        by_a.setdefault(r.id_a, []).append(r.id_b)
    assert by_a, "no ragged matches at all"
    correct = sum(1 for a, bs in by_a.items() if a in bs)
    assert correct / len(by_a) > 0.95, f"{correct}/{len(by_a)}"


def test_match_lines_matches_jittered_counterpart(spark, sf_dir):
    import __spark_entry__ as E

    m = E.queries()["match_lines"](spark, sf_dir).collect()
    by_a = {r.id_a: r.id_b for r in m}
    # jittered copy exists for id % 10 != 0; the match must be itself
    correct = sum(1 for a, b in by_a.items() if a == b)
    assert correct / max(len(by_a), 1) > 0.95
    # deleted counterparts (id % 10 == 0) may only appear with a
    # different (nearby) line at < 50 units — rare; sanity: no id%10==0
    # maps to itself
    assert all(b != a or a % 10 != 0 for a, b in by_a.items())


def test_minhash_null_text_yields_null_signature_and_no_pairs(spark):
    """Row-local signature regression guard: NULL-text docs must get
    NULL signatures (like the old exploded-table min aggregation), not
    a shared MH_PRIME sentinel that would make every pair of NULL-text
    docs a spurious jaccard-1.0 duplicate."""
    from gpd_lite_toolbox_spark.text.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "a real document text here")],
        "id bigint, text string",
    )
    sigs = {r["id"]: r for r in minhash_signatures(df).collect()}
    assert sigs[1]["h0"] is None and sigs[2]["h7"] is None
    assert sigs[3]["h0"] is not None
    assert minhash_lsh_pairs(df, threshold=0.5).count() == 0


def test_prefix_jaccard_equals_exhaustive_inverted_index(spark):
    """The PPJoin-style prefix filter must lose NOTHING: its output
    equals ngram_jaccard_pairs(max_df=None) (full inverted index) on
    a corpus with planted near-dups, exact dups, and disjoint docs.
    (The two filters differ only within 5e-7 of the threshold — the
    prefix op thresholds the raw quotient, the inverted-index op the
    rounded value; no pair here sits on that boundary.)"""
    from gpd_lite_toolbox_spark.text.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_prefix_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog near the river"
    rows = [
        (1, base),
        (2, base),  # exact dup
        (3, base + " bank today"),  # near dup
        (4, "completely different words live in this unrelated text"),
        (5, "completely different words live in this unrelated text!!"),
        (6, "zq"),  # shorter than one shingle
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    for t in (0.3, 0.5, 0.8):
        got = {
            (r.id_a, r.id_b, r.jaccard)
            for r in ngram_jaccard_prefix_pairs(df, threshold=t).collect()
        }
        want = {
            (r.id_a, r.id_b, r.jaccard)
            for r in ngram_jaccard_pairs(df, threshold=t, max_df=None).collect()
        }
        assert got == want, f"threshold {t}: {got ^ want}"
    assert (1, 2, 1.0) in {
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_prefix_pairs(df, threshold=0.5).collect()
    }


def test_source_quality_consistent_with_per_doc_audits(spark, sf_dir):
    """The rollup's counts equal independent aggregation of the
    per-document gopher_rules / quality_score views, and the plan has
    exactly one exchange (the grouped rollup)."""
    from gpd_lite_toolbox_spark.text.analysis import (
        gopher_rules,
        quality_score,
    )
    from gpd_lite_toolbox_spark.text.pipeline import source_quality

    FX.register_base_tables(spark, sf_dir)
    docs = spark.table("documents")
    out = {(r.source, r.lang): r for r in source_quality(docs).collect()}
    base = docs.select(
        F.col("doc_id").alias("id"), "text", "source", "lang"
    )
    g = {
        r.id: r.passes
        for r in gopher_rules(base.select("id", "text")).collect()
    }
    q = {
        r.id: r.quality
        for r in quality_score(base.select("id", "text")).collect()
    }
    meta = base.select("id", "source", "lang").collect()
    assert sum(r.n_docs for r in out.values()) == len(meta)
    from collections import defaultdict

    by_grp = defaultdict(list)
    for r in meta:
        by_grp[(r.source, r.lang)].append(r.id)
    assert set(by_grp) == set(out)
    for key, ids in by_grp.items():
        r = out[key]
        assert r.n_docs == len(ids)
        assert r.n_pass == sum(1 for i in ids if g[i])
        assert r.pass_rate == round(r.n_pass / r.n_docs, 6)
        # exact-points average == mean of per-doc quality up to the
        # final rounding
        pts = sum(round(q[i] * 3) for i in ids)
        assert r.avg_quality == round(pts / (3.0 * len(ids)), 6)
    plan = (
        source_quality(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") <= 2  # rollup + AQE final read
    assert "Python" not in plan


def test_dedup_threshold_curve_semantics(spark, sf_dir):
    """Curve contract: one row per candidate threshold, counts are the
    cumulative pairs at-or-above each cutoff (monotone non-increasing),
    zero-pair thresholds present as 0, and a precomputed pair frame is
    reused as-is."""
    from gpd_lite_toolbox_spark.text.dedup import (
        minhash_lsh_pairs,
        near_dup_threshold_curve,
    )

    FX.register_base_tables(spark, sf_dir)
    corpus = spark.sql(FX.CORPUS_SQL)
    pairs = minhash_lsh_pairs(corpus, threshold=0.5)
    rows = sorted(
        near_dup_threshold_curve(corpus, pairs=pairs).collect(),
        key=lambda r: r.threshold,
    )
    assert [r.threshold for r in rows] == [
        round(0.5 + 0.05 * i, 2) for i in range(11)
    ]
    counts = [r.n_pairs for r in rows]
    assert counts == sorted(counts, reverse=True)
    jac = [r.jaccard for r in pairs.collect()]
    assert counts[0] == len(jac)
    assert counts[-1] == sum(1 for j in jac if j >= 1.0)

"""Empty-input robustness: operators must return empty results with
the right schema, not crash — the behavior a scheduled 100 TB pipeline
needs when a partition of the world is legitimately empty."""

import pyspark.sql.functions as F


def _empty(spark, ddl):
    return spark.createDataFrame([], ddl)


def test_text_family_on_empty_corpus(spark):
    from gpd_lite_toolbox_spark.text.analysis import quality_score, token_stats
    from gpd_lite_toolbox_spark.text.corpus import (
        pack_sequences,
        stratified_sample,
        tfidf_topk,
    )
    from gpd_lite_toolbox_spark.text.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash,
    )

    corpus = _empty(spark, "id long, text string")
    assert exact_dedup(corpus).count() == 0
    assert simhash(corpus).count() == 0
    assert minhash_lsh_pairs(corpus).count() == 0
    assert ngram_jaccard_pairs(corpus, max_df=40).count() == 0
    assert token_stats(corpus).count() == 0
    assert quality_score(corpus).count() == 0
    assert pack_sequences(corpus, budget=64).count() == 0
    assert tfidf_topk(corpus).count() == 0
    assert stratified_sample(
        corpus.withColumnRenamed("text", "lang"), "lang", {"en": 1.0}
    ).count() == 0


def test_round4_ops_on_empty_inputs(spark):
    from gpd_lite_toolbox_spark.media.multimodal import chunk_audio
    from gpd_lite_toolbox_spark.text.dedup import (
        decontaminate,
        embedding_near_dups,
        simhash_band_keys,
    )

    corpus = _empty(spark, "id long, text string")
    assert decontaminate(corpus, corpus).count() == 0
    # empty benchmark flags nothing even for a non-empty corpus
    docs = spark.createDataFrame([(1, "some training text")], "id long, text string")
    assert decontaminate(docs, corpus).count() == 0
    assert simhash_band_keys(corpus).count() == 0
    emb = _empty(spark, "vec_id long, embedding array<float>, label int")
    assert embedding_near_dups(emb, dims=4).count() == 0
    media = _empty(
        spark, "doc_id long, meta_n_bytes long, meta_sample_rate int"
    )
    assert chunk_audio(media).count() == 0
    from gpd_lite_toolbox_spark.operators.grid import (
        convex_hull_stats,
        make_grid_cut_hull,
    )

    pts = _empty(spark, "id long, x double, y double")
    row = convex_hull_stats(pts).collect()
    assert len(row) == 1 and row[0].n_vertices == 0
    assert make_grid_cut_hull(pts, 8000.0).count() == 0


def test_temporal_family_on_empty_events(spark):
    from gpd_lite_toolbox_spark.operators.temporal import (
        asof_join,
        event_transitions,
        range_join_binned,
    )

    left = _empty(spark, "lid long, k long, us long")
    right = _empty(spark, "k long, r_us long, rid long, v double")
    assert asof_join(
        left, right, key="k", left_ts="us", right_ts="r_us",
        payload=["rid", "v"],
    ).count() == 0
    assert range_join_binned(
        left, right.withColumnRenamed("r_us", "c_us"),
        key="k", probe_us="us", cand_us="c_us", half_width_us=10,
        aggs=[F.count("*").alias("n")], probe_id="lid",
    ).count() == 0
    ev = _empty(spark, "k long, us long, s string, tb long")
    assert event_transitions(
        ev, key="k", ts="us", state="s", order_tiebreak="tb"
    ).count() == 0


def test_vector_and_snap_on_empty_inputs(spark):
    from gpd_lite_toolbox_spark.operators.points import (
        knn_to_vertices,
        snap_to_nearest,
    )
    from gpd_lite_toolbox_spark.vector.ann import cosine_topk

    pts = _empty(spark, "id long, x double, y double")
    verts = _empty(spark, "id long, vidx long, vx double, vy double")
    assert snap_to_nearest(pts, verts).count() == 0
    assert knn_to_vertices(pts, verts, k=3).count() == 0
    emb = _empty(spark, "vec_id long, embedding array<float>, label int")
    assert cosine_topk(emb, emb, k=5).count() == 0


def test_audit_on_empty_table_reports_zero(spark):
    from gpd_lite_toolbox_spark.operators.audit import (
        predicate_violations,
        uniqueness_violations,
    )

    t = _empty(spark, "k long, v double")
    rep = predicate_violations(t, {"neg_v": F.col("v") < 0}).collect()
    # an aggregate over zero rows still yields the report row
    assert len(rep) == 1 and rep[0].n_violations == 0
    uq = uniqueness_violations(t, ["k"], rule="dup").collect()
    assert len(uq) == 1 and uq[0].n_violations == 0


def test_round4_text_ops_on_empty_corpus(spark):
    from gpd_lite_toolbox_spark.text.corpus import (
        build_vocab,
        chunk_documents,
        sample_k_per_group,
        shard_corpus,
    )
    from gpd_lite_toolbox_spark.text.pii import pii_scan
    from gpd_lite_toolbox_spark.text.pipeline import (
        normalize_corpus,
        remove_boilerplate_lines,
    )
    from gpd_lite_toolbox_spark.text.web import url_stats
    from gpd_lite_toolbox_spark.vector.quantize import quantize_int8

    c = _empty(spark, "id long, text string")
    assert pii_scan(c).count() == 0
    assert remove_boilerplate_lines(c).count() == 0
    assert shard_corpus(c, 4).count() == 0
    assert chunk_documents(c, 8, 2).count() == 0
    assert build_vocab(c, 10).count() == 0
    assert url_stats(c).count() == 0
    assert normalize_corpus(c).count() == 0
    g = _empty(spark, "id long, text string, lang string")
    assert sample_k_per_group(g, "lang", 5).count() == 0
    emb = _empty(spark, "vec_id long, embedding array<float>")
    assert quantize_int8(emb).count() == 0


def test_session4_ops_on_empty_inputs(spark, tmp_path):
    from gpd_lite_toolbox_spark.text.classify import (
        nb_confusion,
        score_nb,
        train_nb,
    )
    from gpd_lite_toolbox_spark.text.corpus import (
        weighted_sample,
        weighted_sample_by_group,
    )
    from gpd_lite_toolbox_spark.text.dedup import (
        exact_substring_spans,
        ingest_near_dups,
        write_minhash_index,
    )
    from gpd_lite_toolbox_spark.text.fuzzy import fuzzy_token_pairs

    corpus = _empty(spark, "id long, text string")
    assert exact_substring_spans(corpus).count() == 0
    assert fuzzy_token_pairs(corpus).count() == 0

    wdf = _empty(spark, "id long, w double")
    assert weighted_sample(wdf, "w", k=5).count() == 0
    gdf = _empty(spark, "id long, g string, w double")
    assert weighted_sample_by_group(gdf, "g", "w", k=5).count() == 0

    labeled = _empty(spark, "id long, text string, label string")
    model, classes = train_nb(labeled)
    assert model.count() == 0 and classes.count() == 0
    # scoring any corpus against an EMPTY model yields no predictions
    # (no classes exist to assign) rather than crashing
    probe = spark.createDataFrame([(1, "a b")], "id long, text string")
    assert score_nb(probe, model, classes).count() == 0
    assert nb_confusion(labeled).count() == 0

    # an index built over an empty corpus still serves ingest lookups
    path = str(tmp_path / "empty_idx")
    write_minhash_index(corpus, path)
    batch = spark.createDataFrame([(5, "some text here")], "id long, text string")
    assert ingest_near_dups(spark, path, batch).count() == 0


def test_session6_ops_on_empty_inputs(spark):
    from gpd_lite_toolbox_spark.text.corpus import perplexity_buckets
    from gpd_lite_toolbox_spark.text.dedup import paragraph_dedup
    from gpd_lite_toolbox_spark.text.pipeline import source_overlap
    from gpd_lite_toolbox_spark.text.web import extract_links, link_graph

    corpus = _empty(spark, "id long, text string")
    assert paragraph_dedup(corpus).count() == 0
    assert perplexity_buckets(corpus).count() == 0
    sourced = _empty(spark, "id long, text string, source string")
    assert source_overlap(sourced).count() == 0
    html = _empty(spark, "id long, html string, source string")
    assert extract_links(html).count() == 0
    assert link_graph(html).count() == 0


def test_session9_ops_on_empty_inputs(spark):
    from gpd_lite_toolbox_spark.operators.audit import table_profile
    from gpd_lite_toolbox_spark.operators.temporal import (
        conversion_funnel,
        retention_cohorts,
    )
    from gpd_lite_toolbox_spark.text.corpus import (
        bigram_logprob,
        cms_heavy_hitters,
        curriculum_order,
        leakage_safe_split,
        quality_blend,
    )
    from gpd_lite_toolbox_spark.text.dedup import (
        bloom_decontaminate,
        chunk_dedup_stats,
        rabin_chunks,
        remove_spans,
        repeated_ngrams,
        simhash_hamming_pairs,
    )
    from gpd_lite_toolbox_spark.text.labeling import lf_diagnostics, weak_labels
    from gpd_lite_toolbox_spark.text.web import hits
    from gpd_lite_toolbox_spark.vector.centroids import embedding_outliers
    from gpd_lite_toolbox_spark.vector.mining import hard_negatives

    corpus = _empty(spark, "id long, text string")
    assert simhash_hamming_pairs(corpus).count() == 0
    assert bloom_decontaminate(corpus, corpus).count() == 0
    docs = spark.createDataFrame([(1, "some text")], "id long, text string")
    assert bloom_decontaminate(docs, corpus).count() == 0
    assert cms_heavy_hitters(corpus).count() == 0
    assert curriculum_order(corpus).count() == 0
    assert leakage_safe_split(corpus).count() == 0
    assert quality_blend(corpus).count() == 0
    assert bigram_logprob(corpus).count() == 0
    assert weak_labels(corpus).count() == 0
    # the diagnostic still emits its 3 rule rows (zero coverage)
    d = lf_diagnostics(corpus).collect()
    assert len(d) == 3 and all(r.coverage is None or r.coverage == 0.0
                               for r in d)
    assert rabin_chunks(corpus).count() == 0
    assert repeated_ngrams(corpus).count() == 0
    spans = _empty(spark, "id_a long, id_b long, start_a long, "
                          "start_b long, length long")
    assert remove_spans(corpus, spans).count() == 0
    sc = _empty(spark, "id long, text string, source string")
    assert chunk_dedup_stats(sc).count() == 0
    edges = _empty(spark, "src string, dst string")
    assert hits(edges).count() == 0
    emb = _empty(spark, "vec_id long, embedding array<double>, label int")
    assert embedding_outliers(emb, dims=4).count() == 0
    assert hard_negatives(emb, emb, dims=4).count() == 0
    ev = _empty(spark, "event_id long, user_id long, ts timestamp, "
                       "event_type string")
    f = conversion_funnel(ev, ("view", "click")).collect()
    assert [r.n_users for r in sorted(f, key=lambda r: r.step)] == [0, 0]
    assert retention_cohorts(ev).count() == 0
    assert table_profile(_empty(spark, "k long")).count() == 1


def test_round6_ops_empty_inputs(spark, tmp_path):
    from gpd_lite_toolbox_spark.text.corpus import kn_bigram_logprob
    from gpd_lite_toolbox_spark.text.pipeline import curation_ledger
    from gpd_lite_toolbox_spark.text.substrate import (
        read_substrate,
        write_substrate,
    )

    corpus = _empty(spark, "id long, text string")
    assert curation_ledger(corpus).count() == 0
    assert kn_bigram_logprob(corpus).count() == 0
    # substrate of an empty corpus: writes commit, reads are empty,
    # consumers produce empty results (not errors)
    path = str(tmp_path / "sub")
    write_substrate(corpus, path, which=["ngram_sets", "ngram_counts"])
    sets = read_substrate(spark, path, "ngram_sets")
    assert sets.count() == 0
    from gpd_lite_toolbox_spark.text.dedup import ngram_jaccard_pairs

    assert (
        ngram_jaccard_pairs(corpus, threshold=0.5, max_df=8, sets=sets)
        .count()
        == 0
    )


def test_round8_ops_empty_inputs(spark, tmp_path):
    """Round-8 family on empty inputs: trainers and transforms return
    empty typed frames (not errors), the streaming ledger handles an
    all-empty flags index + source, and no tracked cache leaks."""
    from gpd_lite_toolbox_spark.text.corpus import dsir_weights, fim_split
    from gpd_lite_toolbox_spark.text.unigram import unigram_train_em
    from gpd_lite_toolbox_spark.text.wordpiece import (
        wordpiece_encode,
        wordpiece_fertility,
        wordpiece_train,
    )

    corpus = _empty(spark, "id long, text string")
    sourced = _empty(spark, "id long, text string, source string")
    assert fim_split(corpus).count() == 0
    assert dsir_weights(sourced).count() == 0
    assert wordpiece_encode(corpus).count() == 0
    assert wordpiece_fertility(sourced).count() == 0
    assert wordpiece_train(corpus).count() == 0
    assert unigram_train_em(corpus).count() == 0

    from gpd_lite_toolbox_spark.cache import _TRACKED
    from gpd_lite_toolbox_spark.streaming.grid_stream import (
        run_streaming_curation_ledger,
    )
    from gpd_lite_toolbox_spark.text.pipeline import (
        write_curation_flags_index,
    )

    flags = str(tmp_path / "flags")
    src = str(tmp_path / "src")
    write_curation_flags_index(corpus, flags)
    corpus.repartition(1).write.mode("overwrite").parquet(src)
    n0 = len(_TRACKED)
    out = run_streaming_curation_ledger(spark, flags, src)
    assert out.count() == 0
    assert out.columns == ["id", "status"]
    assert len(_TRACKED) == n0  # per-run dictionary released

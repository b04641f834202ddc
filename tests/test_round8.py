"""Round-8 pins: deterministic match_line_cluster (r7 VERDICT item 3).

The pyspark.ml KMeans was replaced with the package's relational Lloyd
(vector/kmeans.py) so the raw co-clustering pairs hash-gate; these pins
hold the properties the swap must preserve.
"""

from pyspark.sql import functions as F

from gpd_lite_toolbox_spark import fixtures as FX
from gpd_lite_toolbox_spark.operators.lines import match_line_cluster

import pytest

# round 11 (r10 VERDICT item 1): round-8 replay pins / partition-invariance sweeps —
# excluded from the default lane so the driver's gate completes;
# the full lane (pytest -m "") runs it.
pytestmark = pytest.mark.slow



def _verts(spark, sf_dir):
    va = (
        FX.road_verts(spark, sf_dir)
        .filter(F.col("id") % 20 == 7)
        .drop("road_class")
    )
    vb = FX.road_b_verts(spark, sf_dir).filter(F.col("id") % 20 == 7)
    return va, vb


def test_match_line_cluster_partition_invariant(spark, sf_dir):
    """The r4 flake that forced the rows-only state was partition
    sensitivity of k-means|| init; the relational Lloyd's output must
    be IDENTICAL under any input partitioning."""
    FX.register_base_tables(spark, sf_dir)
    va, vb = _verts(spark, sf_dir)
    base = sorted(
        (r.id_a, r.id_b) for r in match_line_cluster(va, vb).collect()
    )
    shuffled = sorted(
        (r.id_a, r.id_b)
        for r in match_line_cluster(
            va.repartition(7, "vidx"), vb.repartition(3)
        ).collect()
    )
    assert base == shuffled
    assert len(base) > 0


def test_match_line_cluster_twin_recall(spark, sf_dir):
    """roads_b is a <=1-unit jitter of roads_a (inter-line spacing
    ~1e4), and seeds sit at each A line's own descriptor — every
    planted twin must co-cluster."""
    FX.register_base_tables(spark, sf_dir)
    va, vb = _verts(spark, sf_dir)
    n_lines = va.select("id").distinct().count()
    pairs = match_line_cluster(va, vb)
    twins = (
        pairs.filter(F.col("id_a") == F.col("id_b")).distinct().count()
    )
    assert twins == n_lines


def test_unigram_em_beats_seed_fertility(spark, sf_dir):
    """r7 VERDICT item 5: the EM-trained inventory must beat the
    frequency-seeded one on corpus fertility — emission-ranked pruning
    keeps pieces that win segmentations, where substring ranking
    wastes slots on overlapping fragments (measured 1.50 vs 3.09
    pieces/word at sf0.01)."""
    from gpd_lite_toolbox_spark.fixtures import fixture_df
    from gpd_lite_toolbox_spark.text.unigram import (
        unigram_fertility,
        unigram_train,
        unigram_train_em,
    )

    FX.register_base_tables(spark, sf_dir)
    corpus = fixture_df(spark, sf_dir, "corpus")
    docs = fixture_df(spark, sf_dir, "scorpus")
    seed = [(r.piece, r.cost) for r in unigram_train(corpus).collect()]
    em = [(r.piece, r.cost) for r in unigram_train_em(corpus).collect()]

    def fert(pieces):
        row = (
            unigram_fertility(docs, pieces=pieces)
            .agg(
                F.sum("n_pieces").alias("p"),
                F.sum("n_words").alias("w"),
            )
            .collect()[0]
        )
        return row.p / row.w

    assert fert(em) < fert(seed)


def test_unigram_em_guards(spark):
    import pytest

    from gpd_lite_toolbox_spark.text.unigram import unigram_train_em

    with pytest.raises(ValueError, match="n_rounds"):
        unigram_train_em(None, n_rounds=0)
    with pytest.raises(ValueError, match="max_len"):
        unigram_train_em(None, max_len=3)


def test_stream_curation_ledger_equals_batch(spark, sf_dir):
    """r7 VERDICT item 8: the streamed ledger (2 micro-batches, each
    composing row-local scoring + static-dictionary decontamination +
    the partition-pruned flags-index probe) must equal the batch
    curation_ledger row-for-row."""
    import tempfile

    import __spark_entry__ as E
    from gpd_lite_toolbox_spark.streaming.grid_stream import (
        run_streaming_curation_ledger,
    )
    from gpd_lite_toolbox_spark.text.pipeline import (
        curation_ledger,
        write_curation_flags_index,
    )

    corpus = E._corpus(spark, sf_dir)
    flags = tempfile.mkdtemp(prefix="t_ledgerflags_")
    src = tempfile.mkdtemp(prefix="t_ledgersrc_")
    write_curation_flags_index(corpus, flags)
    corpus.repartition(2).write.mode("overwrite").parquet(src)
    got = sorted(
        (r.id, r.status)
        for r in run_streaming_curation_ledger(spark, flags, src).collect()
    )
    want = sorted(
        (r.id, r.status) for r in curation_ledger(corpus).collect()
    )
    assert got == want
    assert len(got) > 0
    assert len({s for _, s in got}) >= 3  # fixture exercises the stack


def test_wordpiece_matches_python_reference(spark):
    """Greedy longest-match segmentation: the Spark fold must equal
    the pure-Python reference word-for-word, including ## continuation
    spelling and the whole-word [UNK] collapse."""
    from gpd_lite_toolbox_spark.text.wordpiece import (
        UNK_TOKEN,
        wordpiece_encode,
        wordpiece_word_py,
    )

    texts = [
        (1, "customer order line123 part sort wind"),
        (2, "query value small x9 zz"),
        (3, None),
        (4, ""),
    ]
    docs = spark.createDataFrame(texts, "id bigint, text string")
    rows = wordpiece_encode(docs).orderBy("id", "pos").collect()
    got: dict = {}
    for r in rows:
        got.setdefault(r.id, []).append(r.token)
    want: dict = {}
    for i, t in texts:
        for w in (t or "").split(" "):
            if w:
                want.setdefault(i, []).extend(wordpiece_word_py(w))
    assert got == want
    assert UNK_TOKEN in got[1]  # line123 has digits -> whole-word UNK
    # positions dense per doc, token_id = rank in sorted emitted vocab
    toks = sorted({r.token for r in rows})
    assert all(r.token_id == toks.index(r.token) for r in rows)
    assert [r.pos for r in rows if r.id == 1] == list(
        range(len(want[1]))
    )


def test_wordpiece_quoted_vocab_escapes(spark):
    """Vocabulary entries with quotes/backslashes must escape into the
    membership map literal (the shared _spark_str_lit path)."""
    from gpd_lite_toolbox_spark.text.wordpiece import (
        wordpiece_encode,
        wordpiece_word_py,
    )

    vocab = ["don", "##'t", "'", "\\", "d", "o", "n", "##t", "##'"]
    docs = spark.createDataFrame(
        [(1, "don't \\")], "id bigint, text string"
    )
    got = [
        r.token
        for r in wordpiece_encode(docs, vocab=vocab)
        .orderBy("pos")
        .collect()
    ]
    want = []
    for w in "don't \\".split(" "):
        want.extend(wordpiece_word_py(w, vocab=vocab))
    assert got == want == ["don", "##'t", "\\"]


def test_wordpiece_train_likelihood_argmax(spark):
    """The WP trainer must pick the likelihood winner, not the raw
    count winner: 'xq' occurs 3 times but x/q occur nowhere else, so
    its score 3/(3*3) beats 'ab' with 5/(9*7) despite cnt 5 > 3; the
    merged symbol strips the right side's ##."""
    from gpd_lite_toolbox_spark.text.wordpiece import wordpiece_train

    docs = spark.createDataFrame(
        [
            (1, "xq xq xq ab ab ab ab ab a a a a b b"),
        ],
        "id bigint, text string",
    )
    rows = wordpiece_train(docs, n_merges=1).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.left, r.right, r.cnt) == ("x", "##q", 3)
    # score = 1e6 * 3 / (3 * 3)
    assert r.score_e6 == round(1e6 * 3 / 9, 6)
    two = wordpiece_train(docs, n_merges=2).collect()
    assert (two[1].left, two[1].right) == ("a", "##b")


def test_wordpiece_learned_vocab_beats_chars(spark, sf_dir):
    """Trainer -> tokenizer glue: a vocabulary assembled from learned
    merges must segment the training corpus with strictly lower
    fertility than the char-only seed vocabulary, and everything the
    char vocabulary covers stays covered (no new UNKs)."""
    import __spark_entry__ as E
    from gpd_lite_toolbox_spark.text.wordpiece import (
        wordpiece_fertility,
        wordpiece_vocab_learned,
    )

    corpus = E._corpus(spark, sf_dir).withColumn("source", F.lit("s"))
    learned = wordpiece_vocab_learned(corpus, n_merges=8)
    chars = sorted(v for v in learned if len(v.lstrip("#")) <= 1 or (
        v.startswith("##") and len(v) == 3))
    max_len = max(len(v[2:]) if v.startswith("##") else len(v)
                  for v in learned)

    def stats(vocab):
        r = wordpiece_fertility(
            corpus, vocab=vocab, max_len=max_len
        ).collect()[0]
        return r.n_pieces, r.unk_rate

    np_learned, unk_learned = stats(learned)
    np_chars, unk_chars = stats(chars)
    assert np_learned < np_chars
    assert unk_learned == unk_chars


def test_fim_split_invariants(spark, sf_dir):
    """FIM parts reassemble to the original text for selected docs
    with all three parts non-empty; unselected/short/NULL docs pass
    through whole; the decision is partition-invariant."""
    import __spark_entry__ as E
    from gpd_lite_toolbox_spark.text.corpus import fim_split

    corpus = E._corpus(spark, sf_dir)
    out = fim_split(corpus)
    joined = out.join(
        corpus.select(F.col("id"), F.col("text").alias("_orig")), "id"
    )
    bad = joined.filter(
        F.col("fim")
        & (
            (F.concat("prefix", "middle", "suffix") != F.col("_orig"))
            | (F.length("prefix") == 0)
            | (F.length("middle") == 0)
            | (F.length("suffix") == 0)
        )
    ).count()
    assert bad == 0
    whole = joined.filter(~F.col("fim")).filter(
        ~(
            (F.col("prefix") == F.col("_orig"))
            | (F.col("prefix").isNull() & F.col("_orig").isNull())
        )
        | (F.col("middle") != "")
        | (F.col("suffix") != "")
    ).count()
    assert whole == 0
    n_fim = out.filter("fim").count()
    assert 0 < n_fim < out.count()
    again = sorted(
        map(tuple, fim_split(corpus.repartition(7)).collect())
    )
    assert again == sorted(map(tuple, out.collect()))


def test_dsir_weights_prefers_target_like_docs(spark, sf_dir):
    """Docs whose content also appears in the 'mirror' target (the
    planted doc_id%7 copies) must out-score the average raw doc — the
    importance-resampling property DSIR exists for."""
    from gpd_lite_toolbox_spark.fixtures import fixture_df
    from gpd_lite_toolbox_spark.text.corpus import dsir_weights

    FX.register_base_tables(spark, sf_dir)
    sc = fixture_df(spark, sf_dir, "scorpus")
    w = dsir_weights(sc)
    # per-token score, so length doesn't dominate the comparison
    per = w.select(
        "id", (F.col("logratio") / F.col("n_tokens")).alias("r")
    )
    planted = per.filter(
        (F.col("id") < 1000000) & (F.col("id") % 7 == 0)
    )
    rest = per.filter(
        (F.col("id") < 1000000) & (F.col("id") % 7 != 0)
    )
    m_planted = planted.agg(F.avg("r")).collect()[0][0]
    m_rest = rest.agg(F.avg("r")).collect()[0][0]
    assert m_planted > m_rest


def test_match_line_cluster_empty_a(spark, sf_dir):
    """k=0 (empty A side) returns an empty typed frame, not a crash
    in the seed collect."""
    FX.register_base_tables(spark, sf_dir)
    va, vb = _verts(spark, sf_dir)
    out = match_line_cluster(va.filter(F.lit(False)), vb)
    assert out.columns == ["id_a", "id_b"]
    assert out.count() == 0


def test_winnowing_density_and_short_docs(spark):
    """Fingerprint count is bounded by the gram count (and near the
    ~2/(w+1) density on long docs); docs shorter than k are excluded."""
    from gpd_lite_toolbox_spark.text.dedup import (
        WINNOW_W,
        winnow_fingerprints,
    )
    from gpd_lite_toolbox_spark.text.dedup import SHINGLE_K as K

    import random

    rng = random.Random(7)
    long_text = "".join(
        rng.choice("abcdefghijklmnopqrstuvwxyz ") for _ in range(2000)
    )
    docs = spark.createDataFrame(
        [(1, long_text), (2, "tiny")], "id bigint, text string"
    )
    fps = winnow_fingerprints(docs)
    assert fps.filter("id = 2").count() == 0  # shorter than k
    n = fps.filter("id = 1").count()
    n_grams = len(long_text) - K + 1
    assert 0 < n <= n_grams - WINNOW_W + 1
    # density: distinct window minima ~ 2/(w+1) of grams
    assert n < n_grams * 4 / (WINNOW_W + 1)

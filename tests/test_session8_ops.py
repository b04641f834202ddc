"""Unit semantics for the session-8 ops: KMV distinct sketch
(exact-fallback and estimator accuracy, min-merge mergeability),
length-bucketed padding accounting (power-of-two edges, NULL row),
unicode-script profiling (dominance priority, cross-engine class
agreement), semantic decontamination (planted near-copy, tie-break),
and anchor-text aggregation (alignment, quote styles, tie-break)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ------------------------------------------------------------- KMV
def test_kmv_exact_below_k(spark):
    from gpd_lite_toolbox_spark.text.corpus import kmv_vocab_sketch

    docs = spark.createDataFrame(
        [("a", "x y z x"), ("a", "y w")], "source string, text string"
    )
    row = kmv_vocab_sketch(docs, k=64).collect()[0]
    # 4 distinct tokens < k: the sketch IS the vocabulary
    assert row["n_kept"] == 4
    assert row["est_distinct"] == 4.0


def test_kmv_estimator_accuracy_large_vocab(spark):
    from gpd_lite_toolbox_spark.text.corpus import kmv_vocab_sketch

    # 5000 distinct tokens, k=256: KMV standard error ~ 1/sqrt(k-2)
    # ~ 6.3%; assert within 4 sigma (25%)
    docs = spark.range(50).select(
        F.lit("s").alias("source"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(99)),
                lambda i: F.concat(
                    F.lit("tok"), (F.col("id") * 100 + i).cast("string")
                ),
            ),
        ).alias("text"),
    )
    row = kmv_vocab_sketch(docs, k=256).collect()[0]
    assert row["n_kept"] == 256
    assert 3750 <= row["est_distinct"] <= 6250, row["est_distinct"]


def test_kmv_sketch_is_merge_of_partition_sketches(spark):
    """KMV mergeability: the k smallest hashes of a union equal the k
    smallest of the union of per-part k-minima — the property that
    makes the sketch distributable (partial top-k before the shuffle,
    min-merge after)."""
    from gpd_lite_toolbox_spark.text.corpus import kmv_vocab_sketch

    half_a = spark.range(40).select(
        F.lit("s").alias("source"),
        F.concat(F.lit("a"), F.col("id").cast("string")).alias("text"),
    )
    half_b = spark.range(40).select(
        F.lit("s").alias("source"),
        F.concat(F.lit("b"), F.col("id").cast("string")).alias("text"),
    )
    whole = kmv_vocab_sketch(half_a.union(half_b), k=16).collect()[0]
    # merge by hand: union of the two part sketches, keep 16 smallest
    import duckdb

    con = duckdb.connect()
    parts = []
    for h in (half_a, half_b):
        toks = [r["text"] for r in h.collect()]
        parts += [
            con.execute(
                "SELECT CAST(('0x' || substr(md5(?), 1, 15))::UBIGINT "
                "AS BIGINT)",
                [t],
            ).fetchone()[0]
            for t in toks
        ]
    merged = sorted(set(parts))[:16]
    assert whole["kth_hash"] == merged[-1]
    con.close()


def test_kmv_rejects_tiny_k(spark):
    from gpd_lite_toolbox_spark.text.corpus import kmv_vocab_sketch

    docs = spark.createDataFrame([("a", "x")], "source string, text string")
    with pytest.raises(ValueError):
        kmv_vocab_sketch(docs, k=1)


# -------------------------------------------------- length buckets
def test_length_buckets_pow2_edges(spark):
    from gpd_lite_toolbox_spark.text.corpus import length_buckets

    def doc(n):
        return " ".join(["t"] * n)

    docs = spark.createDataFrame(
        [(doc(1),), (doc(2),), (doc(3),), (doc(4),), (doc(5),), (doc(8),),
         (doc(9),), (None,)],
        "text string",
    )
    rows = {r["bucket_max"]: r for r in length_buckets(docs).collect()}
    # exact powers land in their OWN bucket (4 -> 4, 8 -> 8), the
    # next value opens the next bucket (5 -> 8, 9 -> 16)
    assert rows[1]["n_docs"] == 1
    assert rows[2]["n_docs"] == 1
    assert rows[4]["n_docs"] == 2  # 3 and 4
    assert rows[8]["n_docs"] == 2  # 5 and 8
    assert rows[16]["n_docs"] == 1  # 9
    assert rows[0]["n_docs"] == 1  # NULL text diagnostic row
    assert rows[0]["waste_frac"] == 0.0
    # waste: bucket 16 holds one 9-token doc -> 7/16 wasted
    assert abs(rows[16]["waste_frac"] - 7 / 16) < 1e-9


def test_length_buckets_totals_conserve_tokens(spark, sf_dir):
    from gpd_lite_toolbox_spark import fixtures as FX
    from gpd_lite_toolbox_spark.text.corpus import length_buckets

    FX.register_base_tables(spark, sf_dir)
    docs = spark.table("documents")
    out = length_buckets(docs, "text")
    total = out.agg(F.sum("total_tokens")).collect()[0][0]
    expect = docs.select(
        F.sum(
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            + 1
        )
    ).collect()[0][0]
    assert total == expect
    # padded >= total in every bucket
    bad = out.filter(
        F.col("padded_tokens") < F.col("total_tokens")
    ).count()
    assert bad == 0


# ------------------------------------------------- script profile
def test_script_profile_dominance_and_priority(spark):
    from gpd_lite_toolbox_spark.text.analysis import script_profile

    docs = spark.createDataFrame(
        [
            (1, "hello world"),
            (2, "Привет мир"),
            (3, "漢字の文"),        # han=3, kana=1 -> han
            (4, "123 456"),
            (5, "abc Привет"),      # latin 3 vs cyrillic 6 -> cyrillic
            (6, "аб ab"),           # tie 2-2 -> latin (priority)
        ],
        "id long, text string",
    )
    rows = {r["id"]: r for r in script_profile(docs).collect()}
    assert rows[1]["dominant"] == "latin"
    assert rows[2]["dominant"] == "cyrillic"
    assert rows[4]["dominant"] == "none"
    assert rows[4]["n_digit"] == 6
    assert rows[5]["dominant"] == "cyrillic"
    assert rows[6]["dominant"] == "latin"  # fixed priority breaks ties


def test_script_classes_agree_with_re2(spark):
    """The Java \\p{IsXxx} classes and RE2 \\p{Xxx} classes count the
    same characters on a mixed-script probe — the assumption the
    SCRIPT_PROFILE oracle rests on."""
    import duckdb

    from gpd_lite_toolbox_spark.text.analysis import SCRIPT_CLASSES

    probe = "abc Привет 漢字 مرحبا 한글 ひらがなカタカナ 123 é ñ"
    df = spark.createDataFrame([(probe,)], "text string")
    con = duckdb.connect()
    for name, java_pat in SCRIPT_CLASSES:
        re2_pat = java_pat.replace("Is", "")
        n_spark = df.select(
            F.regexp_count("text", F.lit(java_pat))
        ).collect()[0][0]
        n_duck = con.execute(
            "SELECT length(?) - length(regexp_replace(?, ?, '', 'g'))",
            [probe, probe, re2_pat],
        ).fetchone()[0]
        assert n_spark == n_duck, (name, n_spark, n_duck)
    con.close()


# ------------------------------------- semantic decontamination
def test_semantic_decontaminate_flags_planted_copy(spark):
    from gpd_lite_toolbox_spark.text.dedup import semantic_decontaminate

    ev = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    tr = spark.createDataFrame(
        [
            (1, [0.99, 0.1, 0.0, 0.0]),   # near eval 100
            (2, [0.0, 0.0, 1.0, 0.0]),    # orthogonal to both
            (3, [0.5, 0.5, 0.0, 0.0]),    # equidistant: cosine ties
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["train_id"]: r
        for r in semantic_decontaminate(tr, ev, threshold=0.7).collect()
    }
    assert 1 in out and out[1]["eval_id"] == 100
    assert 2 not in out
    # exact tie on rounded cosine: smallest eval_id wins
    assert out[3]["eval_id"] == 100


def test_semantic_decontaminate_empty_eval(spark):
    from gpd_lite_toolbox_spark.text.dedup import semantic_decontaminate

    tr = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    ev = tr.filter(F.col("vec_id") < 0)
    assert semantic_decontaminate(tr, ev, threshold=0.5).count() == 0


# ------------------------------------------------- anchor stats
def test_anchor_stats_alignment_and_tiebreak(spark):
    from gpd_lite_toolbox_spark.text.web import anchor_stats

    html = spark.createDataFrame(
        [
            # two anchors in one doc: href/text pairs must stay aligned
            ('<a href="https://a.com/1">first</a>'
             '<a href="https://b.com/2">second</a>',),
            # single-quoted + relative + surrounding spaces trimmed
            ("<a href='/x'>  rel  </a>",),
            # tie: a.com gets 'first' and 'zz' once each -> 'first'
            ('<a href="https://a.com/3">zz</a>',),
            # uppercase attribute still matches
            ('<A HREF="https://b.com/4">second</A>',),
        ],
        "html string",
    )
    rows = {r["domain"]: r for r in anchor_stats(html).collect()}
    assert rows["a.com"]["n_anchors"] == 2
    assert rows["a.com"]["top_text"] == "first"  # lexicographic tie-break
    assert rows["b.com"]["top_text"] == "second"
    assert rows["b.com"]["top_text_n"] == 2
    assert rows["(relative)"]["top_text"] == "rel"


def test_anchor_stats_no_anchors_is_empty(spark):
    from gpd_lite_toolbox_spark.text.web import anchor_stats

    html = spark.createDataFrame([("<p>no links</p>",)], "html string")
    assert anchor_stats(html).count() == 0


# ------------------------------------------------- hilbert keys
def test_hilbert_bijective_and_adjacent_on_full_grid(spark):
    """The defining Hilbert property Z-order lacks: sorting the full
    16x16 grid by key yields a path where EVERY consecutive pair of
    cells is grid-adjacent (Manhattan distance 1) — the locality
    guarantee that makes range-sorted files carry tight bboxes."""
    from gpd_lite_toolbox_spark.operators.zorder import hilbert_key_expr

    n = 16
    pts = spark.createDataFrame(
        [
            (i, float(xx) + 0.5, float(yy) + 0.5)
            for i, (xx, yy) in enumerate(
                (a, b) for a in range(n) for b in range(n)
            )
        ],
        "id long, x double, y double",
    )
    b = dict(xmin=0.0, ymin=0.0, xmax=16.0, ymax=16.0)
    out = pts.select(
        "x", "y",
        hilbert_key_expr(F.col("x"), F.col("y"), b, bits=4).alias("d"),
    ).collect()
    ds = sorted(r["d"] for r in out)
    assert ds == list(range(256))  # bijection onto [0, 4^bits)
    bykey = {r["d"]: (int(r["x"]), int(r["y"])) for r in out}
    for i in range(255):
        (x0, y0), (x1, y1) = bykey[i], bykey[i + 1]
        assert abs(x0 - x1) + abs(y0 - y1) == 1, (i, bykey[i], bykey[i + 1])


def test_hilbert_beats_zorder_on_range_locality(spark):
    """Max bbox side over consecutive key windows — the file-pruning
    proxy: Hilbert windows must be tighter than Morton windows on the
    same grid (the reason to prefer it for layout)."""
    from gpd_lite_toolbox_spark.operators.zorder import (
        hilbert_key_expr,
        zorder_key_expr,
    )

    n = 32
    pts = spark.createDataFrame(
        [
            (float(xx) + 0.5, float(yy) + 0.5)
            for xx in range(n)
            for yy in range(n)
        ],
        "x double, y double",
    )
    b = dict(xmin=0.0, ymin=0.0, xmax=32.0, ymax=32.0)
    rows = pts.select(
        "x", "y",
        hilbert_key_expr(F.col("x"), F.col("y"), b, bits=5).alias("h"),
        zorder_key_expr(F.col("x"), F.col("y"), b, bits=5).alias("z"),
    ).collect()

    def worst_span(key):
        srt = sorted(rows, key=lambda r: r[key])
        win = 64  # "file" of 64 rows
        worst = 0
        for i in range(0, len(srt), win):
            grp = srt[i : i + win]
            span = max(
                max(r["x"] for r in grp) - min(r["x"] for r in grp),
                max(r["y"] for r in grp) - min(r["y"] for r in grp),
            )
            worst = max(worst, span)
        return worst

    assert worst_span("h") <= worst_span("z")


# --------------------------------------------- unigram divergence
def test_unigram_divergence_identical_and_disjoint(spark):
    from gpd_lite_toolbox_spark.text.corpus import unigram_divergence

    import math

    # two strata with IDENTICAL distributions: jsd = 0 for both
    same = spark.createDataFrame(
        [("a", "x y z"), ("b", "x y z")], "source string, text string"
    )
    rows = {r["source"]: r for r in unigram_divergence(same).collect()}
    assert rows["a"]["jsd"] == 0.0 and rows["b"]["jsd"] == 0.0
    # coverage is the GLOBAL mass of the tokens the stratum has —
    # both strata hold the full vocabulary, so both cover everything
    assert rows["a"]["coverage"] == 1.0

    # disjoint vocabularies: jsd -> ln 2 against the pooled global
    # (each stratum holds half the global mass, so jsd < ln 2; the
    # exact value for equal-sized disjoint strata is ln 2 - 0.5*ln 2
    # ... pin numerically instead)
    disj = spark.createDataFrame(
        [("a", "x x"), ("b", "y y")], "source string, text string"
    )
    out = {r["source"]: r for r in unigram_divergence(disj).collect()}
    # P = {x:1}, Q_global = {x:.5, y:.5}: jsd = 0.5*ln(4/3)*... pin:
    p_term = 0.5 * math.log(1.0 / 0.75)
    q_term = 0.5 * (0.5 * math.log(0.5 / 0.75) + math.log(2.0) * 0.5)
    expect = round(p_term + q_term, 6)
    assert abs(out["a"]["jsd"] - expect) < 2e-6, (out["a"]["jsd"], expect)
    assert out["a"]["jsd"] == out["b"]["jsd"]  # symmetric fixture


def test_unigram_divergence_flags_drifted_stratum(spark):
    from gpd_lite_toolbox_spark.text.corpus import unigram_divergence

    rows = [("norm", "alpha beta gamma delta")] * 20 + [
        ("drift", "omega omega omega omega")
    ] * 2
    docs = spark.createDataFrame(rows, "source string, text string")
    out = {r["source"]: r for r in unigram_divergence(docs).collect()}
    assert out["drift"]["jsd"] > 10 * out["norm"]["jsd"]


# ------------------------------------------------- frame dedup
def test_frame_dedup_finds_planted_reupload(spark):
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.media.multimodal import (
        attach_fake_media,
        decode_image_meta,
        dedup_frames,
    )

    # ids 2 and 102 share seed 2 (video kind): every sampled frame
    # collides; id 5 has kind video? 5 % 3 = 2 -> video, unique seed
    docs = spark.createDataFrame(
        [(2, 2), (102, 2), (5, 5)], "doc_id long, vid_seed long"
    )
    vids = attach_fake_media(docs, id_col="vid_seed").filter(
        F.col("media_kind") == "video"
    )
    out = dedup_frames(decode_image_meta(vids), every_n=10)
    rows = out.collect()
    assert len(rows) > 0
    # every duplicate signature names exactly the two planted videos
    assert all(r["n_docs"] == 2 and r["n_frames"] == 2 for r in rows)
    # and the count matches the sampled-frame count of seed 2:
    # n_frames = 1 + (2*31) % 240 = 63 -> ceil(63/10) = 7 samples
    assert len(rows) == 7


def test_frame_signature_matches_generator_arithmetic(spark):
    """The binary-side signature (hex of payload body) equals the
    arithmetic-side md5 — the decode-what-was-encoded invariant the
    FRAME_DEDUP oracle rests on."""
    import hashlib

    from gpd_lite_toolbox_spark.media.multimodal import (
        attach_fake_media,
        frame_signature_expr,
    )

    docs = spark.createDataFrame([(7, 7)], "doc_id long, vid_seed long")
    row = (
        attach_fake_media(docs, id_col="vid_seed")
        .withColumn("frame_idx", __import__("pyspark").sql.functions.lit(3))
        .select(frame_signature_expr().alias("sig"))
        .collect()[0]
    )
    expect = hashlib.md5(
        (hashlib.md5(b"7").hexdigest() + "_3").encode()
    ).hexdigest()
    assert row["sig"] == expect


# -------------------------------------------------- bpe fertility
def test_bpe_fertility_hand_computed(spark):
    from gpd_lite_toolbox_spark.text.bpe import bpe_fertility

    docs = spark.createDataFrame(
        [("a", "the the"), ("b", "xyz")], "source string, text string"
    )
    rows = {r["source"]: r for r in
            bpe_fertility(docs, merges=[("t", "h"), ("th", "e")]).collect()}
    # 'the' -> [the]: 2 words, 2 tokens, fertility 1.0, 3 chars/token
    assert rows["a"]["n_words"] == 2 and rows["a"]["n_tokens"] == 2
    assert rows["a"]["fertility"] == 1.0
    assert rows["a"]["avg_token_chars"] == 3.0
    # 'xyz' unmerged -> 3 single-char tokens
    assert rows["b"]["n_tokens"] == 3 and rows["b"]["fertility"] == 3.0


def test_bpe_fertility_run_semantics_match_segmenter(spark):
    """Runs are the divergence-prone case: the report's per-word
    token counts must equal the row-level segmenter's output."""
    import pyspark.sql.functions as F

    from gpd_lite_toolbox_spark.text.bpe import (
        bpe_fertility,
        bpe_segment_expr,
    )

    merges = [("a", "a"), ("aa", "b")]
    docs = spark.createDataFrame(
        [("s", "aaaa aaab baaab aab")], "source string, text string"
    )
    row = bpe_fertility(docs, merges=merges).collect()[0]
    direct = docs.select(
        F.size(bpe_segment_expr("text", merges)).alias("n")
    ).collect()[0]["n"]
    assert row["n_tokens"] == direct


def test_bpe_encode_hand_computed(spark):
    """Encode under the pinned merges: exact token streams, dense
    sorted-vocabulary token ids, and no rows for NULL/empty text."""
    from gpd_lite_toolbox_spark.text.bpe import bpe_encode

    docs = spark.createDataFrame(
        [(1, "the cat in the hat"), (2, None), (3, ""), (4, "  ")],
        "id long, text string",
    )
    rows = sorted(bpe_encode(docs).collect(), key=lambda r: (r.id, r.pos))
    by: dict[int, list[str]] = {}
    for r in rows:
        by.setdefault(r.id, []).append(r.token)
    # t+h -> th, th+e -> the; c,a,t -> c,at; i,n -> in; h,a,t -> h,at
    assert by == {1: ["the", "c", "at", "in", "the", "h", "at"]}
    # positions dense per doc
    assert [r.pos for r in rows] == list(range(7))
    # token ids: one id per distinct token, dense from 0, sorted order
    pairs = {(r.token, r.token_id) for r in rows}
    toks = sorted(t for t, _ in pairs)
    assert pairs == {(t, i) for i, t in enumerate(toks)}


def test_bpe_encode_concat_roundtrip(spark, sf_dir):
    """Lossless property on fixture docs: concatenating a doc's tokens
    in stream order reproduces its text with spaces removed."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark import fixtures as FX
    from gpd_lite_toolbox_spark.text.bpe import bpe_encode

    FX.register_base_tables(spark, sf_dir)
    docs = spark.sql(FX.CORPUS_SQL).filter(
        F.col("text").isNotNull() & (F.col("id") % 50 == 0)
    )
    enc = bpe_encode(docs)
    joined = (
        enc.orderBy("id", "pos")
        .groupBy("id")
        .agg(F.concat_ws("", F.collect_list("token")).alias("round"))
        .join(docs.select("id", "text"), "id")
        .collect()
    )
    assert joined
    for r in joined:
        assert r.round == r.text.replace(" ", "")

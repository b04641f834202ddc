"""Unit tests for the round-4 session-3 operators: CDC latest-wins
merge, sketch-vs-exact cardinality audit, grouped centroids, quality
funnel. (Their declared queries are additionally hash-gated end to end
by test_oracle_parity.)"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


# ------------------------------------------------------------ CDC merge
def _merge(spark, base_rows, change_rows, **kw):
    from gpd_lite_toolbox_spark.operators.cdc import apply_changes

    base = spark.createDataFrame(base_rows, "id bigint, text string")
    changes = spark.createDataFrame(
        change_rows, "id bigint, text string, version bigint, op string"
    )
    out = apply_changes(base, changes, **kw)
    return {r["id"]: r["text"] for r in out.collect()}


def test_cdc_upsert_delete_insert(spark):
    got = _merge(
        spark,
        [(1, "one"), (2, "two"), (3, "three")],
        [
            (1, "one v2", 1, "U"),   # update
            (2, None, 1, "D"),       # delete
            (4, "four", 1, "U"),     # insert
        ],
    )
    assert got == {1: "one v2", 3: "three", 4: "four"}


def test_cdc_latest_version_wins_and_delete_then_reinsert(spark):
    got = _merge(
        spark,
        [(1, "one")],
        [
            (1, "one v1", 1, "U"),
            (1, None, 2, "D"),
            (1, "one v3", 3, "U"),  # re-insert after delete
            (2, "two v1", 1, "U"),
            (2, None, 2, "D"),      # delete wins: higher version
        ],
    )
    assert got == {1: "one v3"}


def test_cdc_null_payload_update_survives(spark):
    # a winning upsert whose payload IS NULL must not be skipped
    # (max_by over the struct, not over the nullable column)
    got = _merge(spark, [(1, "one")], [(1, None, 1, "U")])
    assert got == {1: None}


def test_cdc_missing_column_raises(spark):
    from gpd_lite_toolbox_spark.operators.cdc import apply_changes

    base = spark.createDataFrame([(1, "x")], "id bigint, text string")
    bad = spark.createDataFrame([(1, 1, "U")], "id bigint, version bigint, op string")
    with pytest.raises(ValueError, match="missing columns"):
        apply_changes(base, bad)


def test_cdc_single_exchange_plan(spark):
    """The merge must stay ONE hash aggregate — no join, no window."""
    from gpd_lite_toolbox_spark.operators.cdc import apply_changes

    base = spark.createDataFrame([(1, "x")], "id bigint, text string")
    ch = spark.createDataFrame(
        [(1, "y", 1, "U")], "id bigint, text string, version bigint, op string"
    )
    plan = (
        apply_changes(base, ch)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("Exchange") <= 1


# ------------------------------------------------- approx distinct audit
def test_approx_distinct_report_bounds(spark):
    from gpd_lite_toolbox_spark.operators.audit import approx_distinct_report

    df = spark.range(3000).select(
        (F.col("id") % 997).alias("k"), (F.col("id") % 5).alias("s")
    )
    out = {
        r["col_name"]: r
        for r in approx_distinct_report(df, ["k", "s"]).collect()
    }
    assert out["k"]["exact_distinct"] == 997
    assert out["s"]["exact_distinct"] == 5
    assert out["k"]["within_bound"] and out["s"]["within_bound"]


def test_approx_distinct_report_empty_input(spark):
    from gpd_lite_toolbox_spark.operators.audit import approx_distinct_report

    df = spark.range(0).select(F.col("id").alias("k"))
    rows = approx_distinct_report(df, ["k"]).collect()
    assert len(rows) == 1
    assert rows[0]["exact_distinct"] == 0
    assert rows[0]["within_bound"]  # 0 vs 0 under the max(exact,1) floor


# --------------------------------------------------------- centroids
def test_group_centroids_closed_form(spark):
    from gpd_lite_toolbox_spark.vector.centroids import (
        assemble_vectors,
        group_centroids,
    )

    df = spark.createDataFrame(
        [
            Row(label=0, embedding=[1.0, 2.0]),
            Row(label=0, embedding=[3.0, 6.0]),
            Row(label=1, embedding=[5.0, -1.0]),
            Row(label=1, embedding=None),  # ignored
        ]
    )
    long = group_centroids(df, "label", "embedding")
    got = {(r["group"], r["pos"]): (r["mean"], r["n_vecs"])
           for r in long.collect()}
    assert got == {
        (0, 0): (2.0, 2), (0, 1): (4.0, 2),
        (1, 0): (5.0, 1), (1, 1): (-1.0, 1),
    }
    vecs = {r["group"]: r["vec"] for r in assemble_vectors(long).collect()}
    assert vecs == {0: [2.0, 4.0], 1: [5.0, -1.0]}


def test_group_centroids_no_python_in_plan(spark):
    from gpd_lite_toolbox_spark.vector.centroids import group_centroids

    df = spark.createDataFrame([Row(label=0, embedding=[1.0])])
    plan = (
        group_centroids(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in plan


# ------------------------------------------------------ quality funnel
def test_quality_funnel_accounting(spark):
    from gpd_lite_toolbox_spark.text.pipeline import quality_funnel

    ok = "the quick brown fox jumps over a lazy dog and then " * 4
    corpus = spark.createDataFrame(
        [
            (1, ok),          # passes every stage
            (2, None),        # fails has_text
            (3, "short"),     # fails len_ok
            (4, "x" * 150),   # no stopwords -> fails stop_ok
            # stopwords present but avg token len 16.5 -> fails tok_ok
            (5, ("abcdefghijklmnopqrstuvwxyzabcd the " * 10).strip()),
        ],
        "id bigint, text string",
    )
    rows = {r["stage"]: r for r in quality_funnel(corpus).collect()}
    assert [rows[s]["n_in"] for s in
            ("has_text", "len_ok", "stop_ok", "tok_ok")] == [5, 4, 3, 2]
    assert [rows[s]["n_dropped"] for s in
            ("has_text", "len_ok", "stop_ok", "tok_ok")] == [1, 1, 1, 1]
    assert rows["tok_ok"]["n_out"] == 1
    # funnel telescopes: each stage's n_in is the previous n_out
    assert rows["len_ok"]["n_in"] == rows["has_text"]["n_out"]


def test_quality_funnel_empty_corpus(spark):
    from gpd_lite_toolbox_spark.text.pipeline import quality_funnel

    corpus = spark.createDataFrame([], "id bigint, text string")
    rows = quality_funnel(corpus).collect()
    assert len(rows) == 4
    assert all(r["n_in"] == 0 and r["n_out"] == 0 for r in rows)


# --------------------------------------------- regex tokens / json audit
def test_regex_token_stats_segmentation(spark):
    from gpd_lite_toolbox_spark.text.analysis import regex_token_stats

    corpus = spark.createDataFrame(
        [(1, "ab c7, d-8 Ef"), (2, "plain words here"), (3, "")],
        "id bigint, text string",
    )
    got = {r["id"]: r for r in regex_token_stats(corpus).collect()}
    # ab | c | 7 | , | d | - | 8 | Ef  -> 8 regex tokens over 4 words
    assert got[1]["n_ws_tokens"] == 4 and got[1]["n_re_tokens"] == 8
    assert got[1]["tokens_per_word"] == 2.0
    assert got[2]["n_re_tokens"] == 3 and got[2]["tokens_per_word"] == 1.0
    assert got[3]["n_re_tokens"] == 0


def test_regex_token_stats_no_shuffle(spark):
    from gpd_lite_toolbox_spark.text.analysis import regex_token_stats

    corpus = spark.createDataFrame([(1, "x")], "id bigint, text string")
    plan = (
        regex_token_stats(corpus)._jdf.queryExecution().executedPlan()
        .toString()
    )
    assert "Exchange" not in plan and "Python" not in plan


def test_json_field_stats_validity_classes(spark):
    from gpd_lite_toolbox_spark.operators.audit import json_field_stats

    df = spark.createDataFrame(
        [
            ("a", '{"k": 5}'),
            ("a", '{"k": -2}'),
            ("a", "not json"),     # malformed -> absent
            ("a", '{"x": 1}'),     # missing key -> absent
            ("b", None),           # NULL payload -> absent
        ],
        "grp string, props string",
    )
    got = {r["grp"]: r for r in
           json_field_stats(df, "props", "k", "grp").collect()}
    a = got["a"]
    assert (a["n_rows"], a["n_with_field"]) == (4, 2)
    assert (a["sum_value"], a["min_value"], a["max_value"]) == (3, -2, 5)
    assert a["avg_value"] == 1.5
    b = got["b"]
    assert (b["n_rows"], b["n_with_field"]) == (1, 0)
    assert b["sum_value"] is None and b["avg_value"] is None


# ------------------------------------------- split / unigram logprob
def test_split_corpus_deterministic_and_stable(spark):
    from gpd_lite_toolbox_spark.text.corpus import split_corpus

    c1 = spark.range(1000).withColumnRenamed("id", "id")
    a = dict(split_corpus(c1, seed=7).collect())
    b = dict(split_corpus(c1, seed=7).collect())
    assert a == b  # reproducible
    # growing the corpus never moves an existing doc's assignment
    c2 = spark.range(2000)
    grown = dict(split_corpus(c2, seed=7).collect())
    assert all(grown[i] == a[i] for i in a)
    # fractions roughly honored (md5 is uniform; 1000 docs, wide margin)
    from collections import Counter

    n = Counter(a.values())
    assert 850 <= n["train"] <= 950
    assert n["train"] + n["val"] + n["test"] == 1000


def test_split_corpus_bad_fractions_raise(spark):
    from gpd_lite_toolbox_spark.text.corpus import split_corpus

    with pytest.raises(ValueError, match="sum to 1"):
        split_corpus(spark.range(1), fractions={"a": 0.5, "b": 0.1})


def test_unigram_logprob_closed_form(spark):
    import math

    from gpd_lite_toolbox_spark.text.corpus import unigram_logprob

    # corpus: "a a b" + "a c" -> counts a=3, b=1, c=1, N=5
    corpus = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], "id bigint, text string"
    )
    got = {r["id"]: r for r in unigram_logprob(corpus).collect()}
    exp1 = round(-(2 * math.log(3 / 5) + math.log(1 / 5)) / 3, 6)
    exp2 = round(-(math.log(3 / 5) + math.log(1 / 5)) / 2, 6)
    assert got[1]["n_tokens"] == 3 and got[1]["avg_neg_logprob"] == exp1
    assert got[2]["n_tokens"] == 2 and got[2]["avg_neg_logprob"] == exp2
    # rare-token docs score strictly higher than common-token docs
    assert got[2]["avg_neg_logprob"] > got[1]["avg_neg_logprob"]


# ----------------------------------------- review-pass regression tests
def test_cdc_null_op_reads_as_upsert(spark):
    # a malformed feed row with op NULL must never silently delete
    got = _merge(spark, [(1, "one")], [(1, "one v5", 5, None)])
    assert got == {1: "one v5"}


def test_approx_distinct_report_empty_cols_raises(spark):
    from gpd_lite_toolbox_spark.operators.audit import approx_distinct_report

    with pytest.raises(ValueError, match="non-empty"):
        approx_distinct_report(spark.range(1), [])


def test_json_field_stats_type_mismatch_counts_absent(spark):
    from gpd_lite_toolbox_spark.operators.audit import json_field_stats

    df = spark.createDataFrame(
        [("a", '{"k": "5"}'), ("a", '{"k": 5.0}'), ("a", '{"k": 7}')],
        "grp string, props string",
    )
    row = json_field_stats(df, "props", "k", "grp").collect()[0]
    # quoted "5" and float 5.0 parse to NULL under a BIGINT schema
    assert (row["n_rows"], row["n_with_field"], row["sum_value"]) == (3, 1, 7)


def test_regex_token_pattern_vertical_tab_cross_engine(spark):
    """\\x0B is whitespace to Java's \\s but not RE2's — the explicit
    class must tokenize it identically on both engines."""
    import duckdb

    from gpd_lite_toolbox_spark.text.analysis import (
        REGEX_TOKEN_PATTERN,
        regex_token_stats,
    )

    text = "a\x0bb c"
    corpus = spark.createDataFrame([(1, text)], "id bigint, text string")
    n_spark = regex_token_stats(corpus).collect()[0]["n_re_tokens"]
    n_duck = duckdb.sql(
        "SELECT LEN(regexp_extract_all(?, ?))",
        params=[text, REGEX_TOKEN_PATTERN],
    ).fetchall()[0][0]
    assert n_spark == n_duck == 4  # a | \x0b | b | c


def test_seeded_key_shared_across_family(spark):
    """shard/sample/split must derive from ONE key definition."""
    import inspect

    from gpd_lite_toolbox_spark.text import corpus as C

    # split_corpus delegates to split_expr (shared with
    # leakage_safe_split) — the key derivation lives in the helper
    for fn in (C.shard_corpus, C.sample_k_per_group, C.split_expr):
        src = inspect.getsource(fn)
        assert "seeded_key(" in src and "F.md5(" not in src


def test_dedup_canonical_keeps_best_quality(spark):
    """The retention policy must pick the highest-QUALITY cluster
    member, not the min id — planted cluster where the later doc has
    the better text."""
    from gpd_lite_toolbox_spark.text.dedup import dedup_canonical

    good = ("the quick brown fox jumps over a lazy dog and then some "
            "more of the usual filler words follow here " * 3).strip()
    corpus = spark.createDataFrame(
        [(1, "x" * 150), (2, good), (9, "unrelated standalone text")],
        "id bigint, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2, 1.0)], "id_a bigint, id_b bigint, jaccard double"
    )
    rows = {r["group_id"]: r for r in
            dedup_canonical(corpus, pairs=pairs).collect()}
    # cluster {1,2}: doc 2 has stopwords + sane token lengths -> kept
    assert rows[1]["kept_id"] == 2 and rows[1]["group_size"] == 2
    # singleton keeps itself
    assert rows[9]["kept_id"] == 9 and rows[9]["group_size"] == 1


def test_cdc_randomized_against_python_reference(spark):
    """Seeded random feed vs an independent pure-Python latest-wins
    fold — catches ordering/NULL/tie bugs the fixture classes miss.
    Versions are made unique per key (the operator's documented
    contract); ops drawn from U/D with NULL payloads sprinkled in."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = [(int(i), f"b{i}") for i in range(60)]
    changes = []
    for key in rng.choice(80, size=120):  # keys 60-79 are inserts
        changes.append(
            (
                int(key),
                None if rng.rand() < 0.2 else f"c{key}v",
                0,  # version assigned below, unique per key
                "D" if rng.rand() < 0.3 else "U",
            )
        )
    seen: dict[int, int] = {}
    versioned = []
    for k, t, _v, op in changes:
        seen[k] = seen.get(k, 0) + 1
        versioned.append((k, f"{t}{seen[k]}" if t else None, seen[k], op))
    # python reference: latest version wins, delete removes, base = -1
    state = {k: (t, "U") for k, t in base}
    latest: dict[int, int] = {}
    for k, t, v, op in versioned:
        if v >= latest.get(k, -1):
            latest[k] = v
            state[k] = (t, op)
    expected = {k: t for k, (t, op) in state.items() if op != "D"}

    from gpd_lite_toolbox_spark.operators.cdc import apply_changes

    b = spark.createDataFrame(base, "id bigint, text string")
    c = spark.createDataFrame(
        versioned, "id bigint, text string, version bigint, op string"
    )
    got = {r["id"]: r["text"] for r in apply_changes(b, c).collect()}
    assert got == expected


def test_new_operator_plan_shapes(spark):
    """Pin the claimed plan shapes: split is a pure projection, the
    funnel's only exchange is its single-row reduce, unigram stays at
    its minimal five (n-gram table agg, vocab window, total broadcast +
    its 1-row reduce, per-doc agg) — and none of them touch Python."""
    from gpd_lite_toolbox_spark.text.corpus import (
        split_corpus,
        unigram_logprob,
    )
    from gpd_lite_toolbox_spark.text.pipeline import quality_funnel

    corpus = spark.createDataFrame([(1, "a b c")], "id bigint, text string")
    for df, max_exchanges in (
        (split_corpus(corpus), 0),
        (quality_funnel(corpus), 1),
        (unigram_logprob(corpus), 5),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") <= max_exchanges, plan
        assert "Python" not in plan


# --------------------------------------- salted join / percentile audit
def test_salted_join_equals_plain_join(spark):
    from gpd_lite_toolbox_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [(i % 3, f"v{i}") for i in range(300)], "k bigint, payload string"
    )
    right = spark.createDataFrame(
        [(0, "a"), (1, "b"), (5, "never")], "k bigint, dim string"
    )
    for how in ("inner", "left"):
        got = sorted(
            tuple(r) for r in salted_join(left, right, "k", 4, how).collect()
        )
        exp = sorted(tuple(r) for r in left.join(right, "k", how).collect())
        assert got == exp


def test_salted_join_spreads_hot_key(spark):
    """A single hot key's rows must land in more than one salt class —
    the whole point of the operator. Uses the operator's OWN salt
    expression (row_salt), and pins that salted_join actually joins on
    it (xxhash64 + _salt in the executed plan)."""
    from gpd_lite_toolbox_spark.operators.skew import row_salt, salted_join

    hot = spark.createDataFrame(
        [(1, f"row{i}") for i in range(200)], "k bigint, payload string"
    )
    n_classes = (
        hot.select(row_salt(hot.columns, 8).alias("s"))
        .distinct().count()
    )
    assert n_classes >= 4  # 200 distinct rows over 8 salts
    dim = spark.createDataFrame([(1, "a")], "k bigint, dim string")
    plan = (
        salted_join(hot, dim, "k", 8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "xxhash64" in plan and "_salt" in plan


def test_salted_join_reserved_column_raises(spark):
    from gpd_lite_toolbox_spark.operators.skew import salted_join

    bad = spark.createDataFrame([(1, 0)], "k bigint, _salt int")
    ok = spark.createDataFrame([(1, "x")], "k bigint, v string")
    for left, right in ((bad, ok), (ok, bad)):
        with pytest.raises(ValueError, match="_salt"):
            salted_join(left, right, "k")


def test_salted_join_rejects_right_outer(spark):
    from gpd_lite_toolbox_spark.operators.skew import salted_join

    df = spark.createDataFrame([(1, "x")], "k bigint, v string")
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(df, df, "k", how="right")


def test_approx_percentile_report_bounds_and_empty(spark):
    from gpd_lite_toolbox_spark.operators.audit import (
        approx_percentile_report,
    )

    df = spark.range(10000).select(F.col("id").cast("double").alias("v"))
    rows = {r["quantile"]: r
            for r in approx_percentile_report(df, "v").collect()}
    assert rows[0.5]["exact_value"] == 4999.5
    assert all(r["within_bound"] for r in rows.values())
    empty = approx_percentile_report(
        spark.range(0).select(F.col("id").cast("double").alias("v")), "v"
    ).collect()
    assert len(empty) == 3
    assert all(r["within_bound"] and r["exact_value"] is None for r in empty)


def test_approx_percentile_report_small_and_awkward_inputs(spark):
    """Regression coverage for the review findings: (a) a tiny input
    where the sketch is EXACT must pass the rank gate (the 1-based
    lower bracket failed n=10 at q=0.99); (b) duplicate-heavy data;
    (c) a column name needing quoting and a clashing `_n` column."""
    from gpd_lite_toolbox_spark.operators.audit import (
        approx_percentile_report,
    )

    tiny = spark.range(1, 11).select(F.col("id").cast("double").alias("v"))
    assert all(
        r["within_bound"] for r in approx_percentile_report(tiny, "v").collect()
    )
    dup = spark.createDataFrame(
        [(0.0,)] * 900 + [(1.0,)] * 100, "v double"
    )
    assert all(
        r["within_bound"] for r in approx_percentile_report(dup, "v").collect()
    )
    awkward = spark.range(100).select(
        F.col("id").cast("double").alias("event value"),
        F.lit(1).alias("_n"),
    )
    rows = approx_percentile_report(awkward, "event value").collect()
    assert all(r["within_bound"] for r in rows)


def test_split_leakage_planted_cross_split_pair(spark):
    """A planted near-dup pair forced across splits must surface; a
    same-split pair must not."""
    from gpd_lite_toolbox_spark.text.dedup import split_leakage

    corpus = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "b")], "id bigint, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2, 1.0), (3, 4, 1.0)],
        "id_a bigint, id_b bigint, jaccard double",
    )
    splits = spark.createDataFrame(
        [(1, "train"), (2, "test"), (3, "train"), (4, "train")],
        "id bigint, split string",
    )
    got = split_leakage(corpus, splits, pairs=pairs).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert {r["split_a"], r["split_b"]} == {"train", "test"}

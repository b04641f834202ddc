"""Corpus-pipeline operators: packing invariants, sampling
determinism, TF-IDF ranking, BM25 retrieval."""

import pyspark.sql.functions as F

from gpd_lite_toolbox_spark.text.corpus import (
    pack_sequences,
    stratified_sample,
    tfidf_topk,
)
from gpd_lite_toolbox_spark.text.search import bm25_topk


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, text string")


def test_pack_sequences_is_contiguous_token_stream(spark):
    # 4 docs x 3 tokens, budget 5: stream cuts at 5/10 tokens
    rows = [(i, "a b c") for i in range(4)]
    out = (
        pack_sequences(_df(spark, rows), budget=5)
        .orderBy("id")
        .toPandas()
    )
    assert out["n_tokens"].tolist() == [3, 3, 3, 3]
    # cum_before: 0, 3, 6, 9 -> starts 0,0,1,1; ends (cb+2): 0,1,1,2
    assert out["shard_start"].tolist() == [0, 0, 1, 1]
    assert out["shard_end"].tolist() == [0, 1, 1, 2]
    assert out["offset_in_shard"].tolist() == [0, 3, 1, 4]


def test_pack_sequences_block_boundaries_match_global_cumsum(spark):
    # tiny block size forces the two-level prefix path across blocks
    rows = [(i * 7, "x " * (i % 5 + 1) + "x") for i in range(50)]
    a = pack_sequences(_df(spark, rows), budget=16, block=4).toPandas()
    b = pack_sequences(_df(spark, rows), budget=16, block=100000).toPandas()
    a = a.sort_values("id", ignore_index=True)
    b = b.sort_values("id", ignore_index=True)
    assert a.equals(b)


def test_stratified_sample_deterministic_and_rate_bounded(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "fr") for i in range(2000)],
        "id long, lang string",
    )
    s1 = stratified_sample(df, "lang", {"en": 0.25, "fr": 1.0}).toPandas()
    s2 = stratified_sample(df, "lang", {"en": 0.25, "fr": 1.0}).toPandas()
    assert sorted(s1["id"]) == sorted(s2["id"])  # retry-stable
    n_en = (s1["lang"] == "en").sum()
    assert (s1["lang"] == "fr").sum() == 1000  # rate 1.0 keeps all
    assert 150 <= n_en <= 350  # ~250 expected
    # default rate drops unknown strata entirely
    s3 = stratified_sample(df, "lang", {"en": 0.25}).toPandas()
    assert (s3["lang"] == "fr").sum() == 0


def test_sample_to_mixture_hits_target_proportions(spark):
    """Water-filling: the scarcest targeted stratum is kept ~whole,
    abundant strata are down-sampled toward the target mixture, and
    untargeted strata are dropped entirely."""
    import pytest

    from gpd_lite_toolbox_spark.text.corpus import sample_to_mixture

    rows = (
        [(i, "en") for i in range(6000)]
        + [(10000 + i, "fr") for i in range(1000)]
        + [(20000 + i, "de") for i in range(1500)]
        + [(30000 + i, "zh") for i in range(500)]
    )
    df = spark.createDataFrame(rows, "id long, lang string")
    out = sample_to_mixture(
        df, "lang", {"en": 0.5, "fr": 0.25, "de": 0.25}
    ).toPandas()
    n = out["lang"].value_counts()
    # binding stratum is fr (1000 / 0.25 = 4000 total): kept ~whole
    assert n["fr"] >= 990
    # en targets 2000 of 6000, de 1000 of 1500 — hash variance allowed
    assert 1800 <= n["en"] <= 2200
    assert 900 <= n["de"] <= 1100
    assert "zh" not in n  # untargeted stratum dropped
    with pytest.raises(ValueError, match="no rows"):
        sample_to_mixture(df, "lang", {"en": 0.5, "ja": 0.5})


def test_tfidf_ubiquitous_terms_score_zero(spark):
    rows = [
        (1, "common rare1 common"),
        (2, "common rare2"),
        (3, "common rare3"),
    ]
    out = tfidf_topk(_df(spark, rows), k=2).toPandas()
    by_doc = out[out["rank"] == 1].set_index("id")
    # the doc-unique term wins rank 1 everywhere; 'common' (df=N) = 0
    assert by_doc.loc[1, "term"] == "rare1"
    common = out[out["term"] == "common"]
    assert (common["score"] == 0.0).all()
    assert (out.groupby("id")["rank"].max() <= 2).all()


def test_tfidf_empty_doc_does_not_shift_idf(spark):
    """N counts docs with >= 1 non-empty term (from the tf table) — an
    empty/whitespace-only doc must not inflate N and shift every idf."""
    rows = [(1, "common rare1"), (2, "common rare2"), (3, "  ")]
    out = tfidf_topk(_df(spark, rows), k=2).toPandas()
    # 'common' has df = N = 2 -> idf 0, unaffected by the empty doc 3
    common = out[out["term"] == "common"]
    assert (common["score"] == 0.0).all()
    assert 3 not in set(out["id"])


def test_bm25_ranks_matching_docs_and_is_deterministic(spark):
    rows = [
        (1, "spark window merge spark"),
        (2, "spark table scan"),
        (3, "row group batch"),  # no query term -> excluded
        (4, "window window window"),
    ]
    out = bm25_topk(_df(spark, rows), ["spark", "window"], k=10).toPandas()
    assert set(out["id"]) == {1, 2, 4}
    assert out["rank"].tolist() == [1, 2, 3]
    assert out.loc[0, "id"] == 1  # two distinct terms beats one
    again = bm25_topk(_df(spark, rows), ["spark", "window"], k=10).toPandas()
    assert out.equals(again)


def test_quality_audit_counts_planted_violations(spark):
    import pyspark.sql.functions as F

    from gpd_lite_toolbox_spark.operators.audit import (
        fk_violations,
        predicate_violations,
        quality_report,
        uniqueness_violations,
    )

    child = spark.createDataFrame(
        [(1, 10, 5.0), (2, 10, -1.0), (3, 99, None), (3, None, 2.0)],
        "k long, fk long, v double",
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    rep = quality_report([
        predicate_violations(child, {
            "nonpositive_v": ~(F.col("v") > 0),   # -1.0 and NULL violate
            "null_fk": F.col("fk").isNull(),
        }),
        fk_violations(child, parent, "fk", "pk", rule="orphan_fk"),
        uniqueness_violations(child, ["k"], rule="dup_k"),
    ]).toPandas().set_index("rule")["n_violations"]
    assert rep["nonpositive_v"] == 2
    assert rep["null_fk"] == 1
    assert rep["orphan_fk"] == 1   # fk=99
    assert rep["dup_k"] == 1       # k=3 twice


def test_weighted_sample_deterministic_fixed_k_and_proportional(spark):
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.text.corpus import weighted_sample

    # 400 light rows (w=1) vs 100 heavy rows (w=20): heavy rows hold
    # 1/3 of the mass per capita 20x the light ones — a k=100 sample
    # must overrepresent them far beyond their 20% population share.
    df = spark.range(500).select(
        F.col("id"),
        F.when(F.col("id") < 100, F.lit(20.0)).otherwise(F.lit(1.0)).alias("w"),
    )
    s1 = weighted_sample(df, "w", k=100, seed=7).collect()
    s2 = weighted_sample(df, "w", k=100, seed=7).collect()
    assert [r.id for r in s1] == [r.id for r in s2]  # deterministic
    assert len(s1) == 100
    heavy = sum(1 for r in s1 if r.id < 100)
    assert heavy > 50  # 20% of the population, >50% of the sample
    # priorities are sorted ascending with id tiebreak
    keys = [(r.es_key, r.id) for r in s1]
    assert keys == sorted(keys)


def test_weighted_sample_excludes_nonpositive_and_caps_at_n(spark):
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.text.corpus import weighted_sample

    df = spark.createDataFrame(
        [(1, 5.0), (2, 0.0), (3, -2.0), (4, None), (5, 1.0)],
        "id long, w double",
    )
    got = weighted_sample(df, "w", k=10, seed=0).collect()
    assert sorted(r.id for r in got) == [1, 5]


def test_weighted_sample_plan_is_takeordered_no_exchange(spark, sf_dir):
    import __spark_entry__ as E

    plan = (
        E.queries()["weighted_sample"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan and "Python" not in plan


def test_weighted_sample_by_group_quotas_and_determinism(spark):
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.text.corpus import weighted_sample_by_group

    # 3 groups of 40 rows; one group has only 5 positive-weight rows
    rows = []
    for g in ("a", "b", "c"):
        for i in range(40):
            rid = ord(g) * 1000 + i
            w = 0.0 if g == "c" and i >= 5 else float(1 + i % 7)
            rows.append((rid, g, w))
    df = spark.createDataFrame(rows, "id long, g string, w double")
    s1 = weighted_sample_by_group(df, "g", "w", k=10, seed=3).collect()
    s2 = weighted_sample_by_group(df, "g", "w", k=10, seed=3).collect()
    assert sorted(r.id for r in s1) == sorted(r.id for r in s2)
    by_g = {}
    for r in s1:
        by_g.setdefault(r.g, []).append(r)
    assert len(by_g["a"]) == 10 and len(by_g["b"]) == 10
    assert len(by_g["c"]) == 5  # only 5 positive-weight rows exist
    # within each group the kept rows are the k smallest priorities
    for g, rs in by_g.items():
        keys = sorted((r.es_key, r.id) for r in rs)
        assert keys == sorted(keys)


def test_rrf_fuse_closed_form_scores_and_missing_list_zero(spark):
    from gpd_lite_toolbox_spark.text.search import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2)], "id long, rank int")
    b = spark.createDataFrame([(2, 1), (3, 2)], "id long, rank int")
    out = rrf_fuse([a, b], k=10, k_rrf=60).collect()
    rows = {r.id: r for r in out}
    # id 2 appears in both lists; 1 and 3 in one each (other term = 0)
    assert [r.id for r in out] == [2, 1, 3]
    assert rows[2].rrf == round(1 / 62 + 1 / 61, 6)
    assert rows[1].rrf == round(1 / 61, 6)
    assert rows[3].rrf == round(1 / 62, 6)
    assert rows[1].rank_1 is None and rows[3].rank_0 is None
    assert (rows[2].rank_0, rows[2].rank_1) == (2, 1)
    assert [r.rank for r in out] == [1, 2, 3]


def test_rrf_fuse_rejects_empty_ranking_list(spark):
    import pytest as _pytest

    from gpd_lite_toolbox_spark.text.search import rrf_fuse

    with _pytest.raises(ValueError):
        rrf_fuse([], k=5)


def test_hybrid_topk_surfaces_both_signals(spark, sf_dir):
    from gpd_lite_toolbox_spark import fixtures as FX
    from gpd_lite_toolbox_spark import oracles as OR
    from gpd_lite_toolbox_spark.text.search import hybrid_topk

    FX.register_base_tables(spark, sf_dir)
    corpus = FX.fixture_df(spark, sf_dir, "corpus")
    out = hybrid_topk(
        corpus,
        spark.table("embeddings"),
        query_terms=OR.BM25_TERMS,
        query_vec_id=OR.HYBRID_QUERY_VEC,
        k=OR.HYBRID_K,
        depth=OR.HYBRID_DEPTH,
    ).collect()
    assert 0 < len(out) <= OR.HYBRID_K
    # ranks are 1..n dense, ordering is (rrf desc, id asc)
    assert [r.rank for r in out] == list(range(1, len(out) + 1))
    pairs = [(-r.rrf, r.id) for r in out]
    assert pairs == sorted(pairs)
    # the dense query's own embedding is its rank-1 neighbor, so the
    # fused list must carry at least one dense-ranked row
    assert any(r.rank_1 is not None for r in out)
    assert any(r.rank_0 is not None for r in out)


def test_mixture_plan_closed_form(spark):
    from gpd_lite_toolbox_spark.text.corpus import mixture_plan

    # src a: 2 docs x 4 tokens; src b: 1 doc x 8 tokens; c untargeted
    rows = [
        (1, "a", "w w w w"),
        (2, "a", "x x x x"),
        (3, "b", "y y y y y y y y"),
        (4, "c", "z z"),
    ]
    df = spark.createDataFrame(rows, "id long, source string, text string")
    out = {
        r.source: r
        for r in mixture_plan(df, {"a": 3, "b": 1}, 64).collect()
    }
    assert set(out) == {"a", "b"}  # untargeted stratum excluded
    a, b = out["a"], out["b"]
    assert (a.n_docs, a.n_tokens) == (2, 8)
    assert (b.n_docs, b.n_tokens) == (1, 8)
    assert a.natural_frac == b.natural_frac == 0.5
    assert a.target_frac == 0.75 and b.target_frac == 0.25
    assert a.planned_tokens == 48 and b.planned_tokens == 16
    assert a.epochs == 6.0 and a.oversampled
    assert b.epochs == 2.0 and b.oversampled
    import pytest as _pytest

    with _pytest.raises(ValueError):
        mixture_plan(df, {"a": 0}, 64)
    with _pytest.raises(ValueError):
        mixture_plan(df, {"a": 1}, 0)


_TOKENIZE = {"split", "explode", "explode_outer", "posexplode"}
_LM_SCORERS = (
    "unigram_logprob",
    "bigram_logprob",
    "kn_bigram_logprob",
    "trigram_logprob",
    "kn_trigram_logprob",
)


def _tokenize_calls(fn) -> list[str]:
    """Names of the split/explode calls in a function body, from
    Python calls and from SQL strings (``F.expr("explode(...)")``)."""
    import ast

    doc = fn.body[0].value if ast.get_docstring(fn) is not None else None
    found = []
    for node in ast.walk(fn):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(
                f, "id", None
            )
            if name in _TOKENIZE:
                found.append(name)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node is not doc and any(
                f"{t}(" in node.value for t in _TOKENIZE
            ):
                found.append(node.value)
    return found


def test_only_ngram_doc_counts_tokenizes_for_the_lm_family():
    """The LM scorers sum their model tables from ngram_doc_counts;
    a split or explode in a scorer body is a second text fold."""
    import ast
    from pathlib import Path

    import gpd_lite_toolbox_spark.text.corpus as C

    tree = ast.parse(Path(C.__file__).read_text(encoding="utf-8"))
    fns = {
        n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)
    }
    assert _tokenize_calls(fns["ngram_doc_counts"])  # the guard sees one
    assert {
        name: _tokenize_calls(fns[name])
        for name in _LM_SCORERS
        if _tokenize_calls(fns[name])
    } == {}

"""text/dedup.py operator tests: the near-duplicate pair family, its
one candidate-pair kernel, and the reports around it."""

from __future__ import annotations

import ast
import itertools
from pathlib import Path

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gpd_lite_toolbox_spark import cache, fixtures as FX
from gpd_lite_toolbox_spark.text import dedup
from gpd_lite_toolbox_spark.text.corpus import split_corpus
from gpd_lite_toolbox_spark.text.dedup import (
    contamination_report,
    exact_substring_spans,
    minhash_lsh_pairs,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
    winnow_pairs,
    winnow_report,
)
from tests.util import jobs_started


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


# --- one candidate-pair kernel: hot keys and structure ---------------

_HOT = 1000  # copies of the planted hot key


def _hot_corpus(spark, boiler: str):
    """``_HOT`` identical documents (every key of ``boiler`` is hot)
    next to a few distinct ones, two of which are near-duplicates."""
    rare = "one rare document with entirely distinct words from the swarm"
    rows = [(i, boiler) for i in range(_HOT)]
    rows += [
        (5000, rare),
        (5001, rare + " zq extra"),
        (5002, "a third short text that matches nothing else here at all"),
    ]
    return spark.createDataFrame(rows, "id long, text string")


def _largest_task_read(spark, df) -> tuple[int, list]:
    """(largest shuffle-read record count of any task, collected rows)
    for one collect of ``df``, read from the status store, with AQE
    partition coalescing off so a hot key's partition cannot hide
    inside a merged task."""
    sc = spark.sparkContext
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        with jobs_started(sc) as jobs:
            rows = df.collect()
    finally:
        spark.conf.set(key, prior)
    tracker, status = sc.statusTracker(), sc._jsc.sc().statusStore()
    most = 0
    for job in jobs:
        for stage in tracker.getJobInfo(job).stageIds:
            info = tracker.getStageInfo(stage)
            if info is None:  # skipped: its exchange was reused
                continue
            tasks = status.taskList(stage, info.currentAttemptId, 1 << 20)
            for i in range(tasks.size()):
                metrics = tasks.apply(i).taskMetrics()
                if metrics.isDefined():
                    most = max(
                        most,
                        metrics.get().shuffleReadMetrics().recordsRead(),
                    )
    return most, rows


_BOILER = (
    "this boilerplate sentence is planted verbatim in every swarm "
    "document of the corpus"
)

_CAPPED = {
    "minhash_lsh_pairs": lambda c: minhash_lsh_pairs(c, bucket_cap=8),
    "ngram_jaccard_pairs": lambda c: ngram_jaccard_pairs(c, max_df=8),
    "ngram_containment_pairs": lambda c: ngram_containment_pairs(c),
    "exact_substring_spans": lambda c: exact_substring_spans(
        c, min_len=20, gram_cap=8
    ),
    "winnow_pairs": lambda c: winnow_pairs(c),
}


@pytest.mark.parametrize("name", sorted(_CAPPED))
def test_capped_pairs_never_gather_a_hot_key(spark, name):
    """A key planted in ``_HOT`` documents is dropped by the cap before
    any exchange gathers its postings: no task reads as many shuffle
    records as the key has postings. A ``count(*) over (partition by
    key)`` window, or a repartition by key ahead of the cap, reads them
    all in one task."""
    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("one task per stage reads every record")
    with cache.scoped_release():
        most, rows = _largest_task_read(
            spark, _CAPPED[name](_hot_corpus(spark, _BOILER))
        )
    assert 0 < most < _HOT, (name, most)
    # the swarm's own pairs are all capped away; the rare pair stays
    assert all(r.id_a >= 5000 for r in rows), name
    if name != "exact_substring_spans":
        assert {(r.id_a, r.id_b) for r in rows} == {(5000, 5001)}, name


def _dedup_source() -> ast.Module:
    return ast.parse(Path(dedup.__file__).read_text(encoding="utf-8"))


def _calls(node, name: str) -> list[ast.Call]:
    """Every call of ``name`` (a bare name or an attribute) in ``node``."""
    return [
        n
        for n in ast.walk(node)
        if isinstance(n, ast.Call)
        and (
            (isinstance(n.func, ast.Name) and n.func.id == name)
            or (isinstance(n.func, ast.Attribute) and n.func.attr == name)
        )
    ]


def test_dedup_has_one_pair_kernel_one_cap_one_verify():
    """Structure of the pair family in text/dedup.py: no windowed
    count (the cap is ``_key_pairs``' map-side count), every candidate
    generator calls ``_key_pairs``, and ``array_intersect`` appears only
    in the one verify helper."""
    tree = _dedup_source()
    funcs = {
        f.name: f for f in tree.body if isinstance(f, ast.FunctionDef)
    }
    windowed_counts = [
        c.lineno
        for c in _calls(tree, "over")
        if isinstance(c.func, ast.Attribute)
        and isinstance(c.func.value, ast.Call)
        and _calls(c.func.value, "count")
    ]
    assert windowed_counts == []
    generators = (
        "minhash_lsh_pairs",
        "simhash_hamming_pairs",
        "ngram_jaccard_pairs",
        "ngram_jaccard_prefix_pairs",
        "ngram_containment_pairs",
        "exact_substring_spans",
        "winnow_pairs",
    )
    assert [g for g in generators if not _calls(funcs[g], "_key_pairs")] == []
    # no generator pairs postings on its own: the `id_a < id_b`
    # self-join and the capped postings lists live in the kernel only
    pair_order = "F.col('id_a') < F.col('id_b')"
    assert pair_order in ast.unparse(funcs["_key_pairs"])
    own_pairs = [
        g
        for g in generators
        if _calls(funcs[g], "collect_list")
        or pair_order in ast.unparse(funcs[g])
    ]
    assert own_pairs == []
    assert [
        name
        for name, f in funcs.items()
        if name != "_verify" and _calls(f, "array_intersect")
    ] == []


# --- pair-family tests gathered by module ----------------------------
# Tests marked slow came from modules whose tests all run in the full
# lane only; they keep that lane here.

_word = st.text(
    alphabet=st.sampled_from("abcdefgh theankspark"), min_size=1, max_size=8
).filter(lambda w: " " not in w)
_texts30 = st.lists(_word, min_size=1, max_size=30).map(" ".join)
_texts25 = st.lists(_word, min_size=1, max_size=25).map(" ".join)


@pytest.fixture(scope="module")
def _spark(spark):
    return spark


def _df(_spark, docs):
    return _spark.createDataFrame(
        pd.DataFrame({"id": range(len(docs)), "text": docs}),
        schema="id long, text string",
    )


def _synth_sets(spark, rows):
    """Build a ngram_doc_sets-shaped table directly: (id, _fs sorted
    bigint array, n_sh) — lets the test place pairs EXACTLY at the
    jaccard threshold, which real text shingles can't do on demand."""
    data = [(i, sorted(fs), len(fs)) for i, fs in rows]
    return spark.createDataFrame(
        data, "id bigint, _fs array<bigint>, n_sh bigint"
    )


def test_ppjoin_exact_threshold_pair_survives_t02(spark):
    """J exactly 0.2 at na+nb=18: the position filter's double bound
    t/(1+t)*(na+nb) evaluates to 3.0000000000000004, and a plain ceil
    prunes the pair (ADVICE-verified failure case).  Recall must be
    exactly 1 at the threshold."""
    from gpd_lite_toolbox_spark.text.dedup import ngram_jaccard_prefix_pairs

    # B's 3 shingles all inside A's 15 -> J = 3/(15+3-3) = 0.2 exactly
    sets = _synth_sets(
        spark,
        [(1, list(range(100, 115))), (2, [100, 101, 102])],
    )
    dummy = spark.createDataFrame([], "id bigint, text string")
    out = ngram_jaccard_prefix_pairs(dummy, threshold=0.2, sets=sets)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (1, 2) in pairs


def test_ppjoin_exact_threshold_pair_survives_t028(spark):
    """J exactly 0.28 with na=25: ceil(0.28*25) evaluates to
    ceil(7.000000000000001)=8 in doubles, so the LENGTH filter
    nb >= ceil(t*na) wrongly prunes nb=7 (ADVICE-verified case)."""
    from gpd_lite_toolbox_spark.text.dedup import ngram_jaccard_prefix_pairs

    # B's 7 shingles all inside A's 25 -> J = 7/(25+7-7) = 7/25 = 0.28
    sets = _synth_sets(
        spark,
        [(1, list(range(200, 225))), (2, list(range(200, 207)))],
    )
    dummy = spark.createDataFrame([], "id bigint, text string")
    out = ngram_jaccard_prefix_pairs(dummy, threshold=0.28, sets=sets)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (1, 2) in pairs


def test_ppjoin_matches_bruteforce_across_thresholds(spark):
    """Exhaustive-oracle sweep over awkward thresholds on a synthetic
    universe dense in exact-boundary pairs."""
    from gpd_lite_toolbox_spark.text.dedup import ngram_jaccard_prefix_pairs

    rows = []
    rid = 0
    for n in (3, 5, 7, 9, 12, 15, 18, 25):
        rows.append((rid, list(range(1000, 1000 + n))))
        rid += 1
        rows.append((rid, list(range(1000, 1000 + max(1, n // 2)))))
        rid += 1
    sets = _synth_sets(spark, rows)
    local = {i: set(fs) for i, fs in rows}
    dummy = spark.createDataFrame([], "id bigint, text string")
    for t in (0.2, 0.25, 0.28, 1.0 / 3.0, 0.4):
        expect = set()
        ids = sorted(local)
        for i in ids:
            for j in ids:
                if i >= j:
                    continue
                inter = len(local[i] & local[j])
                union = len(local[i] | local[j])
                if union and inter / union >= t:
                    expect.add((i, j))
        got = {
            (r.id_a, r.id_b)
            for r in ngram_jaccard_prefix_pairs(
                dummy, threshold=t, sets=sets
            ).collect()
        }
        assert got == expect, f"threshold {t}: {got ^ expect}"


def test_containment_flags_quote_jaccard_misses(spark):
    """A short doc quoted inside a long one: containment 1.0 while
    Jaccard is far below any useful threshold — the case this
    operator exists for."""
    from gpd_lite_toolbox_spark.text.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog again and again"
    filler = " ".join(f"word{i} token{i} item{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote + " " + filler)],
        "id long, text string",
    )
    cont = ngram_containment_pairs(docs, threshold=0.8, max_df=64).collect()
    assert len(cont) == 1
    assert cont[0]["id_a"] == 1 and cont[0]["containment"] >= 0.99
    jac = ngram_jaccard_pairs(docs, threshold=0.5, max_df=64).collect()
    assert jac == []  # symmetric Jaccard cannot see the quote


def test_containment_empty_corpus(spark):
    from gpd_lite_toolbox_spark.text.dedup import ngram_containment_pairs

    docs = spark.createDataFrame([], "id long, text string")
    assert ngram_containment_pairs(docs).count() == 0


@pytest.mark.slow
@settings(max_examples=8, deadline=None)
@given(st.lists(_texts30, min_size=2, max_size=6))
def test_containment_dominates_jaccard(_spark, docs):
    """For every pair both operators emit (threshold 0), containment
    >= jaccard: |A∩B|/min >= |A∩B|/union always."""
    from gpd_lite_toolbox_spark.text.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
        word_ngram_array_expr,
    )

    df = _spark.createDataFrame(
        pd.DataFrame({"id": range(len(docs)), "text": docs}),
        schema="id bigint, text string",
    )
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in ngram_containment_pairs(df, threshold=0.0, max_df=64).collect()
    }
    # jaccard over the SAME word-ngram sets, computed directly
    sets_ = {
        r["id"]: set(r["s"])
        for r in df.select(
            "id", word_ngram_array_expr("text").alias("s")
        ).collect()
    }
    for (a, b), c in cont.items():
        sa, sb = sets_[a], sets_[b]
        inter = len(sa & sb)
        j = inter / len(sa | sb)
        expect_c = round(inter / min(len(sa), len(sb)), 6)
        assert c == expect_c
        assert c >= round(j, 6) - 1e-9


@pytest.mark.slow
@settings(max_examples=8, deadline=None)
@given(st.lists(_texts25, min_size=2, max_size=8))
def test_simhash_pairs_equal_bruteforce(_spark, docs):
    from gpd_lite_toolbox_spark.text.dedup import (
        simhash,
        simhash_hamming_pairs,
    )

    df = _df(_spark, docs)
    sigs = {r.id: r.simhash for r in simhash(df).collect()}
    want = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for a, b in itertools.combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {(r.id_a, r.id_b): r.hamming
           for r in simhash_hamming_pairs(df, max_hamming=3).collect()}
    assert got == want


@pytest.mark.slow
def test_winnowing_locality_guarantee(spark):
    """Winnowing's defining property: two docs sharing a substring of
    length >= k + w - 1 MUST share a fingerprint (minhash only makes
    that probable); disjoint docs share none."""
    from gpd_lite_toolbox_spark.text.dedup import (
        WINNOW_W,
        winnow_fingerprints,
        winnow_pairs,
    )
    from gpd_lite_toolbox_spark.text.dedup import SHINGLE_K as K

    shared = "x" * 0 + "the quick brown fox jumps"  # > k+w-1 chars
    docs = spark.createDataFrame(
        [
            (1, "AAAA " + shared + " BBBB"),
            (2, "CCCC " + shared + " DDDD"),
            (3, "zzzzzzzz completely different content here"),
        ],
        "id bigint, text string",
    )
    assert len(shared) >= K + WINNOW_W - 1
    fps = winnow_fingerprints(docs)
    f1 = {r.fp for r in fps.filter("id = 1").collect()}
    f2 = {r.fp for r in fps.filter("id = 2").collect()}
    f3 = {r.fp for r in fps.filter("id = 3").collect()}
    assert f1 & f2
    assert not (f1 & f3) and not (f2 & f3)
    pairs = winnow_pairs(docs, min_shared=1, max_df=8).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}


@pytest.mark.slow
def test_winnow_report_accounting_identities(spark, sf_dir):
    corpus = FX.fixture_df(spark, sf_dir, "corpus")
    row = winnow_report(corpus).collect()[0]
    assert row.n_fps == (
        row.n_fps_unique + row.n_fps_kept + row.n_fps_capped
    )
    assert row.n_postings == (
        row.n_fps_unique + row.n_postings_kept + row.n_postings_dropped
    )
    assert row.max_df_seen >= 1


@pytest.mark.slow
def test_winnow_report_exposes_replica_clique_drop(spark):
    """A 12-replica clique pushes every shared fingerprint past the
    default df cap (8): winnow_pairs returns NOTHING for the clique —
    exactly the silent collapse the report exists to expose."""
    text = "the quick brown fox jumps over the lazy dog " * 4
    docs = spark.createDataFrame(
        [(i, text.strip()) for i in range(12)], "id long, text string"
    )
    assert winnow_pairs(docs).count() == 0
    row = winnow_report(docs).collect()[0]
    assert row.n_fps_capped > 0
    assert row.n_postings_dropped == 12 * row.n_fps_capped
    assert row.max_df_seen == 12
    assert row.n_fps_kept == 0 and row.n_postings_kept == 0

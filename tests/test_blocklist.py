"""Blocklist phrase scan: text/analysis.py ``banned_phrase_hits`` (the
Aho-Corasick mapInPandas kernel) and streaming/grid_stream.py
``run_streaming_blocklist_gate`` (the same kernel per foreachBatch
micro-batch).

The independent reference is ``_naive_overlap_counts``, a per-position
Python scan; the DuckDB per-position oracles in oracles.py gate the
declared queries. In-memory cases run in the default lane; stream and
fixture cases are marked ``slow``.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from gpd_lite_toolbox_spark import fixtures as FX
from gpd_lite_toolbox_spark.text import analysis as TA
from gpd_lite_toolbox_spark.text.analysis import (
    BANNED_FIXTURE_PHRASES,
    banned_phrase_hits,
)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _naive_overlap_counts(text: str, phrases: list) -> dict:
    out = {}
    for p in phrases:
        c = sum(
            1
            for i in range(len(text) - len(p) + 1)
            if text[i : i + len(p)] == p
        )
        if c:
            out[p] = c
    return out


def _naive_rows(docs, phrases) -> list:
    """(id, phrase, n_hits) by the naive per-position scan over the
    case-folded text — the reference the AC kernel must reproduce."""
    folded = [p.lower() for p in phrases]
    return sorted(
        (i, p, c)
        for i, txt in docs
        for p, c in _naive_overlap_counts((txt or "").lower(), folded).items()
    )


def _walk(goto, fail, out, text):
    """Yield (end_position, phrase_index) for every automaton match."""
    node = 0
    for i, ch in enumerate(text):
        while node and ch not in goto[node]:
            node = fail[node]
        node = goto[node].get(ch, 0)
        for pi in out[node]:
            yield i, pi


# --- batch kernel, in memory ---


def test_banned_phrase_hits_semantics(spark):
    docs = spark.createDataFrame(
        [
            (1, "aaa and AAA again"),
            (2, "the Fast Merge path"),
            (3, "nothing here"),
        ],
        "id long, text string",
    )
    out = {
        (r.id, r.phrase): r.n_hits
        for r in banned_phrase_hits(
            docs, ["aa", "fast merge", "absent phrase"]
        ).collect()
    }
    # overlapping occurrences: "aaa" yields 2, case-folded AAA 2 more
    assert out[(1, "aa")] == 4
    assert out[(2, "fast merge")] == 1  # case-insensitive by default
    assert (3, "aa") not in out
    assert not any(p == "absent phrase" for (_, p) in out)
    # case-sensitive mode: AAA no longer matches
    strict = {
        (r.id, r.phrase): r.n_hits
        for r in banned_phrase_hits(
            docs, ["aa"], case_insensitive=False
        ).collect()
    }
    assert strict[(1, "aa")] == 2


def test_overlaps_case_null_empty_match_naive(spark):
    """Overlapping occurrences ('aaaa' holds 'aa' 3 times), nested
    phrases sharing prefixes ('ab' inside 'aba'), case folding, and
    null/empty docs — all must agree with the naive scan exactly."""
    data = [
        (1, "aaaa"),
        (2, "abababa"),
        (3, ""),
        (4, None),
        (5, "AbAb"),
        (6, "xyababx"),
    ]
    docs = spark.createDataFrame(data, "id long, text string")
    phrases = ["aa", "ab", "aba", "abab", "zz"]
    got = _rows(banned_phrase_hits(docs, phrases))
    assert got == _naive_rows(data, phrases)
    # spot truth: AC output links must surface the suffix phrase too
    d2 = {(p, n) for i, p, n in got if i == 2}
    assert ("aba", 3) in d2 and ("ab", 3) in d2 and ("abab", 2) in d2


def test_case_sensitive_mode(spark):
    docs = spark.createDataFrame(
        [(1, "Foo foo FOO")], "id long, text string"
    )
    got = _rows(banned_phrase_hits(docs, ["foo"], case_insensitive=False))
    assert got == [(1, "foo", 1)]


def test_dataframe_phrase_input_and_empty_guard(spark):
    docs = spark.createDataFrame([(1, "x y z")], "id long, text string")
    ph = spark.createDataFrame([("x y",), ("x y",)], "phrase string")
    out = banned_phrase_hits(docs, ph).collect()
    assert len(out) == 1 and out[0].n_hits == 1
    with pytest.raises(ValueError, match="non-empty"):
        banned_phrase_hits(docs, [])


def test_dataframe_phrase_collect_cap(spark, monkeypatch):
    """A DataFrame blocklist is collected to the driver: past the cap
    it fails with a sized error instead of collecting the column."""
    from gpd_lite_toolbox_spark.text import analysis as A

    docs = spark.createDataFrame([(1, "ab cd")], "id long, text string")
    ph = spark.createDataFrame([("ab",), ("cd",), ("cd",)], "phrase string")
    monkeypatch.setattr(A, "PHRASE_COLLECT_CAP", 2)
    assert len(banned_phrase_hits(docs, ph).collect()) == 2
    monkeypatch.setattr(A, "PHRASE_COLLECT_CAP", 1)
    with pytest.raises(ValueError, match="PHRASE_COLLECT_CAP=1"):
        banned_phrase_hits(docs, ph)


def test_join_mode_raises(spark):
    """``mode`` survives for existing callers, but only "ac" is
    accepted: the dictionary-join tier is gone."""
    docs = spark.createDataFrame([(1, "abc")], "id long, text string")
    for mode in ("join", "auto"):
        with pytest.raises(ValueError, match="join tier was removed"):
            banned_phrase_hits(docs, ["ab"], mode=mode)
    assert _rows(banned_phrase_hits(docs, ["ab"], mode="ac")) == [
        (1, "ab", 1)
    ]


# --- automaton, driver side ---


def test_ac_automaton_unit():
    """Merged output links report every pattern ending at a position,
    including suffix patterns."""
    hits = list(_walk(*TA._aho_corasick(["he", "she", "his", "hers"]),
                      "ushers"))
    # 'she' ends at 3 (idx 1), 'he' ends at 3 (idx 0), 'hers' at 5 (3)
    assert (3, 1) in hits and (3, 0) in hits and (5, 3) in hits
    assert len(hits) == 3


@settings(max_examples=200, deadline=None)
@given(
    text=st.text(alphabet="abc", max_size=60),
    phrases=st.lists(
        st.text(alphabet="abc", min_size=1, max_size=5),
        min_size=1,
        max_size=8,
        unique=True,
    ),
)
def test_ac_automaton_matches_naive_scan(text, phrases):
    """The Aho-Corasick walk reports EXACTLY the naive per-position
    overlapping counts for every phrase, on a 3-letter alphabet dense
    with nested/overlapping patterns."""
    counts: dict = {}
    for _i, pi in _walk(*TA._aho_corasick(phrases), text):
        counts[phrases[pi]] = counts.get(phrases[pi], 0) + 1
    assert counts == _naive_overlap_counts(text, phrases)


# --- fixture and streaming cases (slow lane) ---


def _corpus(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("id"), "text"
    )


@pytest.mark.slow
def test_fixture_matches_naive(spark, sf_dir):
    corpus = FX.fixture_df(spark, sf_dir, "corpus")
    df = banned_phrase_hits(corpus, BANNED_FIXTURE_PHRASES)
    assert df.columns == ["id", "phrase", "n_hits"]
    docs = [(r.id, r.text) for r in corpus.select("id", "text").collect()]
    got = _rows(df)
    assert got == _naive_rows(docs, BANNED_FIXTURE_PHRASES)
    assert got


@pytest.mark.slow
def test_plan_shape(spark, sf_dir):
    """PLANS.md round-10 plan-audit pin: the corpus side is scan ->
    project -> MapInPandas with ZERO exchanges below the Python node
    (the automaton rides a broadcast variable, not the plan); the only
    exchange is the post-scan hit aggregate."""
    corpus = FX.fixture_df(spark, sf_dir, "corpus")
    df = banned_phrase_hits(corpus, BANNED_FIXTURE_PHRASES)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    below = plan.split("MapInPandas", 1)[1]
    assert "Exchange" not in below, below[:1500]


@pytest.mark.slow
def test_stream_equals_batch_on_fixture(spark, sf_dir):
    from gpd_lite_toolbox_spark.streaming.grid_stream import (
        run_streaming_blocklist_gate,
    )

    FX.register_base_tables(spark, sf_dir)
    batch = _rows(
        banned_phrase_hits(_corpus(spark, sf_dir), BANNED_FIXTURE_PHRASES)
    )
    stream = _rows(
        run_streaming_blocklist_gate(
            spark, f"{sf_dir}/documents.parquet", BANNED_FIXTURE_PHRASES
        )
    )
    assert batch == stream and len(batch) > 0


@pytest.mark.slow
def test_stream_equals_batch_across_micro_batches(spark, tmp_path):
    """The foreachBatch gate must land on exactly the batch rows
    across multiple genuine micro-batches (two parquet files,
    maxFilesPerTrigger=1)."""
    from gpd_lite_toolbox_spark.streaming.grid_stream import (
        run_streaming_blocklist_gate,
    )

    data = [
        (1, "fast merge table value fast merge"),
        (2, "nothing banned here"),
        (3, "key agg row KEY AGG ROW"),
        (4, None),
    ]
    docs = spark.createDataFrame(data, "doc_id long, text string")
    src = str(tmp_path / "docs")
    docs.repartition(2).write.parquet(src)
    assert len(list((tmp_path / "docs").glob("*.parquet"))) == 2
    phrases = BANNED_FIXTURE_PHRASES
    stream = _rows(run_streaming_blocklist_gate(spark, src, phrases))
    batch = _rows(
        banned_phrase_hits(
            docs.select(F.col("doc_id").alias("id"), "text"), phrases
        )
    )
    assert stream == batch == _naive_rows(data, phrases)
    assert (1, "fast merge", 2) in stream
    assert (3, "key agg row", 2) in stream


@pytest.mark.slow
def test_stream_sql_significant_phrases(spark, tmp_path):
    """Phrases carrying quotes, newlines and other SQL-literal-
    significant characters must count correctly."""
    from gpd_lite_toolbox_spark.streaming.grid_stream import (
        run_streaming_blocklist_gate,
    )

    evil = "it's a\ntrap"
    docs = spark.createDataFrame(
        [
            (1, f"prefix {evil} suffix {evil}!"),
            (2, "clean document"),
            (3, "ends with it's a\ntrap"),
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "docs.parquet")
    docs.write.parquet(src)
    got = _rows(
        run_streaming_blocklist_gate(
            spark, src, [evil, "back\\slash", "clean doc"]
        )
    )
    assert (1, evil, 2) in got
    assert (3, evil, 1) in got
    assert (2, "clean doc", 1) in got

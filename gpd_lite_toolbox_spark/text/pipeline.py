"""Composed training-data cleaning pipeline.

The individual text operators (dedup, quality, language ID, token
stats) each hold their own oracle; this module composes them into the
END-TO-END shape a 100 TB corpus actually runs — dedup survivors ->
quality gate -> language routing -> per-language accounting — entirely
in native column expressions, so the whole pipeline is ONE Catalyst
plan: the dedup is the only wide shuffle (content-hash window), the
gates are filters fused into the same stage, and the final summary is
an ordinary partial-aggregated groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import store
from .analysis import lang_id, quality_score, token_stats

MIN_QUALITY = 0.666667  # >= 2 of 3 quality checks (rounded as emitted)


def clean_corpus_summary(
    corpus: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    min_quality: float = MIN_QUALITY,
) -> DataFrame:
    """Per-language accounting of the cleaned corpus:
    (pred_lang, n_docs, n_tokens, sum_quality).

    Stages: (0) NULL-text docs drop explicitly — they carry no content
    to clean, and md5(NULL) would otherwise collapse them into ONE
    dedup group where all but the min-id doc silently vanish as
    "copies"; (1) exact dedup keeps the min-id copy per content hash —
    the canonical-survivor rule of exact_dedup as a filter rather than
    a report; (2) documents below ``min_quality`` drop; (3) survivors
    route by predicted language and aggregate document/token counts
    and total quality mass."""
    hashed = corpus.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("text"),
        F.md5(text_col).alias("_ch"),
    )
    w = Window.partitionBy("_ch").orderBy("id")
    survivors = (
        hashed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("id", "text")
    )
    q = quality_score(survivors).filter(
        F.col("quality") >= F.lit(float(min_quality))
    )
    lang = lang_id(survivors).select("id", "pred_lang")
    toks = token_stats(survivors).select("id", "n_tokens")
    return (
        q.join(lang, "id")
        .join(toks, "id")
        .groupBy("pred_lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.round(F.sum("quality"), 6).alias("sum_quality"),
        )
    )


def remove_boilerplate_lines(
    corpus: DataFrame,
    min_docs: int = 2,
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style boilerplate removal: drop every line that occurs in at
    least ``min_docs`` distinct documents (navigation chrome, cookie
    banners, license headers — anything repeated verbatim across the
    corpus), reassembling each document's surviving lines in order.

    Returns ``(id, text, n_lines, n_removed)`` — one row per input
    document, ``text`` holding the kept lines newline-joined (empty
    string when every line was boilerplate).

    Scale shape: three hash exchanges, all on bounded keys — (1) the
    line-frequency aggregate keyed by line (partial map-side combine;
    hot lines like "" are a single post-combine row per partition, so
    the classic boilerplate skew never concentrates raw rows); (2) the
    line->count join, which reuses the aggregate's hash partitioning
    on one side; (3) the per-document reassembly keyed by id, whose
    state is bounded by document size. No Python anywhere.
    """
    # NULL text coalesces to "" so the doc still emits its contract
    # row (split(NULL) explodes to zero rows and the id would vanish)
    lines = corpus.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("pos", "line"),
    )
    counts = lines.groupBy("line").agg(
        F.countDistinct("id").alias("n_docs")
    )
    joined = lines.join(counts, "line")
    parts = F.array_sort(F.collect_list(F.struct("pos", "line", "n_docs")))
    kept = F.filter(parts, lambda x: x["n_docs"] < F.lit(int(min_docs)))
    return joined.groupBy("id").agg(
        F.concat_ws("\n", F.transform(kept, lambda x: x["line"])).alias(
            "text"
        ),
        F.count("*").alias("n_lines"),
        F.sum(
            (F.col("n_docs") >= F.lit(int(min_docs))).cast("bigint")
        ).alias("n_removed"),
    )


def normalize_text_expr(text: "F.Column") -> "F.Column":
    """Canonical text normalization as one column expression:
    lowercase, non-alphanumerics to spaces, whitespace runs collapsed,
    trimmed. The regexes stay in the Java/RE2 intersection so the
    DuckDB oracle shares them verbatim; streaming-legal (stateless)."""
    t = F.lower(text)
    t = F.regexp_replace(t, "[^a-z0-9 ]", " ")
    return F.trim(F.regexp_replace(t, " +", " "))


def normalize_corpus(
    corpus: DataFrame, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """(id, text, n_chars_raw, n_chars_norm): the normalization pass a
    corpus runs before tokenization/dedup — a zero-shuffle projection
    at any scale."""
    raw = F.col(text_col)
    norm = normalize_text_expr(raw)
    return corpus.select(
        F.col(id_col).alias("id"),
        norm.alias("text"),
        F.length(raw).alias("n_chars_raw"),
        F.length(norm).alias("n_chars_norm"),
    )


def quality_funnel(
    corpus: DataFrame, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """Stage-by-stage survival report for the quality gate: how many
    documents enter each filter stage, how many it drops, how many
    survive. The observability twin of ``clean_corpus_summary`` /
    ``quality_score`` — a filter change at 100 TB is approved by
    diffing this funnel, not by eyeballing samples.

    Stages (ordered, same thresholds and the same ROUNDED intermediate
    columns as ``quality_score`` so the two reports never disagree):
    ``has_text`` (text non-null), ``len_ok`` (100 <= chars <= 20000),
    ``stop_ok`` (stopword_ratio >= 0.01), ``tok_ok``
    (2 <= avg_token_len <= 12). A document is counted into stage i
    only if it passed stages 0..i-1 — the funnel is cumulative.

    Scale shape: ONE scan; the per-row work is the first-failing-stage
    index (pure codegen arithmetic over replace-based token counts),
    reduced by a single-row aggregate of conditional sums, then
    exploded to the 4-row report. No shuffle wider than the 1-row
    reduce at any corpus size.

    Columns: ``(stage_idx, stage, n_in, n_dropped, n_out)``.
    """
    st = token_stats(
        corpus.select(
            F.col(id_col).alias("id"), F.col(text_col).alias("text")
        )
    )
    conds = [
        ("has_text", F.col("n_chars").isNotNull()),
        ("len_ok", (F.col("n_chars") >= 100) & (F.col("n_chars") <= 20000)),
        ("stop_ok", F.col("stopword_ratio") >= 0.01),
        ("tok_ok", (F.col("avg_token_len") >= 2.0)
                   & (F.col("avg_token_len") <= 12.0)),
    ]
    # first failing stage index; len(conds) == survived the whole gate
    first_fail = F.lit(len(conds))
    for i, (_name, cond) in reversed(list(enumerate(conds))):
        first_fail = F.when(~F.coalesce(cond, F.lit(False)), i).otherwise(
            first_fail
        )
    aggs = [F.count("*").alias("_n0")] + [
        F.coalesce(
            F.sum((F.col("_ff") > i).cast("long")), F.lit(0).cast("long")
        ).alias(f"_s{i}")
        for i in range(len(conds))
    ]
    row = st.select(first_fail.alias("_ff")).agg(*aggs)
    stages = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("stage_idx"),
                    F.lit(name).alias("stage"),
                    (F.col("_n0") if i == 0 else F.col(f"_s{i - 1}"))
                    .cast("long")
                    .alias("n_in"),
                    F.col(f"_s{i}").cast("long").alias("n_out"),
                )
                for i, (name, _c) in enumerate(conds)
            ]
        )
    ).alias("_st")
    return row.select(stages).select(
        "_st.stage_idx",
        "_st.stage",
        "_st.n_in",
        (F.col("_st.n_in") - F.col("_st.n_out")).alias("n_dropped"),
        "_st.n_out",
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot diff audit for incremental ingest: one row per
    document whose membership or content changed between two corpus
    snapshots — ``status`` is ``added`` (id only in new), ``removed``
    (id only in old), or ``changed`` (same id, different content
    hash); unchanged documents emit nothing.

    One full-outer equi-join on id over pre-hashed doc-sized
    projections (the text columns never cross the shuffle — only
    128-bit digests do), so the plan at 100 TB is two scans + one
    keyed exchange each side.

    Membership comes from explicit per-side presence flags, NOT from
    hash nullness — ``md5(NULL)`` is NULL, so a NULL-text document
    present on both sides must still read as present (its hash
    compares null-safely: NULL == NULL is unchanged).

    Columns: ``(id, status, old_hash, new_hash)``.
    """
    o = old.select(
        F.col(id_col).alias("id"),
        F.md5(text_col).alias("old_hash"),
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        F.col(id_col).alias("id"),
        F.md5(text_col).alias("new_hash"),
        F.lit(True).alias("_in_new"),
    )
    j = (
        o.join(n, "id", "full_outer")
        .withColumn("_in_old", F.coalesce("_in_old", F.lit(False)))
        .withColumn("_in_new", F.coalesce("_in_new", F.lit(False)))
    )
    status = (
        F.when(~F.col("_in_old"), F.lit("added"))
        .when(~F.col("_in_new"), F.lit("removed"))
        .when(
            ~F.col("old_hash").eqNullSafe(F.col("new_hash")),
            F.lit("changed"),
        )
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select("id", "status", "old_hash", "new_hash")
    )


def source_quality(
    docs: DataFrame,
    group_cols: tuple[str, ...] = ("source", "lang"),
    text_col: str = "text",
) -> DataFrame:
    """Per-source curation rollup (the RefinedWeb/CCNet crawl-ranking
    shape): document volume, average composite quality, and Gopher
    rule pass rate per group — the report that decides which sources
    a crawl keeps, upweights, or drops.

    Columns: ``(*group_cols, n_docs, avg_quality, n_pass,
    pass_rate)``. ``avg_quality`` aggregates EXACT integer rule points
    (``quality_points_expr``) with a single final division, so the
    average is bit-identical across partitionings — never a float sum
    whose order varies; the Gopher verdict reuses
    ``gopher_stat_exprs``/``gopher_passes_cond`` so this report cannot
    drift from the per-document ``gopher_rules`` audit.

    Scale design: ONE scan — quality points and the Gopher stats are
    row-local expressions; the only shuffle is the rollup keyed by the
    group columns, partial-aggregated map-side (hot sources combine
    before the exchange).
    """
    from .analysis import (
        gopher_passes_cond,
        gopher_stat_exprs,
        quality_points_expr,
    )

    staged = docs.select(
        *[F.col(c) for c in group_cols],
        quality_points_expr(text_col).alias("_pts"),
        *[c.alias(n) for n, c in gopher_stat_exprs(text_col)],
    ).withColumn("_pass", gopher_passes_cond())
    n = F.count("*")
    return staged.groupBy(*[F.col(c) for c in group_cols]).agg(
        n.cast("bigint").alias("n_docs"),
        F.round(F.sum("_pts") / (F.lit(3.0) * n), 6).alias("avg_quality"),
        F.sum(F.col("_pass").cast("bigint")).alias("n_pass"),
        F.round(
            F.sum(F.col("_pass").cast("bigint")) / n.cast("double"), 6
        ).alias("pass_rate"),
    )


DROP_REASON_ORDER = ("exact_dup", "gopher_fail", "low_quality", "kept")


def drop_reasons(
    corpus: DataFrame, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """Per-document drop ledger: WHY does the cleaning pipeline drop
    each document — the audit artifact reviewers ask for before a
    filter change ships. One reason per document, first matching rule
    in priority order:

    1. ``exact_dup`` — not the minimum-id member of its exact-content
       (md5) group;
    2. ``gopher_fail`` — fails the Gopher rule conjunction
       (``gopher_rules``);
    3. ``low_quality`` — composite ``quality_score`` < 2/3 (fails more
       than one of the three cheap rules);
    4. ``kept``.

    Scale design: the quality/Gopher signals are row-local
    expressions; the only shuffle is the exact-dup group argmin — a
    window keyed by the md5 fingerprint (WindowGroupLimit-free: min
    over the group, partial-combined). No joins, no second scan.
    """
    from .analysis import (
        gopher_passes_cond,
        gopher_stat_exprs,
        quality_points_expr,
    )

    staged = corpus.select(
        F.col(id_col).alias("id"),
        F.md5(F.col(text_col)).alias("_fp"),
        quality_points_expr(text_col).alias("_pts"),
        *[c.alias(n) for n, c in gopher_stat_exprs(text_col)],
    ).withColumn("_pass", gopher_passes_cond())
    w = Window.partitionBy("_fp")
    # md5(NULL) is NULL: NULL-text docs would otherwise all land in
    # one "identical" group and be dropped as copies of each other —
    # they must fall through to the quality rules instead
    reason = (
        F.when(
            F.col("_fp").isNotNull()
            & (F.col("id") != F.min("id").over(w)),
            F.lit("exact_dup"),
        )
        .when(~F.coalesce(F.col("_pass"), F.lit(False)),
              F.lit("gopher_fail"))
        .when(F.col("_pts") < 2, F.lit("low_quality"))
        .otherwise(F.lit("kept"))
    )
    return staged.select("id", reason.alias("reason"))

def source_overlap(
    corpus: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source duplication matrix — the curation report that says
    "how much of source A is verbatim inside source B" (mirror sites,
    re-crawls, dataset re-releases). For every unordered source pair
    (including the diagonal, which counts content duplicated WITHIN a
    source), counts distinct exact-content fingerprints present in
    both.

    Returns ``(source_a, source_b, n_shared)`` with
    ``source_a <= source_b``; the diagonal row only appears when a
    fingerprint occurs in the source at least twice (otherwise
    "shared with itself" is every document).

    Scale shape: the corpus collapses to distinct ``(source, fp)``
    pairs FIRST (one combinable exchange — the join never sees raw
    documents), then a self-join keyed by fp whose per-key fan-out is
    bounded by the number of SOURCES carrying that content (sources
    are few; documents are many), then a final matrix-sized aggregate.
    NULL text is excluded: md5(NULL) is NULL and would otherwise
    equi-join nothing anyway.
    """
    d = (
        corpus.filter(F.col(text_col).isNotNull())
        .select(
            F.col(source_col).alias("source"),
            F.col(id_col).alias("id"),
            F.md5(F.col(text_col)).alias("fp"),
        )
        .groupBy("source", "fp")
        .agg(F.count("*").alias("n_occ"))
    )
    a = d.select(
        F.col("source").alias("source_a"), "fp",
        F.col("n_occ").alias("_na"),
    )
    b = d.select(F.col("source").alias("source_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(
            (F.col("source_a") < F.col("source_b"))
            | ((F.col("source_a") == F.col("source_b")) & (F.col("_na") > 1))
        )
        .groupBy("source_a", "source_b")
        .agg(F.countDistinct("fp").alias("n_shared"))
    )


def curation_ledger(
    corpus: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    benchmark_mod: int = 13,
    threshold: float = 0.5,
    min_hits: int = 1,
    max_iter: int = 20,
) -> DataFrame:
    """END-TO-END curation decision ledger: every document's final
    disposition under the FULL curation stack — the one artifact a
    pipeline review actually signs off on (extends ``drop_reasons``,
    which covers only the row-local rules + exact dedup, with the
    near-dup clustering and benchmark-decontamination stages).

    One status per document, FIRST matching rule in priority order:

    1. ``null_text``     — no content to curate;
    2. ``benchmark``     — eval-side documents (``id % benchmark_mod
       == 0``, the decontamination split) never enter training;
    3. ``exact_dup``     — not the min-id member of its exact-content
       (md5) group;
    4. ``near_dup``      — in a minhash-LSH duplicate cluster and not
       its retained member (``dedup_canonical``: highest quality,
       ties min id);
    5. ``contaminated``  — shares >= ``min_hits`` shingles with the
       benchmark side (``decontaminate``);
    6. ``gopher_fail``   — fails the Gopher rule conjunction;
    7. ``low_quality``   — composite quality points < 2 of 3;
    8. ``kept``.

    Every detector runs over the FULL corpus and priority assigns —
    the ledger is an audit of the whole stack, not a materialized
    stage chain (exact dups are jaccard-1 near-dups, so stage-on-
    survivor semantics would hide nothing; both engines replay the
    identical global rules, keeping the DuckDB gate exact).

    Scale shape: reuses each detector's own scale design — banded LSH
    pairs (never all-pairs), the iterative component labeling with
    localCheckpoint truncation, the broadcast benchmark shingle
    dictionary, row-local quality/Gopher expressions; the ledger
    itself adds two doc-keyed left joins and one md5-window. The pair
    table is computed ONCE and feeds both the clustering and the
    retention argmax (``groups=`` passthrough).
    """
    from .analysis import (
        gopher_passes_cond,
        gopher_stat_exprs,
        quality_points_expr,
    )
    from .dedup import decontaminate

    c = corpus.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    )
    bench = c.filter(F.col("id") % benchmark_mod == 0)
    train = c.filter(F.col("id") % benchmark_mod != 0)
    hits = decontaminate(train, bench, min_hits=min_hits).select(
        "id", F.lit(True).alias("_cont")
    )
    staged = c.select(
        "id",
        "text",
        quality_points_expr("text").alias("_pts"),
        *[col.alias(n) for n, col in gopher_stat_exprs("text")],
    ).withColumn("_pass", gopher_passes_cond())
    ledger = staged.join(
        _dup_flags(c, threshold, max_iter), "id", "left"
    ).join(hits, "id", "left")
    status = (
        F.when(F.col("text").isNull(), F.lit("null_text"))
        .when(
            F.col("id") % benchmark_mod == 0, F.lit("benchmark")
        )
        .when(F.col("exact"), F.lit("exact_dup"))
        .when(F.col("near"), F.lit("near_dup"))
        .when(F.coalesce("_cont", F.lit(False)), F.lit("contaminated"))
        .when(
            ~F.coalesce(F.col("_pass"), F.lit(False)),
            F.lit("gopher_fail"),
        )
        .when(F.col("_pts") < 2, F.lit("low_quality"))
        .otherwise(F.lit("kept"))
    )
    return ledger.select("id", status.alias("status"))


# the flags index's store description: one row per id, bucketed by id
CURATION_FLAGS = {"flags": store.Part(("bk",), id_col="id")}


def write_curation_flags_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_iter: int = 20,
    n_buckets: int = 16,
) -> None:
    """Day-1 artifact for the STREAMING curation ledger: the two
    GLOBAL per-doc dedup decisions — ``exact`` (not the min-id member
    of its md5 group) and ``near`` (in a minhash-LSH cluster and not
    its retained member) — materialized once over the corpus as the
    ``flags`` part of a ``store.py`` store, (id, exact, near)
    partitioned by id bucket (``bk = id % n_buckets``), so a
    micro-batch probe collapses its ids' buckets into a static
    partition filter and never scans the corpus (the
    ``write_minhash_index`` day-2 discipline).  Both flags come from
    ``_dup_flags``, as ``curation_ledger``'s do; every other ledger
    rule is row-local or static-dictionary-joined and stays in-stream.
    """
    from ..cache import scoped_release

    with scoped_release():  # returns None: nothing outlives the write
        c = corpus.select(
            F.col(id_col).alias("id"), F.col(text_col).alias("text")
        )
        flags = _dup_flags(c, threshold, max_iter).withColumn(
            "bk", F.col("id") % int(n_buckets)
        )
        store.write(path, CURATION_FLAGS, {"flags": flags})


def _dup_flags(c: DataFrame, threshold: float, max_iter: int) -> DataFrame:
    """(id, exact, near) over an (id, text) corpus: ``exact`` = not the
    min-id member of its md5 group, ``near`` = in a minhash-LSH cluster
    and not its retained member. The pair table is computed once and
    feeds both the clustering and the retention argmax."""
    from ..cache import tracked_persist
    from .dedup import dedup_canonical, dup_groups, minhash_lsh_pairs

    pairs = minhash_lsh_pairs(c, threshold=threshold)
    groups = tracked_persist(dup_groups(c, pairs=pairs, max_iter=max_iter))
    kept = dedup_canonical(c, groups=groups)
    near = groups.join(
        kept.select("group_id", "kept_id"), "group_id"
    ).select(
        "id",
        (
            (F.col("group_size") > 1) & (F.col("id") != F.col("kept_id"))
        ).alias("near"),
    )
    exact = (
        c.select("id", F.md5("text").alias("_fp"))
        .withColumn("_minid", F.min("id").over(Window.partitionBy("_fp")))
        .select(
            "id",
            (
                F.col("_fp").isNotNull() & (F.col("id") != F.col("_minid"))
            ).alias("exact"),
        )
    )
    return exact.join(near, "id", "left").select(
        "id", "exact", F.coalesce("near", F.lit(False)).alias("near")
    )

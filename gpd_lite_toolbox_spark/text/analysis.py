"""Text-analysis operators: token stats, quality scoring, language ID,
fingerprinting. All native column expressions (no regex dialects, no
UDFs): counting is replace-based so Spark and DuckDB agree exactly, and
the whole family rides whole-stage codegen at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _occurrences(padded: Column, needle: str) -> Column:
    """Count left-to-right non-overlapping occurrences of ``needle``."""
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("bigint")


def token_stats(
    corpus: DataFrame, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """(id, n_chars, n_tokens, n_stopwords, avg_token_len,
    stopword_ratio): whitespace tokenization on single-spaced text;
    stopwords counted by padded exact-token match."""
    text = F.col(text_col)
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    n_chars = F.length(text)
    n_tokens = _occurrences(text, " ") + 1
    n_stop = _occurrences(padded, " the ") + _occurrences(padded, " a ")
    return corpus.select(
        F.col(id_col).alias("id"),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        F.round(
            (n_chars - (n_tokens - 1)) / n_tokens.cast("double"), 6
        ).alias("avg_token_len"),
        F.round(n_stop / n_tokens.cast("double"), 6).alias("stopword_ratio"),
    )


def quality_points_expr(text_col: str = "text") -> Column:
    """Integer 0..3 rule points behind ``quality_score`` (quality =
    points / 3, rounded). Exposed as an expression so rollup reports
    (``pipeline.source_quality``) can aggregate EXACT integer points —
    order-independent across partitions — instead of averaging rounded
    doubles. Comparisons run on the same ROUNDED intermediates as
    ``token_stats`` so the two views cannot disagree; NULL text scores
    0 points (matching the SQL oracle's CASE..ELSE 0)."""
    text = F.col(text_col)
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    n_chars = F.length(text)
    n_tokens = _occurrences(text, " ") + 1
    n_stop = _occurrences(padded, " the ") + _occurrences(padded, " a ")
    stop_ratio = F.round(n_stop / n_tokens.cast("double"), 6)
    atl = F.round((n_chars - (n_tokens - 1)) / n_tokens.cast("double"), 6)
    len_ok = ((n_chars >= 100) & (n_chars <= 20000)).cast("int")
    stop_ok = (stop_ratio >= 0.01).cast("int")
    tok_ok = ((atl >= 2.0) & (atl <= 12.0)).cast("int")
    pts = None
    for ok in (len_ok, stop_ok, tok_ok):
        ok = F.coalesce(ok, F.lit(0))
        pts = ok if pts is None else pts + ok
    return pts


def quality_score(
    corpus: DataFrame, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """Composite [0,1] quality heuristic: length band + stopword
    presence + token-length sanity (the shape of C4/Gopher-style rules,
    with thresholds as documented constants)."""
    return corpus.select(
        F.col(id_col).alias("id"),
        F.round(quality_points_expr(text_col) / 3.0, 6).alias("quality"),
    )


# language marker tokens -> language, checked in priority order; the
# fixture corpus is synthetic word-salad so markers are mock, but the
# operator structure (weighted marker counts + argmax) is the real one.
LANG_MARKERS = [
    ("en", " the "),
    ("es", " data "),
    ("zh", " spark "),
]


def lang_id(
    corpus: DataFrame, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """(id, pred_lang, score): argmax of marker-token counts normalized
    by token count; deterministic tie-break by marker priority order."""
    padded = F.concat(F.lit(" "), F.col(text_col), F.lit(" "))
    n_tokens = _occurrences(F.col(text_col), " ") + 1
    counts = [(lang, _occurrences(padded, marker)) for lang, marker in LANG_MARKERS]
    best_score = counts[0][1]
    for _lang, c in counts[1:]:
        best_score = F.greatest(best_score, c)
    pred = F.lit("und")
    # reverse priority: earlier markers win ties by overwriting later
    for lang, c in reversed(counts):
        pred = F.when(c == best_score, F.lit(lang)).otherwise(pred)
    pred = F.when(best_score == 0, F.lit("und")).otherwise(pred)
    return corpus.select(
        F.col(id_col).alias("id"),
        pred.alias("pred_lang"),
        F.round(best_score / n_tokens.cast("double"), 6).alias("score"),
    )


def fingerprint(
    corpus: DataFrame, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """Canonical document fingerprint: md5 of the lower-cased trimmed
    text (reference-style rolling hash replaced by the cross-engine
    stable digest)."""
    return corpus.select(
        F.col(id_col).alias("id"),
        F.md5(F.lower(F.trim(F.col(text_col)))).alias("fingerprint"),
    )


def repetition_stats(
    corpus: DataFrame, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals per document: ``n_tokens``,
    type-token ratio ``ttr`` (distinct tokens / tokens), and the
    most-frequent-bigram load ``top_bigram_n`` / ``top_bigram_frac``
    (count of the modal adjacent token pair and the share of bigram
    slots it occupies). High bigram load or a collapsed ttr flags the
    looping/boilerplate documents an LLM-ingest filter drops.

    Scale shape: the token array never leaves its row (no explode) for
    ttr; only bigrams explode, and the (id, bigram) count partial-
    aggregates map-side before the single hash shuffle on id. No
    Python anywhere — whole-stage codegen end to end.

    Extension beyond the reference (BASELINE.json north star:
    LLM-pipeline quality family; rule family per Gopher/C4).
    """
    toks = F.split(F.col(text_col), " ")
    base = corpus.select(
        F.col(id_col).alias("id"),
        toks.alias("t"),
        F.size(toks).cast("bigint").alias("n_tokens"),
    )
    # sequence(0, -1) would produce a DESCENDING ramp, so pin bigram
    # extraction to docs with >= 2 tokens
    bigrams = F.when(
        F.col("n_tokens") >= 2,
        F.expr(
            "transform(sequence(0, size(t) - 2),"
            " i -> concat(element_at(t, i + 1), ' ', element_at(t, i + 2)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    top = (
        base.select("id", F.explode(bigrams).alias("bg"))
        .groupBy("id", "bg")
        .count()
        .groupBy("id")
        .agg(F.max("count").alias("top_bigram_n"))
    )
    return (
        base.join(top, "id", "left")
        .select(
            "id",
            "n_tokens",
            F.round(
                F.size(F.array_distinct(F.col("t")))
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("ttr"),
            F.coalesce(F.col("top_bigram_n"), F.lit(0)).alias("top_bigram_n"),
            F.when(F.col("n_tokens") > 1,
                F.round(
                    F.coalesce(F.col("top_bigram_n"), F.lit(0))
                    / (F.col("n_tokens") - 1).cast("double"),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("top_bigram_frac"),
        )
    )


# BPE-ish pre-tokenizer segmentation: letter runs | digit runs |
# punctuation runs — the GPT-2 pre-tokenizer shape with the lookaheads
# removed, so the pattern sits in the Java-regex / RE2 intersection and
# the DuckDB oracle runs it verbatim. The whitespace class is spelled
# out because the dialects disagree on `\s`: Java includes vertical
# tab (\x0B), RE2 does not — with the explicit class, \x0B lands in
# the punctuation run on BOTH engines.
REGEX_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r]+"


def regex_token_stats(
    corpus: DataFrame, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """Token counting, both ways the brief needs them: whitespace words
    and a BPE-ish regex segmentation (``REGEX_TOKEN_PATTERN``).
    ``tokens_per_word`` (regex tokens per whitespace word) is the cheap
    proxy for "how much will BPE inflate this document" — punctuation-
    and digit-heavy documents score high and get routed to the byte
    budget, prose scores ~1.

    Columns: ``(id, n_ws_tokens, n_re_tokens, tokens_per_word)``.
    Pure native column expressions (regexp_extract_all + size) — a
    zero-shuffle projection at any corpus scale; NULL text propagates
    NULL counts."""
    text = F.col(text_col)
    n_ws = (_occurrences(text, " ") + 1).cast("bigint")
    n_re = F.size(
        F.regexp_extract_all(text, F.lit(REGEX_TOKEN_PATTERN), F.lit(0))
    ).cast("bigint")
    return corpus.select(
        F.col(id_col).alias("id"),
        n_ws.alias("n_ws_tokens"),
        n_re.alias("n_re_tokens"),
        F.round(n_re / n_ws.cast("double"), 6).alias("tokens_per_word"),
    )


# Gopher document-quality rules (Rae et al. 2021, "Scaling Language
# Models", Table A1) — the published thresholds, kept verbatim so the
# report reads as the standard filter:
GOPHER_WORD_MIN, GOPHER_WORD_MAX = 50, 100_000
GOPHER_MWL_MIN, GOPHER_MWL_MAX = 3.0, 10.0
GOPHER_SYMBOL_MAX = 0.1
GOPHER_BULLET_MAX = 0.9
GOPHER_ELLIPSIS_MAX = 0.3
GOPHER_ALPHA_MIN = 0.8
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
GOPHER_STOP_MIN = 2


def gopher_rules(
    corpus: DataFrame, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """Per-document Gopher quality-rule report: the measured statistics
    plus the pass/fail verdict of each published rule and their
    conjunction. The single-rule ``quality_score`` above is the cheap
    composite; this is the full audit a filtering pipeline logs before
    dropping documents.

    Output: (id, n_words, mean_word_len, symbol_ratio, bullet_frac,
    ellipsis_frac, alpha_frac, n_stop_distinct, passes).

    Scale design: a pure zero-shuffle projection — every statistic is a
    native string/array expression (split + higher-order lambdas), so
    the report is one codegen map pass over the corpus at any size. All
    patterns live in the Java-regex/RE2 intersection so the DuckDB
    oracle shares them verbatim.
    """
    out = corpus.select(
        F.col(id_col).alias("id"),
        *[c.alias(n) for n, c in gopher_stat_exprs(text_col)],
    )
    return out.withColumn("passes", gopher_passes_cond())


def gopher_stat_exprs(text_col: str = "text") -> list[tuple[str, "F.Column"]]:
    """The (name, expression) list behind ``gopher_rules`` — exposed so
    rollup reports (``pipeline.source_quality``) share the SAME rounded
    statistics and cannot drift from the per-document audit."""
    text = F.col(text_col)
    toks = F.split(text, " ")
    lines = F.split(text, "\n")
    n_words = F.size(toks)
    n_lines = F.size(lines)
    dn_words = n_words.cast("double")
    # single-spaced convention (see token_stats): word chars = chars
    # minus the n_words-1 space separators minus any embedded newline
    # characters (line structure is kept only for the line rules)
    mean_wl = F.round(
        (F.length(text) - (n_words - 1) - (n_lines - 1)) / dn_words,
        6,
    )
    n_sym = _occurrences(text, "#") + _occurrences(text, "...")
    symbol_ratio = F.round(n_sym / dn_words, 6)
    bullet_frac = F.round(
        F.size(
            F.filter(
                lines,
                lambda ln: ln.startswith("- ") | ln.startswith("* "),
            )
        )
        / n_lines.cast("double"),
        6,
    )
    ellipsis_frac = F.round(
        F.size(F.filter(lines, lambda ln: ln.endswith("...")))
        / n_lines.cast("double"),
        6,
    )
    alpha_frac = F.round(
        F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]"))) / dn_words,
        6,
    )
    n_stop = None
    for s in GOPHER_STOPWORDS:
        # CASE-WHEN (not a bare cast): array_contains(NULL, s) is NULL,
        # and the oracle's CASE WHEN list_contains THEN 1 ELSE 0 maps
        # that to 0 — so a NULL-text doc gets n_stop_distinct = 0,
        # which forces the pass conjunction FALSE (0 >= 2) on BOTH
        # engines instead of a Spark-only NULL that quality filters
        # would silently skip
        c = F.when(F.array_contains(toks, s), F.lit(1)).otherwise(
            F.lit(0)
        )
        n_stop = c if n_stop is None else n_stop + c
    return [
        ("n_words", n_words),
        ("mean_word_len", mean_wl),
        ("symbol_ratio", symbol_ratio),
        ("bullet_frac", bullet_frac),
        ("ellipsis_frac", ellipsis_frac),
        ("alpha_frac", alpha_frac),
        ("n_stop_distinct", n_stop),
    ]


def gopher_passes_cond() -> "F.Column":
    """The rule conjunction over the NAMED ``gopher_stat_exprs``
    columns (referencing the aliased columns pins one evaluation of
    each array lambda — building it from raw expressions would make
    project collapse re-evaluate them inside the conjunction)."""
    return (
        F.col("n_words").between(GOPHER_WORD_MIN, GOPHER_WORD_MAX)
        & F.col("mean_word_len").between(GOPHER_MWL_MIN, GOPHER_MWL_MAX)
        & (F.col("symbol_ratio") < GOPHER_SYMBOL_MAX)
        & (F.col("bullet_frac") < GOPHER_BULLET_MAX)
        & (F.col("ellipsis_frac") < GOPHER_ELLIPSIS_MAX)
        & (F.col("alpha_frac") > GOPHER_ALPHA_MIN)
        & (F.col("n_stop_distinct") >= GOPHER_STOP_MIN)
    )


def dup_ngram_coverage(
    corpus: DataFrame,
    n: int = 5,
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher's duplicate n-gram character coverage: the fraction of a
    document's word characters lying inside at least one occurrence of
    a token n-gram that appears >= 2 times in the SAME document (each
    character counted once however many duplicated grams cover it —
    interval union, not occurrence sum). The heavy repetition signal
    Gopher/RefinedWeb gate on for n in 5..10; ``repetition_stats``
    above covers the light ttr/top-bigram signals.

    Output: (id, n_tokens, tok_chars, covered_chars,
    dup_ngram_char_frac); ``tok_chars`` excludes the single-space
    separators of the corpus convention.

    Scale design: entirely ROW-LOCAL — grams, the sorted-neighbor
    duplicate test, the span union, and the character sum are all
    higher-order array expressions, so the report is a zero-shuffle
    codegen+eval pass at any corpus size. Per row the sort is
    O(m log m) in token count and the span union O(m * n) — linear
    passes, no quadratic pair scan (the sorted-adjacency test replaces
    count-per-gram lookups). The DuckDB gate recomputes coverage
    RELATIONALLY (lateral unnest + group-by + distinct spans), so
    agreement checks two independent algorithms.
    """
    text = F.col(text_col)
    toks = F.split(text, " ")
    m = F.size(toks)
    base = corpus.select(
        F.col(id_col).alias("id"),
        toks.alias("t"),
        m.cast("bigint").alias("n_tokens"),
        (F.length(text) - (m - 1)).cast("bigint").alias("tok_chars"),
    )
    grams = F.when(
        F.col("n_tokens") >= n,
        F.expr(
            f"transform(sequence(0, size(t) - {n}),"
            f" i -> named_struct("
            f"'g', concat_ws(' ', slice(t, i + 1, {n})), 's', i))"
        ),
    ).otherwise(F.expr("array()").cast("array<struct<g:string,s:int>>"))
    # struct sort orders by (g, s); an occurrence is duplicated iff a
    # sorted neighbor shares its gram string
    staged = base.withColumn("sg", F.array_sort(grams))
    dup_starts = F.expr(
        "transform("
        "  filter(sequence(0, size(sg) - 1),"
        "    i -> (i > 0 AND sg[i].g = sg[i - 1].g)"
        "      OR (i < size(sg) - 1 AND sg[i].g = sg[i + 1].g)),"
        "  i -> sg[i].s)"
    )
    covered_idx = F.array_distinct(
        F.flatten(
            F.expr(
                f"transform(dup_starts, s -> sequence(s, s + {n} - 1))"
            )
        )
    )
    staged = staged.withColumn("dup_starts", dup_starts).withColumn(
        "cov", covered_idx
    )
    covered_chars = F.expr(
        "aggregate(cov, CAST(0 AS BIGINT),"
        " (acc, i) -> acc + length(element_at(t, i + 1)))"
    )
    return staged.select(
        "id",
        "n_tokens",
        "tok_chars",
        covered_chars.alias("covered_chars"),
        # empty text has tok_chars = 0: emit 0.0 rather than tripping
        # ANSI divide-by-zero (mirrored in the oracle)
        F.when(F.col("tok_chars") > 0,
            F.round(
                covered_chars / F.col("tok_chars").cast("double"), 6
            ),
        ).otherwise(F.lit(0.0)).alias("dup_ngram_char_frac"),
    )


# Unicode script classes, ordered by dominance priority (earlier wins
# ties). Java regex (Spark) spells scripts \p{IsXxx}; RE2 (DuckDB)
# spells them \p{Xxx} — oracles.SCRIPT_PROFILE mirrors this table with
# the RE2 spelling, verified char-for-char identical on mixed-script
# probes (tests/test_session8_ops.py).
SCRIPT_CLASSES: list[tuple[str, str]] = [
    ("latin", r"\p{IsLatin}"),
    ("cyrillic", r"\p{IsCyrillic}"),
    ("han", r"\p{IsHan}"),
    ("arabic", r"\p{IsArabic}"),
    ("hangul", r"\p{IsHangul}"),
    ("kana", r"[\p{IsHiragana}\p{IsKatakana}]"),
]


def script_profile(
    corpus: DataFrame, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """Per-document unicode-script composition: character counts for
    the six major script classes plus decimal digits, and the dominant
    script (most characters; ties broken by the fixed SCRIPT_CLASSES
    priority; ``none`` when no scripted character occurs). The
    script-level complement of ``lang_id`` — marker tokens separate
    same-script languages, script counts separate writing systems and
    catch mixed-script mojibake/spam that a language marker misses.

    Columns: ``(id, n_chars, n_latin, n_cyrillic, n_han, n_arabic,
    n_hangul, n_kana, n_digit, dominant)``.

    Scale shape: zero-shuffle row-local regexp projection (one
    codegen stage); nothing leaves the scan task but the profile row.
    """
    text = F.col(text_col)
    counts = [
        (name, F.regexp_count(text, F.lit(pat)))
        for name, pat in SCRIPT_CLASSES
    ]
    best = counts[0][1]
    for _name, c in counts[1:]:
        best = F.greatest(best, c)
    dominant = F.lit("none")
    for name, c in reversed(counts):
        dominant = F.when(c == best, F.lit(name)).otherwise(dominant)
    dominant = F.when(best == 0, F.lit("none")).otherwise(dominant)
    return corpus.select(
        F.col(id_col).alias("id"),
        F.length(text).cast("bigint").alias("n_chars"),
        *[
            c.cast("bigint").alias(f"n_{name}")
            for (name, _p), (_n, c) in zip(SCRIPT_CLASSES, counts)
        ],
        F.regexp_count(text, F.lit(r"\p{Nd}")).cast("bigint").alias(
            "n_digit"
        ),
        dominant.alias("dominant"),
    )


def _aho_corasick(plist: list[str]):
    """Build the Aho-Corasick automaton (goto / fail / output) for
    ``plist``. Classic Aho & Corasick 1975 construction: a trie of the
    phrases, BFS failure links, and output lists merged down the
    failure chain so every node knows EVERY phrase ending at it —
    which is what makes one left-to-right pass report all overlapping
    occurrences of all phrases."""
    from collections import deque

    goto: list[dict[str, int]] = [{}]
    out: list[tuple[int, ...]] = [()]
    for idx, p in enumerate(plist):
        node = 0
        for ch in p:
            nxt = goto[node].get(ch)
            if nxt is None:
                goto.append({})
                out.append(())
                nxt = len(goto) - 1
                goto[node][ch] = nxt
            node = nxt
        out[node] = out[node] + (idx,)
    fail = [0] * len(goto)
    dq = deque(goto[0].values())
    while dq:
        node = dq.popleft()
        for ch, nxt in goto[node].items():
            dq.append(nxt)
            f = fail[node]
            while f and ch not in goto[f]:
                f = fail[f]
            cand = goto[f].get(ch, 0)
            fail[nxt] = cand if cand != nxt else 0
            if out[fail[nxt]]:
                out[nxt] = out[nxt] + out[fail[nxt]]
    return goto, fail, out


# Most distinct phrases a DataFrame blocklist may bring to the driver.
# Blocklists run to hundreds of thousands of entries, and the
# Aho-Corasick automaton is built driver-side from the collected list
# at a Python dict per trie node; past the cap the collect stops at
# cap + 1 rows and fails with a sized error.
PHRASE_COLLECT_CAP = 1_000_000


def _normalize_phrases(phrases, case_insensitive: bool) -> list[str]:
    if isinstance(phrases, DataFrame):
        pcol = phrases.columns[0]
        cap = PHRASE_COLLECT_CAP
        rows = phrases.select(pcol).distinct().limit(cap + 1).collect()
        if len(rows) > cap:
            raise ValueError(
                f"phrases DataFrame holds more than PHRASE_COLLECT_CAP={cap} "
                "distinct phrases; the blocklist is collected to the driver "
                "to build the automaton"
            )
        plist = [r[0] for r in rows]
    else:
        plist = list(dict.fromkeys(phrases))
    plist = [p for p in plist if p]
    if not plist:
        raise ValueError("phrases must contain at least one non-empty entry")
    if case_insensitive:
        plist = list(dict.fromkeys(p.lower() for p in plist))
    return plist


def banned_phrase_hits(
    corpus: DataFrame,
    phrases,
    id_col: str = "id",
    text_col: str = "text",
    case_insensitive: bool = True,
    mode: str = "ac",
) -> DataFrame:
    """Blocklist scan: count every occurrence of every banned phrase
    in every document. ``pii_scan`` covers pattern-shaped leaks
    (emails, card numbers); this is its dictionary-shaped sibling —
    NSFW/spam/boilerplate phrase lists run to hundreds of thousands of
    entries, where a compiled ``(p1|p2|...)`` alternation is
    driver-poison and a per-row Python loop over phrases is a UDF per
    phrase.

    One kernel, AHO-CORASICK, one corpus scan regardless of the
    dictionary's size or length spectrum: the automaton (trie +
    failure links, built driver-side in O(total_phrase_chars), bounded
    by the DICTIONARY, never the corpus) ships to executors as an
    sc.broadcast, and a ``mapInPandas`` pass walks each document's
    characters exactly once, emitting every overlapping occurrence of
    every phrase via the merged output links. Arrow-batched; per-doc
    work is O(n_chars + n_hits). Hash-gated against a naive
    per-position DuckDB oracle.

    ``mode`` is kept for existing callers and accepts only ``"ac"``.

    ``phrases``: a Python sequence of strings (the usual case — the
    automaton is built driver-side with no job) or a single-column
    DataFrame (collected: one bounded driver step, the
    codebook-collect class — blocklists are dictionary-sized by
    definition).

    Output: ``(id, phrase, n_hits)`` — only matching (doc, phrase)
    combinations, ``n_hits`` counts OVERLAPPING occurrences ("aaa"
    hits "aa" twice; AC reports per end position, mirrored by the
    oracle).
    """
    if mode != "ac":
        raise ValueError(
            f"mode must be 'ac', got {mode!r}: the dictionary-join tier "
            "was removed; Aho-Corasick is the only blocklist kernel"
        )
    plist = _normalize_phrases(phrases, case_insensitive)
    return _banned_phrase_hits_ac(
        corpus, plist, id_col, text_col, case_insensitive
    )


def _banned_phrase_hits_ac(
    corpus: DataFrame,
    plist: list[str],
    id_col: str,
    text_col: str,
    case_insensitive: bool,
    shared_bc=None,
) -> DataFrame:
    """The Aho-Corasick kernel (see banned_phrase_hits). Single pass per
    document, automaton broadcast once per job; the mapInPandas output
    is already (doc, phrase)-unique (one counting dict per doc), so the
    trailing groupBy exists only to make the exchange shape explicit
    for downstream aggregation consumers — at the fixture it's a
    near-no-op partial-combined aggregate.

    ``shared_bc``: optional ``(automaton_bc, phrases_bc)`` pair of
    prebuilt broadcasts — the streaming foreachBatch runner passes one
    so an N-micro-batch stream pays ONE automaton build instead of N
    (and leaves 2 broadcast variables alive instead of 2N)."""
    import pandas as pd
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    spark = corpus.sparkSession
    if shared_bc is not None:
        automaton_bc, phrases_bc = shared_bc
    else:
        automaton_bc = spark.sparkContext.broadcast(_aho_corasick(plist))
        phrases_bc = spark.sparkContext.broadcast(plist)

    text = F.col(text_col)
    if case_insensitive:
        text = F.lower(text)
    src = corpus.select(F.col(id_col).alias("id"), text.alias("_t"))
    id_field = src.schema["id"]
    out_schema = StructType(
        [
            StructField("id", id_field.dataType, id_field.nullable),
            StructField("phrase", StringType(), False),
            StructField("n_hits", LongType(), False),
        ]
    )

    def scan(batches):
        goto, fail, out = automaton_bc.value
        words = phrases_bc.value
        root = goto[0]
        for pdf_in in batches:
            ids, hit_phrase, hit_n = [], [], []
            for doc_id, txt in zip(pdf_in["id"], pdf_in["_t"]):
                if not txt:
                    continue
                counts: dict[int, int] = {}
                node = 0
                for ch in txt:
                    while node and ch not in goto[node]:
                        node = fail[node]
                    node = goto[node].get(ch, 0) if node else root.get(ch, 0)
                    for pi in out[node]:
                        counts[pi] = counts.get(pi, 0) + 1
                for pi, c in counts.items():
                    ids.append(doc_id)
                    hit_phrase.append(words[pi])
                    hit_n.append(c)
            yield pd.DataFrame(
                {"id": ids, "phrase": hit_phrase, "n_hits": hit_n}
            )

    return (
        src.mapInPandas(scan, out_schema)
        .groupBy("id", "phrase")
        .agg(F.sum("n_hits").cast("bigint").alias("n_hits"))
    )


# fixture blocklist for the declared banned_phrase_hits query (shared
# with oracles.BANNED_PHRASE_HITS so both engines scan one list):
# three phrases drawn from the documents fixture's vocabulary plus
# one that never occurs (the empty-result path must stay exercised)
BANNED_FIXTURE_PHRASES = (
    "table value",
    "fast merge",
    "key agg row",
    "zz never present zz",
)

"""Unigram-LM tokenizer (SentencePiece-style Viterbi segmentation) —
the inventory-based sibling of the merge-based BPE family in
``text/bpe.py``, completing the tokenizer surface a curation pipeline
prices corpora with (BPE = learned merges applied greedily; unigram =
piece inventory applied OPTIMALLY per word).

Semantics: each whitespace word is segmented into the MINIMUM-COST
sequence of inventory pieces, where the inventory is a pinned
``piece -> integer cost`` table (costs play the role of ``-log p``
scaled to integers — INTEGER arithmetic end-to-end, so the dynamic
program is bit-exact across engines, the same reason the relational-ML
gates use DECIMAL sums in ``numerics.py``).  Any single character not
in the inventory falls back to ``UNK_CHAR_COST``, so every word has a
segmentation.  Ties break deterministically: lower total cost, then
FEWER pieces, then the candidate whose LAST piece is longest (realized
by scanning piece lengths 1..MAX ascending and replacing on
``cost < best OR (cost = best AND n_pieces <= best_n)``) — the rule the
DuckDB oracle replays verbatim (oracles.UNIGRAM_FERTILITY).

Execution shape (the ``bpe_fertility`` discipline,
``text/bpe.py:169``): the Viterbi DP runs once per DISTINCT word — a
row-local ``F.aggregate`` fold over the word's character positions,
maintaining the prefix-cost array — then broadcast-joins back to the
per-(stratum, word) count table.  The DP never touches corpus-sized
data; at 100 TB the segmented table is bounded by |vocabulary|, the
corpus-sized side is one partial-combined count aggregate.

Reference scope: the reference engine (mthh/gpd_lite_toolbox) has no
tokenizer surface; this module is part of the training-data-pipeline
extension (SURVEY.md §6), with SentencePiece's unigram model (Kudo
2018, public) as the semantic spec for Viterbi piece segmentation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Pinned piece inventory: integer costs standing in for scaled -log p.
# Single chars cheaper when frequent; multi-char pieces priced under
# the sum of their characters so the DP prefers them, but close enough
# that composition choices are non-trivial.  Pinned (not learned) for
# the same reason as bpe.FERTILITY_MERGES: the hash gate needs both
# engines to replay the SAME tokenizer.
UNIGRAM_PIECES: list[tuple[str, int]] = [
    # single characters (frequent letters under the UNK fallback)
    ("a", 45), ("e", 46), ("t", 47), ("r", 50), ("o", 50), ("s", 50),
    # 2-char pieces
    ("st", 80), ("in", 81), ("er", 82), ("at", 82), ("or", 83),
    ("up", 83), ("ta", 84), ("an", 84), ("ar", 85), ("ue", 85),
    ("me", 86), ("ow", 86), ("al", 87), ("le", 87), ("sc", 88),
    ("ry", 88), ("da", 89), ("qu", 89), ("gr", 90), ("sp", 90),
    ("ha", 90), ("ex", 90), ("ba", 90), ("ve", 91), ("du", 91),
    ("ro", 91), ("co", 91), ("bi", 92), ("fa", 92), ("jo", 92),
    ("va", 92), ("wi", 93), ("sl", 93), ("fi", 93), ("cu", 93),
    ("ke", 94), ("sm", 95), ("zq", 99),
    # 3-char pieces
    ("ort", 110), ("ter", 110), ("mer", 111), ("ine", 112),
    ("que", 112), ("ord", 112), ("art", 113), ("ext", 113),
    ("lin", 113), ("eam", 114), ("low", 114), ("ind", 114),
    ("ash", 115), ("val", 115), ("rea", 115), ("oin", 116),
    ("vec", 116), ("tom", 116), ("dow", 117), ("tab", 117),
    ("gro", 117), ("fil", 116), ("tch", 118), ("olu", 120),
    ("umn", 118), ("ust", 119), ("mal", 118),
    # 4-char pieces
    ("part", 150), ("sort", 151), ("line", 152), ("atch", 153),
    ("park", 153), ("rder", 153), ("ream", 154), ("uery", 154),
    ("erge", 154), ("wind", 155), ("alue", 155), ("lumn", 156),
    ("roup", 156), ("mall", 157), ("cust", 157), ("ecto", 157),
    ("tome", 158),
]

UNK_CHAR_COST = 60
MAX_PIECE_LEN = 4

# Loud ceiling on the one-row piece-inventory packs in
# ``unigram_train_em`` (r10 VERDICT "What's wrong" #5): the SEED
# inventory is |distinct substrings <= MAX_PIECE_LEN| of the corpus
# vocabulary — bounded, but only by the vocabulary, so a caller
# feeding an unbounded vocabulary would silently build a
# multi-gigabyte single row.  At ~50 bytes per (piece, cnt, cost)
# struct the cap marks a ~100 MB row, and an inventory past it raises
# a sized ValueError.  The check counts the persisted inventory (at
# most cap + 1 rows) BEFORE collect_list builds the row, so the
# aggregation buffer never grows past the cap.  The per-round
# re-packed inventories never pass this check; they are bounded by
# construction (at most max_pieces multi-char pieces plus the
# single-char carry).
SEED_INV_ROW_CAP = 2_000_000


def _spark_str_lit(s: str) -> str:
    """Quote a piece string as a Spark-SQL single-quoted literal.
    Spark's parser processes backslash escapes inside string literals,
    so both the backslash and the quote must be escaped — an
    apostrophe word like "don't" (which unigram_train can legitimately
    learn pieces from and feed back via ``pieces=``) otherwise yields
    an unparseable map literal (ADVICE r7)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _validate_pieces(
    pieces: "list[tuple[str, int]] | None",
) -> "list[tuple[str, int]] | None":
    """Reject duplicate piece strings at entry: the three
    implementations of the DP would otherwise silently diverge
    (Python ``dict`` keeps the last cost, Spark ``map()`` throws under
    mapKeyDedupPolicy=EXCEPTION, the DuckDB oracle's MAX(CASE) picks
    the max cost) — one loud error beats three behaviors (ADVICE r7)."""
    if pieces is None:
        return None
    seen: set[str] = set()
    dups = [p for p, _ in pieces if p in seen or seen.add(p)]
    if dups:
        raise ValueError(
            f"duplicate piece strings in inventory: {sorted(set(dups))}"
        )
    return pieces


def segment_word_py(
    word: str,
    pieces: "list[tuple[str, int]] | None" = None,
    unk: int = UNK_CHAR_COST,
    max_len: int = MAX_PIECE_LEN,
) -> tuple[int, int]:
    """Pure-Python reference DP — THIRD implementation of the
    contract, used by the unit tests to pin both engines.  Returns
    ``(total_cost, n_pieces)`` for one word under the same
    tie-break rule as the Spark fold and the DuckDB CTE."""
    pieces = _validate_pieces(pieces)
    costs = dict(pieces if pieces is not None else UNIGRAM_PIECES)
    n = len(word)
    best: list[tuple[int, int]] = [(0, 0)] + [(0, 0)] * n
    for j in range(1, n + 1):
        cur: tuple[int, int] | None = None
        for l in range(1, min(max_len, j) + 1):
            piece = word[j - l : j]
            c = costs.get(piece) if l > 1 else costs.get(piece, unk)
            if c is None:
                continue
            cand = (best[j - l][0] + c, best[j - l][1] + 1)
            if (
                cur is None
                or cand[0] < cur[0]
                or (cand[0] == cur[0] and cand[1] <= cur[1])
            ):
                cur = cand
        assert cur is not None
        best[j] = cur
    return best[n]


def _viterbi_state_sql(
    word: str,
    pieces: "list[tuple[str, int]] | None",
    unk: int,
    max_len: int,
    mp_expr: "str | None" = None,
) -> str:
    """The Viterbi DP as ONE Spark-SQL expression string evaluating to
    the FULL prefix-state array ``array<struct<c: bigint, np: int,
    l: int>>`` for the column named ``word`` — element i is the best
    state of the length-(i-1) prefix, ``l`` the winning piece's length
    (0 at the seed), which is exactly the backpointer the encode
    reconstruction walks.

    A Column-API build of the same fold was measured at ~2.6 s of
    driver time PER CALL: every literal/substr/struct op is a py4j
    round trip, and the piece map alone is 2 x |pieces| literals
    repeated once per candidate length.  Textually the map appears
    ONCE (candidates iterate the length inside a lambda), the string
    is ~3 KB, and ``F.expr`` hands it to the JVM in a single call.
    The candidate scan keeps the shared tie rule: lengths ascending,
    replace on ``cost < best OR (cost = best AND np <= best.np)``
    (i.e. a full tie keeps the LONGEST last piece).

    ``mp_expr`` (round 8, the EM trainer's hook) substitutes a COLUMN
    reference — a ``map<string, bigint>`` riding along each row, e.g. a
    broadcast one-row map built from a LEARNED inventory frame — for
    the literal map, so the DP can consume data-derived costs with no
    driver collect and no plan-size growth with inventory size."""
    mp = mp_expr if mp_expr is not None else "map(" + ", ".join(
        f"{_spark_str_lit(p)}, {c}" for p, c in pieces
    ) + ")"
    cands = f"""filter(
      transform(sequence(1, {max_len}), l ->
        CASE WHEN l <= j THEN named_struct(
          'c', CASE WHEN l = 1
                    THEN COALESCE(try_element_at({mp},
                           substr({word}, j, 1)), {unk})
                    ELSE try_element_at({mp},
                           substr({word}, CAST(j - l + 1 AS INT), l))
               END,
          'p', element_at(acc, CAST(j - l + 1 AS INT)),
          'l', l) END),
      x -> x IS NOT NULL AND x.c IS NOT NULL)"""
    best = f"""aggregate({cands},
      CAST(NULL AS struct<c: bigint, np: int, l: int>),
      (b, x) -> CASE WHEN b IS NULL
                       OR x.p.c + x.c < b.c
                       OR (x.p.c + x.c = b.c AND x.p.np + 1 <= b.np)
                     THEN named_struct(
                       'c', CAST(x.p.c + x.c AS BIGINT),
                       'np', x.p.np + 1,
                       'l', x.l)
                     ELSE b END)"""
    return f"""aggregate(
        sequence(1, length({word})),
        array(named_struct('c', CAST(0 AS BIGINT), 'np', 0, 'l', 0)),
        (acc, j) -> concat(acc, array({best})))"""


def _viterbi_sql(
    word: str,
    pieces: list[tuple[str, int]],
    unk: int,
    max_len: int,
) -> str:
    """Final-state form of ``_viterbi_state_sql``: the
    ``struct<c, np, l>`` of the whole word."""
    return f"""element_at(
      {_viterbi_state_sql(word, pieces, unk, max_len)},
      CAST(length({word}) + 1 AS INT))"""


def _viterbi_cols(
    word_col: str,
    pieces: list[tuple[str, int]],
    unk: int,
    max_len: int,
) -> "F.Column":
    """struct(c BIGINT, np INT) of the min-cost segmentation of the
    string column NAMED ``word_col`` — one row-local fold over
    character positions; the whole DP is a Catalyst expression (no
    UDF, no shuffle), built as a single SQL string (see
    ``_viterbi_sql`` for why not the Column API)."""
    return F.expr(_viterbi_sql(word_col, pieces, unk, max_len))


def _vocab_dp(
    dw: DataFrame,
    pieces: list[tuple[str, int]],
    unk: int,
    max_len: int,
) -> DataFrame:
    """(w, _cost, _np) for a distinct-word frame ``dw(w)``: the
    ``_viterbi_cols`` DP evaluated ONCE per word behind a generator
    barrier.  Extracting two struct fields from the raw DP column
    duplicates the whole expression (CollapseProject inlines it into
    every field reference — two >1 MB task-binary copies, measured
    ~2.5 s/run on a 33-word vocabulary); exploding the 1-element
    array pins the DP to a single Generate whose OUTPUT attribute the
    field extractions then reference.  Adds zero exchanges — the
    frame stays |vocab|-bounded."""
    fin = _viterbi_cols("w", pieces, unk, max_len)
    return dw.select(
        "w", F.explode(F.array(fin)).alias("_fin")
    ).select(
        "w",
        F.col("_fin")["c"].alias("_cost"),
        F.col("_fin")["np"].alias("_np"),
    )


def unigram_fertility(
    docs: DataFrame,
    pieces: "list[tuple[str, int]] | None" = None,
    strata_col: str = "source",
    text_col: str = "text",
    unk: int = UNK_CHAR_COST,
    max_len: int = MAX_PIECE_LEN,
) -> DataFrame:
    """Unigram-tokenizer fertility report per stratum: words, optimal
    piece count, fertility (pieces per word — the unigram sibling of
    ``bpe_fertility``'s cost-pricing number), mean piece length in
    chars, and the exact integer corpus cost under the model (the
    scaled negative log-likelihood a SentencePiece trainer would
    report).

    Columns: ``(source, n_words, n_pieces, fertility,
    avg_piece_chars, total_cost)``.

    Scale shape: the Viterbi DP runs on the DISTINCT word table
    (|vocab|-bounded, row-local expression fold), broadcast-joins to
    the per-(stratum, word) counts, then ONE partial-combined
    aggregate per stratum.  The corpus-sized work is exactly the word
    count — same two-exchange shape as ``bpe_fertility``.
    """
    pieces = _validate_pieces(pieces)
    if pieces is None:
        pieces = UNIGRAM_PIECES
    words = docs.select(
        F.col(strata_col).alias("source"),
        F.explode(
            F.filter(
                F.split(F.coalesce(F.col(text_col), F.lit("")), " "),
                lambda w: w != "",
            )
        ).alias("w"),
    )
    wc = words.groupBy("source", "w").agg(F.count("*").alias("n"))
    vocab = _vocab_dp(
        wc.select("w").distinct(), pieces, unk, max_len
    ).select(
        "w",
        "_cost",
        F.col("_np").cast("bigint").alias("_np"),
        F.length("w").cast("bigint").alias("_chr"),
    )
    per = (
        wc.join(F.broadcast(vocab), "w")
        .groupBy("source")
        .agg(
            F.sum("n").alias("n_words"),
            F.sum(F.col("n") * F.col("_np")).alias("n_pieces"),
            F.sum(F.col("n") * F.col("_chr")).alias("_chars"),
            F.sum(F.col("n") * F.col("_cost")).alias("total_cost"),
        )
    )
    return per.select(
        "source",
        "n_words",
        "n_pieces",
        F.when(
            F.col("n_words") > 0,
            F.round(
                F.col("n_pieces") / F.col("n_words").cast("double"), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("fertility"),
        F.when(
            F.col("n_pieces") > 0,
            F.round(
                F.col("_chars") / F.col("n_pieces").cast("double"), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("avg_piece_chars"),
        "total_cost",
    )


def _segment_sql(
    word: str,
    pieces: "list[tuple[str, int]] | None",
    unk: int,
    max_len: int,
    mp_expr: "str | None" = None,
) -> str:
    """The optimal piece ARRAY for the column named ``word`` as one
    SQL expression: forward DP state (with per-position winning piece
    lengths) then a backward walk over the recorded lengths —
    ``reverse`` restores document order.  At most ``length(word)``
    walk steps; exhausted steps pass the state through."""
    st = _viterbi_state_sql(word, pieces, unk, max_len, mp_expr)
    step_l = "element_at(s.st, s.j + 1).l"
    return f"""reverse(
      aggregate(
        sequence(1, length({word})),
        named_struct('j', CAST(length({word}) AS INT),
                     'st', {st},
                     'ps', CAST(array() AS array<string>)),
        (s, _u) -> CASE WHEN s.j > 0 THEN named_struct(
            'j', s.j - {step_l},
            'st', s.st,
            'ps', concat(s.ps, array(substr({word},
                    s.j - {step_l} + 1,
                    {step_l}))))
          ELSE s END).ps)"""


def segment_pieces_py(
    word: str,
    pieces: "list[tuple[str, int]] | None" = None,
    unk: int = UNK_CHAR_COST,
    max_len: int = MAX_PIECE_LEN,
) -> list[str]:
    """Pure-Python reference segmentation (piece strings in document
    order) under the same DP + tie rule as ``segment_word_py`` — the
    test pin for the encode path."""
    pieces = _validate_pieces(pieces)
    costs = dict(pieces if pieces is not None else UNIGRAM_PIECES)
    n = len(word)
    best: list[tuple[int, int, int]] = [(0, 0, 0)] + [(0, 0, 0)] * n
    for j in range(1, n + 1):
        cur: tuple[int, int, int] | None = None
        for l in range(1, min(max_len, j) + 1):
            piece = word[j - l : j]
            c = costs.get(piece) if l > 1 else costs.get(piece, unk)
            if c is None:
                continue
            cand = (best[j - l][0] + c, best[j - l][1] + 1, l)
            if (
                cur is None
                or cand[0] < cur[0]
                or (cand[0] == cur[0] and cand[1] <= cur[1])
            ):
                cur = cand
        assert cur is not None
        best[j] = cur
    out: list[str] = []
    j = n
    while j > 0:
        l = best[j][2]
        out.append(word[j - l : j])
        j -= l
    return list(reversed(out))


def unigram_encode(
    docs: DataFrame,
    pieces: "list[tuple[str, int]] | None" = None,
    id_col: str = "id",
    text_col: str = "text",
    unk: int = UNK_CHAR_COST,
    max_len: int = MAX_PIECE_LEN,
) -> DataFrame:
    """Tokenize the corpus under the unigram model — the encode step
    next to ``bpe_encode``, with the OPTIMAL (min-cost) segmentation
    instead of the greedy merge fold.  Every document becomes its
    piece stream with stable integer ids (token_id = rank of the
    piece string in the sorted piece vocabulary actually emitted).

    Output: one row per emitted piece, ``(id, pos, token, token_id)``
    — the exact ``bpe_encode`` contract, so downstream packing /
    fertility consumers are interchangeable.

    Scale shape (the ``bpe_encode`` discipline): the DP + backward
    walk run once per DISTINCT word (|vocab|-bounded, broadcast back),
    positions come from ONE id-keyed groupBy reassembling per-word
    piece arrays in word order, and token ids are a bounded
    single-partition rank window broadcast to the stream.  NULL/empty
    text yields no rows.
    """
    from pyspark.sql import Window

    pieces = _validate_pieces(pieces)
    if pieces is None:
        pieces = UNIGRAM_PIECES
    words_pos = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
        ).alias("wpos", "w"),
    ).filter(F.col("w") != "")
    seg = F.expr(_segment_sql("w", pieces, unk, max_len))
    vocab = words_pos.select("w").distinct().select(
        "w", seg.alias("syms")
    )
    per_doc = (
        words_pos.join(F.broadcast(vocab), "w")
        .groupBy("id")
        .agg(
            F.flatten(
                F.array_sort(
                    F.collect_list(F.struct("wpos", "syms"))
                ).getField("syms")
            ).alias("stream")
        )
    )
    toks = per_doc.select(
        "id", F.posexplode("stream").alias("pos", "token")
    ).withColumn("pos", F.col("pos").cast("bigint"))
    # rank the emitted-piece vocabulary from the token stream: AQE
    # reuses the per_doc exchange between this branch and the output
    # branch (same canonical subtree), so the distinct costs one extra
    # explode — ranking from the vocab side instead was measured
    # SLOWER (it re-evaluates the DP branch and adds two exchanges)
    symtab = (
        toks.select("token")
        .distinct()
        .select(
            "token",
            (
                F.row_number().over(Window.orderBy("token")) - 1
            ).cast("bigint").alias("token_id"),
        )
    )
    return toks.join(F.broadcast(symtab), "token").select(
        "id", "pos", "token", "token_id"
    )


def unigram_train(
    docs: DataFrame,
    max_pieces: int = 48,
    min_count: int = 2,
    max_len: int = MAX_PIECE_LEN,
    scale: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Learn a unigram piece inventory FROM the corpus — the
    frequency-seeded stage of SentencePiece's unigram trainer (Kudo
    2018 seeds the EM from substring counts; the EM pruning loop is
    the non-gateable quality path this engine leaves to offline
    tooling, the same contract split as ``kmeans_assign`` vs
    ``pyspark.ml.KMeans``).

    Candidates are ALL substrings (length 1..``max_len``) of corpus
    words, counted with word multiplicity; kept are every single
    character (so any word stays segmentable) plus the top
    ``max_pieces`` multi-character pieces by (count desc, piece) with
    count >= ``min_count``.  Each piece is priced at
    ``round(scale * ln(total/cnt))`` through the 1e-9-shifted round
    (numerics.r6 at 0 decimals) — the integer-scaled -log p the
    Viterbi DP consumes, so a learned inventory plugs directly into
    ``unigram_fertility(pieces=...)`` / ``unigram_encode(pieces=...)``
    after a bounded driver collect (the ``bpe_train`` artifact
    pattern).

    Returns ``(piece, cnt, cost)``.  Scale shape: one corpus-sized
    word-count aggregate, then everything is |vocab| x positions
    bounded; the top-k filter is a single bounded sort.
    """
    if max_len < 1:
        raise ValueError(f"max_len must be >= 1, got {max_len}")
    wc = _word_counts(docs, text_col)
    # every substring occurrence of every distinct word, carried with
    # the word's corpus multiplicity — |vocab| x |positions| rows
    sub = wc.select(
        "n",
        F.explode(
            F.expr(
                f"""flatten(transform(sequence(1, length(w)),
                      j -> transform(
                        sequence(1, least({int(max_len)},
                                          length(w) - j + 1)),
                        l -> substr(w, j, l))))"""
            )
        ).alias("piece"),
    )
    cnt = sub.groupBy("piece").agg(F.sum("n").alias("cnt"))
    return _keep_and_price(cnt, max_pieces, min_count, scale)


def _word_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """(w, n): corpus word counts — the ONE corpus-sized aggregate the
    trainer family shares."""
    words = docs.select(
        F.explode(
            F.filter(
                F.split(F.coalesce(F.col(text_col), F.lit("")), " "),
                lambda w: w != "",
            )
        ).alias("w")
    )
    return words.groupBy("w").agg(F.count("*").alias("n"))


def _keep_and_price(
    cnt: DataFrame, max_pieces: int, min_count: int, scale: int
) -> DataFrame:
    """Shared M-step: keep every single character plus the top
    ``max_pieces`` multi-char pieces by (count desc, piece) with count
    >= ``min_count``; price each at ``round(scale * ln(total/cnt))``
    through the 1e-9-shifted round (numerics.r6) over the total of ALL
    candidate counts.  Input ``cnt(piece, cnt)`` is |inventory|-bounded
    — the window sorts bounded rows, never corpus-sized data."""
    from pyspark.sql import Window

    total = cnt.agg(F.sum("cnt").alias("_t"))
    kept = (
        cnt.filter(
            (F.length("piece") == 1) | (F.col("cnt") >= int(min_count))
        )
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy(F.length("piece") == 1).orderBy(
                    F.col("cnt").desc(), F.col("piece")
                )
            ),
        )
        .filter((F.length("piece") == 1) | (F.col("_rk") <= int(max_pieces)))
    )
    return (
        kept.crossJoin(F.broadcast(total))
        .select(
            "piece",
            "cnt",
            F.round(
                F.lit(float(scale))
                * F.log(F.col("_t").cast("double") / F.col("cnt"))
                + F.lit(1e-9),
                0,
            )
            .cast("bigint")
            .alias("cost"),
        )
    )


def unigram_train_em(
    docs: DataFrame,
    n_rounds: int = 2,
    max_pieces: int = 48,
    min_count: int = 2,
    max_len: int = MAX_PIECE_LEN,
    scale: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Complete the unigram trainer with EM re-estimation and pruning —
    Kudo 2018's actual shape (``unigram_train`` is only the capped
    frequency seed): start from a LARGE candidate inventory, estimate
    usage by EM, and prune to the target size by what the model
    actually EMITS, not by raw substring frequency.  Substring counts
    double-count overlaps ('line' also feeds 'lin'/'ine'/'in'/'ne'), so
    a substring-ranked top-k wastes slots on redundant fragments; an
    emission-ranked top-k keeps pieces that WIN segmentations — which
    is why this trainer's inventory beats the seed's on fertility
    (pytest-pinned).  Per round:

    - **E-step (Viterbi / hard EM)**: segment every DISTINCT corpus
      word optimally under the CURRENT integer costs — the same
      row-local DP fold as ``unigram_encode`` — and count each piece's
      emissions weighted by word multiplicity.  The hard-EM form is
      deliberate: SentencePiece uses it as the fast approximation of
      the soft forward-backward E-step, and it is the only form whose
      integer-exact DP both engines replay bit-identically (a soft
      E-step sums ``exp(-cost)`` terms — transcendental floats on the
      gate path).
    - **M-step + prune**: multi-char pieces keep the top ``max_pieces``
      by (emission count desc, piece) with count >= ``min_count``,
      re-priced at ``round(scale * ln(total/cnt))`` through the shared
      1e-9-shifted round; single characters are NEVER pruned — emitted
      singles re-price, unemitted singles carry their previous
      (cnt, cost) forward (the pricing analog of Lloyd's
      empty-cells-keep-their-center rule in ``kmeans_assign``).
      Dropping a single would hand its char to the UNK fallback, whose
      pinned cost sits BELOW learned prices — a model-breaking discount
      the carry rule forecloses.

    ``n_rounds`` is fixed and unrolled into ONE declarative plan (the
    ``bpe_train`` / ``lr_train_gd`` / ``kmeans_assign`` discipline):
    each round's inventory rides into the next DP as a BROADCAST
    one-row ``map<string, bigint>`` built with ``map_from_entries`` —
    no driver collect anywhere, and plan size is constant in inventory
    size (the DP reads the map column instead of inlining literals).
    The big seed is bounded by |distinct substrings <= max_len| of the
    corpus vocabulary — alphabet^max_len at worst, far below corpus
    scale, and it exists only inside round 1's broadcast map.

    Returns ``(piece, cnt, cost)`` — ``cnt`` the final round's
    emission counts (carried singles keep their last-emitted count).
    Scale shape: ONE corpus-sized word-count aggregate up front; every
    round is |vocab|-bounded DP + one partial-combined count aggregate
    + a bounded window.  Hash-gated end-to-end
    (oracles.UNIGRAM_TRAIN_EM unrolls the same rounds over the
    recursive-CTE DP).
    """
    if n_rounds < 1:
        raise ValueError(f"n_rounds must be >= 1, got {n_rounds}")
    if max_len != MAX_PIECE_LEN:
        # the DuckDB replay pivots candidate costs c1..c4; keep the
        # two engines honest about the same contract
        raise ValueError(
            f"unigram_train_em is pinned to max_len={MAX_PIECE_LEN}"
        )
    from ..cache import tracked_persist

    # Round-10 optimization (guide §5): every frame below is consumed
    # by SEVERAL branches of the next round (usage feeds the kept
    # window, the singles branch, the total, and the carry anti-join;
    # inv feeds the broadcast map and the carry; wc feeds every
    # round's E-step) — unpersisted, each reference re-evaluated the
    # whole prior-round cascade, so wall time grew SUPERLINEARLY in
    # n_rounds (measured 1.36 s at n_rounds=1 vs 4.23 s at n_rounds=2
    # on the sf0.1 fixture's 33-word vocabulary — pure plan
    # re-evaluation, not data).  All persisted frames are vocab- or
    # inventory-bounded (never corpus-sized), so the caching is safe
    # at any corpus scale.
    wc = tracked_persist(_word_counts(docs, text_col))
    # LARGE seed: every substring (singles unconditionally, multis at
    # min_count), priced by substring counts — no top-k cap here; the
    # EM rounds do the pruning by emissions
    sub = wc.select(
        "n",
        F.explode(
            F.expr(
                f"""flatten(transform(sequence(1, length(w)),
                      j -> transform(
                        sequence(1, least({int(max_len)},
                                          length(w) - j + 1)),
                        l -> substr(w, j, l))))"""
            )
        ).alias("piece"),
    )
    cnt0 = tracked_persist(
        sub.groupBy("piece").agg(F.sum("n").alias("cnt"))
    )
    tot0 = cnt0.agg(F.sum("cnt").alias("_t"))

    def _price(df: DataFrame) -> DataFrame:
        return df.select(
            "piece",
            "cnt",
            F.round(
                F.lit(float(scale))
                * F.log(F.col("_t").cast("double") / F.col("cnt"))
                + F.lit(1e-9),
                0,
            )
            .cast("bigint")
            .alias("cost"),
        )

    inv = tracked_persist(
        _price(
            cnt0.filter(
                (F.length("piece") == 1)
                | (F.col("cnt") >= int(min_count))
            ).crossJoin(F.broadcast(tot0))
        )
    )
    seg = F.expr(
        _segment_sql("w", None, UNK_CHAR_COST, max_len, mp_expr="_mp")
    )
    # Round-10 plan-shape rewrite (guide §2.4 / §7.2 "very large
    # plans"): the M-step used to be relational bookkeeping — a global
    # row_number window, a union, a left_anti join, and a reprice
    # crossJoin PER ROUND — each branch re-embedding the (large)
    # Viterbi expression tree of every prior round into the logical
    # plan, so analysis/planning time and stage count grew
    # superlinearly in n_rounds (measured 1.36 s at n_rounds=1 vs
    # 4.23 s at n_rounds=2 on a 33-word vocabulary — plan overhead,
    # not data).  The inventory is |pieces|-bounded, so it now lives
    # as a ONE-ROW struct array and the whole M-step (top-k by
    # (cnt desc, piece), min_count filter, never-prune-singles carry,
    # reprice over the emission total) is row-local array algebra —
    # per round: ONE real aggregate (usage) + two one-row packs, no
    # window/join/union.  Values are identical: sort_array on
    # struct(-cnt, piece) IS the (cnt desc, piece) rank order, the
    # carry membership test replays the anti-join, and the reprice is
    # the same IEEE round(scale*ln(total/cnt)+1e-9) expression.
    # the seed pack's bound (r10 VERDICT #5), checked before the pack:
    # counting at most cap + 1 rows of the persisted inventory sizes it
    # without building the one row collect_list would
    cap = int(SEED_INV_ROW_CAP)
    n_pieces = inv.limit(cap + 1).count()
    if n_pieces > cap:
        raise ValueError(
            f"unigram_train_em: the seed piece inventory holds at least "
            f"{n_pieces} pieces, over SEED_INV_ROW_CAP={cap}; the corpus "
            "vocabulary is too large for the one-row EM carry"
        )
    inv_row = tracked_persist(
        inv.agg(
            F.collect_list(F.struct("piece", "cnt", "cost")).alias(
                "_inv"
            )
        )
    )
    mk, mc = int(max_pieces), int(min_count)
    mstep = F.expr(
        f"""concat(
          transform(
            concat(
              transform(
                slice(sort_array(transform(
                  filter(_u, x -> length(x.piece) > 1
                                  AND x.cnt >= {mc}),
                  x -> struct(-x.cnt AS nc, x.piece AS piece,
                              x.cnt AS cnt))), 1, {mk}),
                s -> struct(s.piece AS piece, s.cnt AS cnt)),
              transform(filter(_u, x -> length(x.piece) = 1),
                        x -> struct(x.piece AS piece, x.cnt AS cnt))),
            k -> struct(
              k.piece AS piece, k.cnt AS cnt,
              CAST(round({float(scale)}D * ln(
                     CAST(aggregate(_u, 0L, (a, x) -> a + x.cnt)
                          AS DOUBLE) / k.cnt) + 1e-9, 0)
                   AS BIGINT) AS cost)),
          filter(_inv, p -> length(p.piece) = 1
            AND NOT array_contains(
                  transform(_u, x -> x.piece), p.piece)))"""
    )
    for _ in range(int(n_rounds)):
        mp_row = inv_row.select(
            F.expr(
                "map_from_entries(transform(_inv,"
                " x -> struct(x.piece, x.cost)))"
            ).alias("_mp")
        )
        usage = (
            wc.crossJoin(F.broadcast(mp_row))
            .select("n", F.explode(seg).alias("piece"))
            .groupBy("piece")
            .agg(F.sum("n").alias("cnt"))
        )
        # this pack and the M-step's output skip the seed check: they
        # are bounded by construction (the usage keys are the current
        # inventory's pieces; mstep keeps <= max_pieces multi-char
        # pieces plus the single-char carry)
        urow = usage.agg(
            F.collect_list(F.struct("piece", "cnt")).alias("_u")
        )
        inv_row = tracked_persist(
            urow.crossJoin(F.broadcast(inv_row)).select(
                mstep.alias("_inv")
            )
        )
    return inv_row.select(
        F.explode("_inv").alias("_p")
    ).select("_p.piece", "_p.cnt", "_p.cost")

"""Corpus-level training-data operators: sequence packing, stratified
sampling, TF-IDF term extraction.

Extensions beyond gpd_lite_toolbox (BASELINE.json north star: the
LLM-pipeline family). Each is expressed so the 100 TB plan is the same
plan the local test runs:

- ``pack_sequences`` needs a GLOBAL running token count (documents are
  packed in id order into fixed token-budget shards). A single
  unpartitioned window would serialize the corpus through one task, so
  the prefix sum is two-level: per-block sums (one partial-aggregated
  shuffle over |corpus|/block rows), a window over the tiny block
  table, then a block-partitioned window adds local offsets. The only
  unpartitioned sort touches |blocks| rows, not |corpus|.
- ``stratified_sample`` is a pure filter (multiplicative-hash
  threshold per stratum) — no shuffle at all, deterministic, and
  exactly reproducible in any engine with 64-bit integer arithmetic.
- ``tfidf_topk`` is two partial-aggregated shuffles (term frequency by
  (doc, term), document frequency by term via a window on the tf
  table) and a WindowGroupLimit top-k per doc — no joins against the
  raw token table after the first aggregation.
"""

from __future__ import annotations

import math
from typing import Callable, Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..cache import tracked_persist

# multiplicative hash constants shared with the fixture family
# (fixtures.py): Knuth 2^32 / phi and xxhash PRIME32_2
_HASH_A = 2654435761
_HASH_MOD = 100000


def seeded_key(seed: int, id_col: str) -> Column:
    """The shared pseudo-random sort key of the shard/sample/split
    family: ``md5("<seed>_<id>")`` — engine-independent (DuckDB
    oracles recompute it verbatim), uniform, and a pure projection.
    Single definition so the three operators and their oracles can
    never diverge on the key derivation."""
    return F.md5(
        F.concat_ws("_", F.lit(str(int(seed))), F.col(id_col).cast("string"))
    )


def key_u32(key: Column) -> Column:
    """First 8 hex digits of a seeded key as a BIGINT in [0, 2^32)."""
    return F.conv(F.substring(key, 1, 8), 16, 10).cast("bigint")


def pack_sequences(
    corpus: DataFrame,
    budget: int,
    id_col: str = "id",
    text_col: str = "text",
    block: int = 1024,
) -> DataFrame:
    """Pack documents (in ``id_col`` order) into fixed ``budget``-token
    shards, pretraining style: the token stream is concatenated and
    cut every ``budget`` tokens, so a document may span shards.

    Output per doc: ``(id, n_tokens, shard_start, shard_end,
    offset_in_shard)`` where shard_start/end are the first/last shard
    the document touches and offset_in_shard its position inside
    shard_start.

    Token counts use the engine's corpus convention (single-spaced
    text: separators + 1 — see text/analysis.py token_stats).
    """
    n = (
        F.length(text_col)
        - F.length(F.replace(F.col(text_col), F.lit(" "), F.lit("")))
        + 1
    ).cast("long")
    t = corpus.select(
        F.col(id_col).alias("id"),
        n.alias("n"),
        F.expr(f"CAST({id_col} AS BIGINT) div {int(block)}").alias("_blk"),
    )
    # per-block totals: |corpus|/block rows, one combinable shuffle
    totals = t.groupBy("_blk").agg(F.sum("n").alias("_bn"))
    wb = (
        Window.orderBy("_blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "_blk", F.coalesce(F.sum("_bn").over(wb), F.lit(0)).alias("_boff")
    )
    ww = (
        Window.partitionBy("_blk")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    b = int(budget)
    packed = (
        t.join(F.broadcast(offsets), "_blk")
        .withColumn(
            "_cb",
            F.col("_boff") + F.coalesce(F.sum("n").over(ww), F.lit(0)),
        )
        .select(
            "id",
            F.col("n").alias("n_tokens"),
            F.expr(f"_cb div {b}").alias("shard_start"),
            F.expr(f"(_cb + n - 1) div {b}").alias("shard_end"),
            (F.col("_cb") % b).alias("offset_in_shard"),
        )
    )
    return packed


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    seed: int = 0,
    id_col: str = "id",
) -> DataFrame:
    """Fixed-size weighted sample WITHOUT replacement, deterministic:
    the Efraimidis–Spirakis exponential race. Each row draws a
    priority ``-ln(u) / w`` from its seeded uniform ``u`` (the shared
    ``seeded_key`` md5 derivation — a pure projection, reproducible
    across runs and engines) and the ``k`` smallest priorities win;
    inclusion probability is proportional to weight, exactly the
    sampling a quality-weighted corpus subsample needs (weight = a
    quality or length score; no epoch-order bias, no rand()
    nondeterminism).

    Rows with weight <= 0 or NULL never sample. Output: the input
    columns plus ``es_key`` (the priority, rounded to 9 decimals so
    both engines order identically; ties broken by id).

    Scale: the selection is a global top-k — Spark executes
    ``orderBy(...).limit(k)`` as TakeOrderedAndProject (per-partition
    k-heaps + a k-row driver merge), so no full sort and no shuffle
    of the corpus ever happens; the priority itself fuses into the
    scan projection.
    """
    u = (
        key_u32(seeded_key(seed, id_col)) + F.lit(0.5)
    ) / F.lit(4294967296.0)
    return (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn(
            "es_key",
            F.round(-F.log(u) / F.col(weight_col), 9),
        )
        .orderBy("es_key", id_col)
        .limit(int(k))
    )


def weighted_sample_by_group(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    k: int,
    seed: int = 0,
    id_col: str = "id",
) -> DataFrame:
    """Per-group weighted sample WITHOUT replacement: the
    Efraimidis–Spirakis race of ``weighted_sample`` run independently
    inside every group — the per-domain quota form (keep the best k
    docs of EACH source/language by quality weight) a mixture-building
    pipeline uses where the global top-k would let one domain starve
    the others.

    Same determinism contract as ``weighted_sample`` (seeded-md5
    uniform, ROUND(priority, 9), id tiebreak); groups smaller than
    ``k`` keep all their positive-weight rows. Executes as
    WindowGroupLimit partial top-k heaps per group — no global sort,
    one exchange on the group key.
    """
    from pyspark.sql import Window

    u = (
        key_u32(seeded_key(seed, id_col)) + F.lit(0.5)
    ) / F.lit(4294967296.0)
    w = Window.partitionBy(group_col).orderBy("es_key", id_col)
    return (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("es_key", F.round(-F.log(u) / F.col(weight_col), 9))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= int(k))
        .drop("_rn")
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: Mapping[str, float],
    default_rate: float = 0.0,
    id_col: str = "id",
) -> DataFrame:
    """Deterministic per-stratum sample: a row survives iff
    ``(id * 2654435761) % 100000 < rate(stratum) * 100000``.

    The multiplicative hash makes the decision a property of the row,
    not of execution order — re-runs, retries, and different partition
    layouts all keep exactly the same rows (the property a resumable
    100 TB pipeline needs; rand()-based sampling loses it). No
    shuffle: the filter fuses into the scan."""
    rate = None
    for s, r in sorted(rates.items()):
        cond = F.col(strata_col) == F.lit(s)
        rate = F.when(cond, F.lit(float(r))) if rate is None else rate.when(
            cond, F.lit(float(r))
        )
    rate = (
        rate.otherwise(F.lit(float(default_rate)))
        if rate is not None
        else F.lit(float(default_rate))
    )
    # pmod-first: value-identical for non-negative ids by
    # (a*u) mod m == (a*(u mod m)) mod m, but a negative id can no
    # longer yield a negative h (which would pass EVERY threshold,
    # including rate 0) and a large id cannot wrap int64
    uid = F.pmod(F.col(id_col).cast("long"), F.lit(_HASH_MOD))
    h = (uid * F.lit(_HASH_A)) % F.lit(_HASH_MOD)
    return df.filter(h < (rate * _HASH_MOD).cast("long"))


def sample_to_mixture(
    df: DataFrame,
    strata_col: str,
    targets: Mapping[str, float],
    id_col: str = "id",
) -> DataFrame:
    """Sample down to a target domain MIXTURE — the data-mixing step
    of a pretraining pipeline (e.g. "50% en, 25% fr, 25% de"): keeps
    the LARGEST dataset whose expected per-stratum proportions equal
    ``targets``, by water-filling — the binding stratum is the one
    with the smallest available/target ratio (it is kept ~whole) and
    every other stratum is down-sampled to match.

    rate_s = (min_j(n_j / p_j) * p_s) / n_s, with p the normalized
    targets. Strata not in ``targets`` are dropped. Selection reuses
    ``stratified_sample``'s multiplicative-hash threshold: shuffle-free
    (the filter fuses into the scan), retry/partition-deterministic,
    and cross-engine exact — the only distributed step is a
    #domains-row count collect. Raises if a targeted stratum has no
    rows (the mixture is unsatisfiable)."""
    tot = float(sum(targets.values()))
    if tot <= 0:
        raise ValueError("targets must have positive total weight")
    p = {s: float(t) / tot for s, t in targets.items() if t > 0}
    counts = {
        r[0]: r[1]
        for r in df.groupBy(strata_col).agg(F.count("*").alias("n")).collect()
        if r[0] in p
    }
    missing = [s for s in p if s not in counts]
    if missing:
        raise ValueError(f"targeted strata have no rows: {missing}")
    scale = min(counts[s] / p[s] for s in p)
    rates = {s: (scale * p[s]) / counts[s] for s in p}
    return stratified_sample(df, strata_col, rates, default_rate=0.0, id_col=id_col)


def tfidf_topk(
    corpus: DataFrame,
    k: int = 3,
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document: ``(id, term, tf, df_t,
    score, rank)`` with score = tf * ln(N / df) rounded to 6 decimals
    and ties broken by ascending term.

    Plan: explode -> tf aggregation (partial, one shuffle by
    (id, term)) -> df via a window by term over the ALREADY-aggregated
    tf table (one shuffle over doc-term pairs, never raw tokens) ->
    N broadcast from a single-row aggregate -> per-doc top-k through
    WindowGroupLimit (rank filter becomes a partial k-heap)."""
    tok = corpus.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    ).filter(F.col("term") != "")
    tf = tok.groupBy("id", "term").agg(F.count("*").alias("tf"))
    wdf = Window.partitionBy("term")
    scored = tf.withColumn("df_t", F.count("*").over(wdf))
    # N = docs with >= 1 non-empty term (counted from the tf table, not
    # the raw corpus) — mirrors the oracle's COUNT(DISTINCT id) FROM tf
    # so an empty/whitespace-only document cannot shift every idf.
    n_docs = tf.select(
        F.countDistinct("id").alias("_n")
    )
    scored = scored.join(F.broadcast(n_docs)).withColumn(
        "score",
        F.round(
            F.col("tf")
            * F.ln(F.col("_n").cast("double") / F.col("df_t")),
            6,
        ),
    )
    wr = Window.partitionBy("id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select("id", "term", "tf", "df_t", "score", "rank")
    )


def shard_corpus(
    corpus: DataFrame,
    n_shards: int,
    seed: int = 0,
    id_col: str = "id",
) -> DataFrame:
    """Deterministic training shuffle: assign every document a shard
    and a position within that shard, pseudorandom in the document id
    but exactly reproducible for a given ``seed``.

    A training run needs the corpus in a fixed shuffled order, split
    into shards a data loader can stream independently. A global
    ``ORDER BY random()`` is neither reproducible nor scalable (one
    total sort of the corpus); instead the shuffle key is
    ``md5(seed_id)`` — shard = first 8 hex digits mod ``n_shards``,
    position = rank of the key within the shard. The plan is ONE hash
    exchange on shard plus a per-shard sort: at 100 TB pick n_shards so
    a shard fits an executor's spill budget (e.g. 10k shards of ~10 GB)
    and every shard sorts in parallel; no global sort exists.

    Columns: ``(id, shard, pos)``; the (shard, pos) pairs are a
    permutation of the corpus, dense per shard from 0.
    """
    key = seeded_key(seed, id_col)
    shard = key_u32(key) % F.lit(int(n_shards))
    keyed = corpus.select(
        F.col(id_col).alias("id"), key.alias("_key"), shard.alias("shard")
    )
    w = Window.partitionBy("shard").orderBy("_key", "id")
    return keyed.select(
        "id",
        "shard",
        (F.row_number().over(w) - 1).cast("bigint").alias("pos"),
    )


def chunk_documents(
    corpus: DataFrame,
    max_tokens: int,
    overlap: int = 0,
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into fixed-token-budget chunks with optional
    token overlap — the context-window preprocessing step for training
    and embedding pipelines (documents longer than the model window
    become sliding chunks; short documents pass through as one chunk).

    Tokenization is whitespace (matching token_stats); chunk ``i``
    covers tokens ``[i*stride, i*stride + max_tokens)`` with
    ``stride = max_tokens - overlap``. The last chunk is the first one
    whose window reaches the final token, so no content is dropped and
    no degenerate all-overlap tail chunk is emitted.

    Pure native expressions: split -> sequence/explode -> slice ->
    array_join. Zero shuffles, zero Python — a map-only projection
    whose fan-out is bounded by ceil(tokens/stride) per document, so
    the 100 TB plan is the parquet scan plus a Generate.

    Columns: ``(id, chunk_id, n_chunks, chunk_tokens, chunk_text)``.
    """
    if not 0 <= overlap < max_tokens:
        raise ValueError("need 0 <= overlap < max_tokens")
    stride = max_tokens - overlap
    words = F.split(F.col(text_col), " ")
    n = F.size(words)
    # number of stride steps until a window covers the last token
    n_chunks = F.greatest(
        F.ceil((n - F.lit(max_tokens)) / F.lit(stride)).cast("bigint")
        + F.lit(1),
        F.lit(1),
    )
    base = corpus.select(
        F.col(id_col).alias("id"),
        words.alias("_w"),
        n_chunks.alias("n_chunks"),
    )
    chunks = base.select(
        "id",
        "n_chunks",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias(
            "chunk_id"
        ),
        "_w",
    )
    sliced = F.slice(
        F.col("_w"),
        (F.col("chunk_id") * F.lit(stride) + 1).cast("int"),
        F.lit(max_tokens),
    )
    return chunks.select(
        "id",
        "chunk_id",
        "n_chunks",
        F.size(sliced).alias("chunk_tokens"),
        F.array_join(sliced, " ").alias("chunk_text"),
    )


def build_vocab(
    corpus: DataFrame,
    top_n: int,
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """Frequency vocabulary with coverage: the ``top_n`` most frequent
    whitespace tokens, each with its occurrence count, document
    frequency, and the cumulative share of ALL token occurrences the
    vocabulary covers through that rank — the standard artifact for
    sizing a tokenizer vocab ("how many entries for 95% coverage").

    Scale shape: one partial-aggregated exchange for the term counts
    (corpus-sized input, vocab-sized output), a single-row total
    aggregate, and a ``TakeOrdered`` top-n (per-partition k-heaps — no
    global sort of the vocabulary). Only the final rank/cumsum window
    runs single-partition, over exactly ``top_n`` rows — bounded by
    the caller's k, never by corpus or vocabulary size.

    Columns: ``(rank, term, n_occurrences, n_docs, cum_share)``;
    ordering is (count desc, term asc), deterministic under ties.
    """
    tok = corpus.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    ).filter(F.col("term") != "")
    counts = tok.groupBy("term").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("id").alias("n_docs"),
    )
    total = counts.select(F.sum("n_occurrences").alias("_total"))
    top = (
        counts.orderBy(F.col("n_occurrences").desc(), F.col("term").asc())
        .limit(int(top_n))
        .join(F.broadcast(total))
    )
    w = (
        Window.orderBy(F.col("n_occurrences").desc(), F.col("term").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wr = Window.orderBy(F.col("n_occurrences").desc(), F.col("term").asc())
    return top.select(
        F.row_number().over(wr).alias("rank"),
        "term",
        "n_occurrences",
        "n_docs",
        F.round(
            F.sum("n_occurrences").over(w) / F.col("_total").cast("double"), 6
        ).alias("cum_share"),
    )


def sample_k_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    seed: int = 0,
    id_col: str = "id",
) -> DataFrame:
    """Deterministic k-per-group subsample: for every group, keep the
    ``k`` rows whose seeded md5 key ranks lowest — a uniform
    pseudo-random pick that is exactly reproducible and engine-
    independent (the cap-per-source / cap-per-language step of corpus
    curation, where rate-based ``stratified_sample`` can't promise an
    exact per-group count).

    Plan: one hash exchange on the group key; the rank filter becomes
    WindowGroupLimit partial top-k heaps, so only <= k rows per group
    per input partition reach the exchange. Groups smaller than ``k``
    pass through whole.

    Columns: input columns plus ``sample_rank`` (1..k within group).
    """
    key = seeded_key(seed, id_col)
    w = Window.partitionBy(group_col).orderBy(key.asc(), F.col(id_col).asc())
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= int(k))
    )


def split_corpus(
    corpus: DataFrame,
    fractions: "dict[str, float] | None" = None,
    seed: int = 0,
    id_col: str = "id",
) -> DataFrame:
    """Deterministic train/val/test assignment: every document gets a
    named split, pseudorandom in the id but exactly reproducible for a
    given ``seed`` — re-running over a grown corpus never moves a
    previously-assigned document (its hash fraction is a pure function
    of (seed, id)), which is what keeps eval sets stable across
    ingest increments.

    ``fractions`` maps split name -> fraction (must sum to ~1; default
    ``{"train": .9, "val": .05, "test": .05}``); assignment thresholds
    the 32-bit md5 fraction of ``seed_id`` against the cumulative
    fractions, in the dict's iteration order. Zero-shuffle projection
    at any scale. Columns: ``(id, split)``.
    """
    return corpus.select(
        F.col(id_col).alias("id"),
        split_expr(seed, id_col, fractions).alias("split"),
    )


def split_expr(
    seed: int, key_col: str, fractions: "dict[str, float] | None" = None
) -> Column:
    """The split-name column expression behind ``split_corpus``: the
    32-bit md5 fraction of ``(seed, key)`` thresholded against the
    cumulative ``fractions`` — shared with ``leakage_safe_split`` so
    the two assignment rules can never drift."""
    if fractions is None:
        fractions = {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(fractions.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"fractions must sum to 1, got {total}")
    frac = key_u32(seeded_key(seed, key_col)).cast("double") / F.lit(
        float(1 << 32)
    )
    names = list(fractions)
    expr = F.lit(names[-1])  # last split absorbs the rounding tail
    cum = 0.0
    branches = []
    for name in names[:-1]:
        cum += fractions[name]
        branches.append((cum, name))
    for cum, name in reversed(branches):
        expr = F.when(frac < F.lit(float(cum)), F.lit(name)).otherwise(expr)
    return expr


def unigram_logprob(
    corpus: DataFrame, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """Unigram language-model scoring: train a token-frequency model
    on the corpus itself and score each document by its mean negative
    log-likelihood — the cheap, model-free stand-in for the perplexity
    filter of a training-data pipeline (documents full of corpus-rare
    tokens score high; boilerplate scores low).

    Plan shape: one order-1 ``ngram_doc_counts`` table ``(id, w3, n)``
    read ONCE — the vocab count is a window partitioned by token over
    its doc-vocab-sized rows (one exchange; a token's partition holds
    one row per document containing it, not one per occurrence), and
    the corpus total N is the whitespace token count of the text
    (``_ntok_expr``, the same count split yields) summed into a
    single-row broadcast. The final per-doc aggregate of the
    n-weighted NLL (``_per_doc_nll``) is the only other corpus-wide
    exchange.

    Columns: ``(id, n_tokens, avg_neg_logprob)`` with the score
    rounded 6 for cross-engine hashing.
    """
    total = corpus.agg(F.sum(_ntok_expr(text_col)).alias("n_total"))
    scored = (
        ngram_doc_counts(corpus, 1, id_col, text_col)
        .withColumn("n_tok", F.sum("n").over(Window.partitionBy("w3")))
        .crossJoin(F.broadcast(total))
        .select(
            "id",
            "n",
            (-F.log(F.col("n_tok") / F.col("n_total"))).alias("_nll"),
        )
    )
    return _per_doc_nll(scored, "n_tokens")


def _ntok_expr(text_col: str) -> "F.Column":
    """Whitespace token count shared by BOTH mixture reports (and
    mirrored by oracles._NTOK) — one definition so the plans cannot
    drift on e.g. NULL-text handling."""
    text = F.col(text_col)
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(" "), F.lit(""))))
        + 1
    ).cast("bigint")


def mixture_plan(
    docs: DataFrame,
    targets: Mapping[str, int],
    token_budget: int,
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Token-budget mixing PLAN (the config artifact a pretraining run
    is launched from, Dolma/DoReMi shape): given integer mixture
    weights per stratum and a total token budget, report each
    stratum's available tokens, its natural vs target share, the
    planned token draw, and the epoch count that draw implies —
    ``oversampled`` marks strata the run must repeat (epochs > 1),
    the signal to either cap the weight or accept repetition.

    ``sample_to_mixture`` above EXECUTES a row-level mixture; this is
    the token-level planning report. Weights are integers so every
    aggregate stays exact until the final divisions (cross-engine
    reproducible); strata absent from ``targets`` are excluded.
    Targeted strata with ZERO documents still get a plan row
    (n_docs=0, n_tokens=0, epochs=0) — the weights frame drives the
    join, so budget allocated to an impossible stratum is visible
    instead of silently vanishing from the plan.

    Columns: ``(source, n_docs, n_tokens, natural_frac, target_frac,
    planned_tokens, epochs, oversampled)``.

    Scale design: one pruned scan (stratum filter pushed down) ->
    per-stratum partial-aggregated rollup -> a one-row total broadcast
    and a #strata-row weight broadcast. Nothing wider than #strata
    rows past the single grouped exchange.
    """
    if token_budget <= 0:
        raise ValueError("token_budget must be positive")
    w = {s: int(v) for s, v in targets.items()}
    if not w or any(v <= 0 for v in w.values()):
        raise ValueError("targets must be non-empty positive integers")
    total_w = sum(w.values())
    spark = docs.sparkSession
    wdf = spark.createDataFrame(
        list(w.items()), f"{strata_col} string, _w int"
    )
    ntok = _ntok_expr(text_col)
    per = (
        docs.filter(F.col(strata_col).isin(*w.keys()))
        .select(F.col(strata_col).alias("source"), ntok.alias("_nt"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_nt").alias("n_tokens"),
        )
    )
    tot = per.agg(F.sum("n_tokens").alias("_tot"))
    planned = F.round(
        F.lit(float(token_budget)) * F.col("_w")
        / F.lit(float(total_w)),
        0,
    ).cast("bigint")
    return (
        wdf.withColumnRenamed(strata_col, "source")
        .join(F.broadcast(per), "source", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.round(
                F.coalesce("n_tokens", F.lit(0))
                / F.col("_tot").cast("double"),
                6,
            ).alias("natural_frac"),
            F.round(
                F.col("_w") / F.lit(float(total_w)), 6
            ).alias("target_frac"),
            planned.alias("planned_tokens"),
            F.when(F.col("n_tokens") > 0,
                F.round(
                    planned / F.col("n_tokens").cast("double"), 6
                ),
            ).otherwise(F.lit(0.0)).alias("epochs"),
        )
        .withColumn("oversampled", F.col("epochs") > 1.0)
    )


def perplexity_buckets(
    corpus: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    scorer: Callable[..., DataFrame] | None = None,
) -> DataFrame:
    """CCNet-style quality bucketing: score every document with the
    corpus-trained unigram model (`unigram_logprob`), then split the
    corpus into head / middle / tail terciles by score — head being the
    most-predictable (lowest mean negative log-likelihood) third, the
    bucket CCNet keeps by default for training data.

    ``scorer`` swaps the LM: any callable with the
    ``(corpus, id_col=..., text_col=...)`` signature returning a
    per-doc frame with an ``avg_neg_logprob`` column works —
    ``bigram_logprob``, ``kn_bigram_logprob``, ``trigram_logprob``.
    The scorer's other columns pass through unchanged, so the default
    output contract is untouched.

    Buckets come from TWO broadcast cutoffs (exact percentiles at 1/3
    and 2/3), NOT a global ntile: a global rank window would sort the
    whole corpus onto one partition, while the percentile is a single
    one-row aggregate broadcast back — the assignment itself is a
    map-side comparison. Spark's exact ``percentile`` holds a
    value->count map per aggregation buffer, bounded here by distinct
    ROUNDED scores (6 decimals), not document count; at extreme
    cardinality swap in ``approx_percentile`` (its rank-error is
    calibrated by the `approx_percentile_audit` query in this repo).

    Cutoffs and scores are rounded to 6 decimals BEFORE comparison so
    the bucket boundary is reproducible cross-engine.

    Columns: ``(id, n_tokens, avg_neg_logprob, bucket)``.
    """
    score_fn = scorer if scorer is not None else unigram_logprob
    # the scored frame feeds BOTH the percentile aggregate and the
    # bucket projection: persist the doc-sized table so the scorer's
    # whole pipeline runs once, not twice (guide §5; locally the
    # second pass was cheap broadcast joins over already-persisted
    # substrates, but at scale it is a full second scoring join)
    scored = tracked_persist(
        score_fn(corpus, id_col=id_col, text_col=text_col)
    )
    cuts = scored.agg(
        F.round(
            F.percentile("avg_neg_logprob", F.lit(1.0 / 3.0)), 6
        ).alias("_c1"),
        F.round(
            F.percentile("avg_neg_logprob", F.lit(2.0 / 3.0)), 6
        ).alias("_c2"),
    )
    passthrough = list(scored.columns)
    return scored.crossJoin(F.broadcast(cuts)).select(
        *passthrough,
        F.when(F.col("avg_neg_logprob") <= F.col("_c1"), F.lit("head"))
        .when(F.col("avg_neg_logprob") <= F.col("_c2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def bigram_pmi(
    corpus: DataFrame,
    min_count: int = 5,
    top_k: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Phrase mining via pointwise mutual information over adjacent
    token pairs — the classic collocation detector (word2vec-style
    phrase joining, vocabulary curation): for every bigram seen at
    least ``min_count`` times, PMI = ln(p(ab) / (p(a)p(b))) with
    p(ab) over the bigram table and p(a) over the unigram table; the
    global ``top_k`` by (pmi, a, b) is returned.

    Scale shape: ONE pass explodes tokens; bigrams derive from the
    same row-local arrays (slice+zip — no self-join of a positional
    token table). Both count aggregates partial-combine map-side, so
    stopword-heavy unigrams and boilerplate bigrams arrive
    pre-reduced; the two count lookups are vocab-sized joins AQE
    broadcasts when they fit, and the two totals are one-row
    broadcasts. The final top-k is a global TakeOrdered (per-partition
    k-heaps), never a full sort.

    Columns: ``(a, b, n_ab, n_a, n_b, pmi)``; pmi rounded 6 and the
    ordering tiebroken on (a, b) so the selected k rows are
    deterministic cross-engine.
    """
    toks_arr = F.split(F.col(text_col), " ")
    rows = corpus.select(toks_arr.alias("_t"))
    uni = rows.select(F.explode("_t").alias("tok"))
    unic = uni.groupBy("tok").agg(F.count("*").alias("n_uni"))
    n_uni_total = uni.agg(F.count("*").alias("_nu"))
    big = rows.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("_t"), 1, F.size("_t") - 1).alias("a"),
                F.slice(F.col("_t"), 2, F.size("_t") - 1).alias("b"),
            )
        ).alias("_p")
    ).select(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
    bigc = (
        big.groupBy("a", "b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= int(min_count))
    )
    n_big_total = big.agg(F.count("*").alias("_nb"))
    scored = (
        bigc.join(
            unic.select(F.col("tok").alias("a"), F.col("n_uni").alias("n_a")),
            "a",
        )
        .join(
            unic.select(F.col("tok").alias("b"), F.col("n_uni").alias("n_b")),
            "b",
        )
        .crossJoin(F.broadcast(n_uni_total))
        .crossJoin(F.broadcast(n_big_total))
        .select(
            "a", "b", "n_ab", "n_a", "n_b",
            F.round(
                F.log(
                    (F.col("n_ab") / F.col("_nb").cast("double"))
                    / (
                        (F.col("n_a") / F.col("_nu").cast("double"))
                        * (F.col("n_b") / F.col("_nu").cast("double"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("a"), F.col("b")
    ).limit(int(top_k))


def token_spectrum(
    corpus: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Frequency-of-frequencies (the Zipf/Good-Turing spectrum): for
    each occurrence count, how many distinct token types occur exactly
    that often. The two-line corpus health check — a heavy singleton
    tail means OCR noise/mojibake, a missing one means template text.

    Two combinable exchanges (token counts, then count-of-counts —
    the second over a |distinct counts|-sized input). Columns:
    ``(freq, n_types)``.
    """
    toks = corpus.select(
        F.explode(F.split(F.col(text_col), " ")).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count("*").alias("freq"))
    # tokens are unique per group after the first aggregate — a plain
    # count IS the distinct-type count, without a distinct-agg's
    # per-group hash-set pass over the vocabulary
    return counts.groupBy("freq").agg(
        F.count("*").alias("n_types")
    )


def temperature_mixture(
    docs: DataFrame,
    token_budget: int,
    alpha: float = 0.5,
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-scaled mixture weights (the multilingual/multi-
    source sampling rule of XLM-R / mT5 / Gopher): each stratum's
    sampling share is ``n_tokens^alpha / sum_j n_tokens_j^alpha``, so
    ``alpha < 1`` up-weights small sources relative to their natural
    share and ``alpha = 1`` recovers natural sampling. Complements
    ``mixture_plan`` (explicit hand-set integer weights) — here the
    weights are DERIVED from the corpus itself.

    Cross-engine float discipline: the default ``alpha = 0.5`` makes
    the power a ``sqrt`` — correctly rounded under IEEE-754 on both
    engines, so per-stratum terms are bit-identical (general ``pow``
    may differ in the last ulp between libm implementations; any alpha
    is accepted, but the hash-gated query uses 0.5). The share is
    rounded to 6 decimals FIRST and ``planned_tokens`` derived from
    the rounded share, so the floor cannot straddle engines on a
    last-ulp difference.

    Columns: ``(source, n_docs, n_tokens, natural_frac, weight,
    planned_tokens, epochs, oversampled)``.

    Scale shape: one scan -> per-stratum combinable rollup (the only
    corpus-sized exchange) -> one-row totals broadcast back. Nothing
    past the grouped aggregate is wider than #strata rows.
    """
    if token_budget <= 0:
        raise ValueError("token_budget must be positive")
    ntok = _ntok_expr(text_col)
    per = (
        docs.select(F.col(strata_col).alias("source"), ntok.alias("_nt"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_nt").alias("n_tokens"),
        )
    )
    # alpha=0.5 routes through sqrt EXPLICITLY: sqrt is correctly
    # rounded under IEEE-754 while Math.pow only promises 1 ulp — the
    # documented bit-identity must not rest on a JVM pow special case
    if float(alpha) == 0.5:
        pow_ = F.sqrt(F.col("n_tokens").cast("double"))
    else:
        pow_ = F.pow(F.col("n_tokens").cast("double"), F.lit(float(alpha)))
    per = per.withColumn("_pw", pow_)
    tot = per.agg(
        F.sum("n_tokens").alias("_tot_tok"), F.sum("_pw").alias("_tot_pw")
    )
    out = per.crossJoin(F.broadcast(tot))
    weight = F.round(F.col("_pw") / F.col("_tot_pw"), 6)
    planned = F.floor(weight * F.lit(float(token_budget))).cast("bigint")
    return out.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens") / F.col("_tot_tok").cast("double"), 6
        ).alias("natural_frac"),
        weight.alias("weight"),
        planned.alias("planned_tokens"),
        F.when(F.col("n_tokens") > 0, F.round(planned / F.col("n_tokens"), 6))
        .otherwise(F.lit(0.0))
        .alias("epochs"),
        (
            F.when(
                F.col("n_tokens") > 0,
                F.round(planned / F.col("n_tokens"), 6),
            )
            .otherwise(F.lit(0.0))
            > 1.0
        ).alias("oversampled"),
    )


def kmv_vocab_sketch(
    docs: DataFrame,
    k: int = 64,
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """K-minimum-values distinct sketch (Bar-Yossef et al. 2002) over
    the whitespace vocabulary of each stratum: keep the ``k`` smallest
    60-bit token hashes per stratum; the k-th minimum estimates the
    stratum's distinct-token count as ``(k-1) * 2^60 / h_k``. The
    counting substrate for "how big is each source's vocabulary"
    without an exact distinct over the full token table.

    Unlike HLL (whose register layout is engine-private and therefore
    unverifiable cross-engine), KMV with a fixed deterministic hash is
    exactly reproducible: the same k hashes, the same k-th minimum,
    the same estimate, in any engine — which is what makes this sketch
    hash-gateable against DuckDB while remaining a genuine sublinear
    sketch (state per stratum is k values, mergeable by min-merge).

    When a stratum's true vocabulary has fewer than ``k`` distinct
    tokens the sketch IS the vocabulary and the exact count is
    reported (``est_distinct = n_kept``, the estimator's standard
    small-range fallback).

    Columns: ``(source, n_kept, kth_hash, est_distinct)``.

    Scale shape: explode -> distinct (source, hash) [one exchange,
    partial-combined] -> rank window per stratum. Spark rewrites the
    ``row_number <= k`` filter into WindowGroupLimit, so every map
    task keeps only its local k smallest hashes before the shuffle —
    state per task is k rows per stratum, never the vocabulary.
    """
    from ..parallelism import widen

    if k < 2:
        raise ValueError("k must be >= 2 (the estimator uses k-1)")
    w = Window.partitionBy("source").orderBy("h")
    hashes = (
        widen(docs).select(
            F.col(strata_col).alias("source"),
            F.explode(F.split(F.col(text_col), " ")).alias("tok"),
        )
        .select(
            "source",
            F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10)
            .cast("bigint")
            .alias("h"),
        )
        .distinct()
    )
    kept = hashes.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise(
        F.round(
            F.lit(float(k - 1)) * F.lit(float(2**60)) / F.col("kth_hash"),
            4,
        )
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.max("h").alias("kth_hash"),
        )
        .select("source", "n_kept", "kth_hash", est.alias("est_distinct"))
    )


def length_buckets(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Padding-waste accounting for length-bucketed batching: assign
    each document to the smallest power-of-two token-length bucket
    that holds it, then report per bucket how many tokens a batch
    padded to the bucket width wastes. The report a data loader's
    bucket boundaries are tuned from (dynamic batching / bucketed
    sharding — the fixed-shape complement of ``pack_sequences``).

    The bucket edge is computed with INTEGER bit arithmetic
    (``1 << bitlength(n - 1)``), not ``ceil(log2(n))`` — a float log
    at an exact power of two straddles engines on the last ulp and
    flips a document across buckets; bit length cannot.

    NULL text counts as zero tokens and lands in a ``bucket_max = 0``
    diagnostic row (never silently dropped — same discipline as
    ``drop_reasons``).

    Columns: ``(bucket_max, n_docs, total_tokens, padded_tokens,
    waste_frac)``.

    Scale shape: zero-shuffle row-local projection, then ONE
    partial-combined aggregate over ~log2(max_len) buckets.
    """
    text = F.col(text_col)
    ntok = F.when(text.isNull(), F.lit(0)).otherwise(_ntok_expr(text_col))
    bucket = (
        F.when(F.col("_nt") <= 0, F.lit(0))
        .when(F.col("_nt") == 1, F.lit(1))
        .otherwise(F.expr("shiftleft(CAST(1 AS BIGINT), length(bin(_nt - 1)))"))
        .cast("bigint")
    )
    per = (
        docs.select(ntok.alias("_nt"))
        .select(bucket.alias("bucket_max"), F.col("_nt"))
        .groupBy("bucket_max")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_nt").alias("total_tokens"),
        )
    )
    padded = (F.col("n_docs") * F.col("bucket_max")).alias("padded_tokens")
    waste = F.when(
        F.col("bucket_max") == 0, F.lit(0.0)
    ).otherwise(
        F.round(
            F.lit(1.0)
            - F.col("total_tokens")
            / (F.col("n_docs") * F.col("bucket_max")).cast("double"),
            6,
        )
    )
    return per.select(
        "bucket_max", "n_docs", "total_tokens", padded, waste.alias("waste_frac")
    )


def unigram_divergence(
    docs: DataFrame,
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Distribution-drift monitor: Jensen-Shannon divergence between
    each stratum's unigram distribution and the global corpus
    distribution — the standing dashboard number for "did this
    source/day/shard drift away from the mixture" (0 = identical,
    ln 2 = disjoint vocabularies; natural-log form).

    The JSD's second sum runs over ALL global tokens, including those
    ABSENT from the stratum — naively |strata| x |vocab| rows. Absent
    tokens contribute exactly ``Q·ln 2`` each (P=0 ⇒ M=Q/2), so the
    absent-token mass collapses to ``ln 2 · (1 - coverage)`` where
    ``coverage`` is the global probability mass of the tokens the
    stratum DOES have — the whole statistic computes from the
    stratum-token join alone, never a strata x vocab expansion.

    Columns: ``(source, n_tokens, n_types, coverage, jsd)``.

    Scale shape: one (stratum, token) partial-combined aggregate; the
    global token table derives from it by a second combinable rollup;
    per-stratum totals and the one-row grand total broadcast back.
    """
    from ..parallelism import widen

    toks = widen(docs).select(
        F.col(strata_col).alias("source"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    )
    stc = toks.groupBy("source", "tok").agg(F.count("*").alias("n"))
    st = stc.groupBy("source").agg(
        F.sum("n").alias("_st"), F.count("*").alias("n_types")
    )
    g = stc.groupBy("tok").agg(F.sum("n").alias("gn"))
    gt = g.agg(F.sum("gn").alias("_gt"))
    j = (
        stc.join(g, "tok")
        .join(F.broadcast(st), "source")
        .crossJoin(F.broadcast(gt))
    )
    p = F.col("n") / F.col("_st").cast("double")
    q = F.col("gn") / F.col("_gt").cast("double")
    m = (p + q) / F.lit(2.0)
    per = j.groupBy("source").agg(
        F.first("_st").alias("n_tokens"),
        F.first("n_types").alias("n_types"),
        F.sum(q).alias("_cov"),
        F.sum(p * F.log(p / m)).alias("_ps"),
        F.sum(q * F.log(q / m)).alias("_qs"),
    )
    ln2 = float(math.log(2.0))
    return per.select(
        "source",
        "n_tokens",
        "n_types",
        F.round(F.col("_cov"), 6).alias("coverage"),
        F.round(
            F.lit(0.5) * F.col("_ps")
            + F.lit(0.5)
            * (F.col("_qs") + F.lit(ln2) * (F.lit(1.0) - F.col("_cov"))),
            6,
        ).alias("jsd"),
    )


def cms_heavy_hitters(
    docs: DataFrame,
    depth: int = 4,
    width: int = 2048,
    k: int = 40,
    text_col: str = "text",
) -> DataFrame:
    """Heavy-hitter report through a Count-Min sketch (Cormode &
    Muthukrishnan 2005): token frequencies estimated as the MINIMUM
    over ``depth`` hash rows of ``width`` counters each, reported next
    to the exact count so the sketch's one-sided error (est >= exact,
    overestimate = collision mass) is visible per token. The top-``k``
    rows by estimate are the tokens a streaming budgeter would keep.

    Like the KMV sketch, CMS with fixed md5-derived row hashes is
    exactly reproducible cross-engine — the counter table, the
    per-token minimum, and the ranking all hash-gate against DuckDB
    while the sketch stays genuinely sublinear (depth x width counters
    regardless of corpus size, mergeable by cell-wise addition).

    Columns: ``(rank, token, est, exact)`` ordered by the estimate.

    Scale shape: the token explode partial-combines into per-token
    counts (one exchange, vocabulary-sized); the counter table is a
    second vocabulary-sized aggregate down to depth*width rows, which
    then BROADCAST back onto the vocabulary for the min-estimate; the
    top-k runs as a WindowGroupLimit partial heap. Nothing after the
    first combine scales with corpus volume, and the sketch itself
    (the broadcast side) is a few KB.
    """
    if depth < 1 or width < 2:
        raise ValueError("need depth >= 1 and width >= 2")
    counts = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("exact"))
    )

    def bucket(d: int) -> Column:
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{d}:"), F.col("token"))), 1, 15),
                16,
                10,
            ).cast("bigint")
            % width
        ).alias("bucket")

    rows = counts.select(
        "token",
        "exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).cast("int").alias("row"), bucket(d)
                    )
                    for d in range(int(depth))
                ]
            )
        ).alias("_rb"),
    ).select("token", "exact", F.col("_rb.row"), F.col("_rb.bucket"))
    sketch = rows.groupBy("row", "bucket").agg(
        F.sum("exact").alias("cell")
    )
    est = (
        rows.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy("token", "exact")
        .agg(F.min("cell").cast("bigint").alias("est"))
    )
    w = Window.orderBy(
        F.col("est").desc(), F.col("exact").desc(), F.col("token")
    )
    return (
        est.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= int(k))
        .select("rank", "token", "est", "exact")
    )


def curriculum_order(
    corpus: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    n_buckets: int = 1024,
) -> DataFrame:
    """Curriculum data ordering: every document gets a global training
    ``position`` such that higher-quality (easier) documents come
    first, in quality ``stage``s, with a deterministic pseudo-random
    shuffle INSIDE each stage (the standard curriculum-learning layout:
    stages easy -> hard, i.i.d. within a stage).

    ``stage`` = 3 - quality points (text/analysis.py
    quality_points_expr), so stage 0 is the cleanest band; the
    within-stage order is the md5 hash of the id (reshuffling is a
    seed change away from being a different permutation).

    Columns: ``(id, stage, position)`` — position is 0-based over the
    whole corpus.

    Scale shape: positions come from the two-level distributed prefix
    sum (the ``pack_sequences`` discipline): per-(stage, hash-bucket)
    counts are one tiny combinable aggregate, the running offset is a
    window over at most 4 * ``n_buckets`` rows broadcast back, and the
    final rank is a PER-BUCKET window — no global single-partition
    sort anywhere. A writer materializing the curriculum would
    range-partition by (stage, hash) and inherit this exact order.
    """
    from .analysis import quality_points_expr

    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    bucket_width = (1 << 60) // int(n_buckets)
    t = corpus.select(
        F.col(id_col).alias("id"),
        (3 - quality_points_expr(text_col)).cast("int").alias("stage"),
        h.alias("_h"),
    ).withColumn("_bk", F.expr(f"_h div {bucket_width}"))
    totals = t.groupBy("stage", "_bk").agg(F.count("*").alias("_n"))
    wo = Window.orderBy("stage", "_bk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "stage",
        "_bk",
        F.coalesce(F.sum("_n").over(wo), F.lit(0)).alias("_off"),
    )
    wl = Window.partitionBy("stage", "_bk").orderBy("_h", "id")
    return (
        t.join(F.broadcast(offsets), ["stage", "_bk"])
        .withColumn(
            "position",
            (F.col("_off") + F.row_number().over(wl) - 1).cast("bigint"),
        )
        .select("id", "stage", "position")
    )


def leakage_safe_split(
    corpus: DataFrame,
    fractions: "dict[str, float] | None" = None,
    seed: int = 0,
    threshold: float = 0.5,
    id_col: str = "id",
    pairs: DataFrame | None = None,
    text_col: str = "text",
    strict: bool = False,
) -> DataFrame:
    """Train/val/test assignment that can never leak near-duplicates
    across splits: documents are first clustered into duplicate groups
    (``dedup.dup_groups`` — MinHash-LSH pair graph closed by label
    propagation) and the WHOLE GROUP is assigned by the hash fraction
    of its ``group_id``, so a near-copy of a training document cannot
    land in the eval split (the failure mode ``split_leakage`` audits
    after the fact; this op prevents it by construction).

    Columns: ``(id, group_id, split)`` — every member of a group
    carries the same split by definition of the key.

    Scale shape: dup_groups' cost dominates (documented there); the
    assignment itself is one zero-shuffle projection over its output.
    """
    from .dedup import dup_groups

    groups = dup_groups(
        corpus, id_col=id_col, threshold=threshold, pairs=pairs,
        text_col=text_col, strict=strict,
    )
    return groups.select(
        "id",
        "group_id",
        split_expr(seed, "group_id", fractions).alias("split"),
    )


# the n-gram columns of an order-3 table: w3 is the scored token, w2
# and w1 its predecessors; an order-k table keeps the last k of them
_NGRAM_COLS = ("w1", "w2", "w3")


def ngram_doc_counts(
    corpus: DataFrame,
    order: int = 3,
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc n-gram table ``(id, [w1,] [w2,] w3, n)`` — the one
    substrate of the self-trained LM scorers (public builder form, used
    by ``substrate.write_substrate`` to persist the fold once per
    corpus version). One row per distinct (doc, token, predecessors):
    ``w3`` runs over every token position, ``w2``/``w1`` are its one-
    and two-back predecessors, NULL before the doc start; an order-k
    table keeps the last k of ``w1, w2, w3``. Every lower order is a
    sum over it: trigrams are the rows with non-null ``w1``, bigrams
    the rows with non-null ``w2`` keyed ``(w2, w3)``, the unigram
    vocab all rows keyed ``w3``, N is ``sum(n)``.

    Plan: one hoisted split (``_t`` projected first, so the lambda
    indexes an array instead of re-splitting the text per element —
    O(len) per doc, not O(len^2)), one indexed transform whose lags are
    CASE-guarded (an index before the doc start is an error under
    ANSI), one explode partial-combining straight into the per-doc
    count table — no position self-join. ``w3`` comes out non-nullable
    (split never yields a NULL element), so the not-NULL filters the
    model joins infer on it are pruned and the consumers of one model
    table keep identical, reusable exchanges."""
    if order not in (1, 2, 3):
        raise ValueError(f"order must be 1, 2 or 3, got {order}")
    cols = _NGRAM_COLS[-order:]
    # x is the token at 0-based position i; w{3-k} lags it by k
    fields = ", ".join(
        [
            f"CASE WHEN i >= {k} THEN _t[i - {k}] END AS w{3 - k}"
            for k in range(order - 1, 0, -1)
        ]
        + ["x AS w3"]
    )
    grams = (
        corpus.select(
            F.col(id_col).alias("id"),
            F.split(F.col(text_col), " ").alias("_t"),
        )
        .select(
            "id",
            F.explode(
                F.expr(f"transform(_t, (x, i) -> struct({fields}))")
            ).alias("_g"),
        )
        .select("id", *[F.col(f"_g.{c}") for c in cols])
    )
    return grams.groupBy("id", *cols).agg(F.count("*").alias("n"))


def _ngram_table(
    corpus: DataFrame,
    order: int,
    id_col: str,
    text_col: str,
    counts: DataFrame | None = None,
) -> DataFrame:
    """A scorer's ``ngram_doc_counts`` table at its own ``order``:
    built and session-persisted, or the caller's precomputed table
    (substrate 'ngram_counts') — verbatim at the same order, collapsed
    by one per-doc aggregate from a higher one."""
    if counts is None:
        return tracked_persist(
            ngram_doc_counts(corpus, order, id_col, text_col)
        )
    have = sum(c in counts.columns for c in _NGRAM_COLS)
    if have < order:
        raise ValueError(
            f"counts= is an order-{have} ngram_doc_counts table; this "
            f"scorer needs order {order} or higher"
        )
    if have == order:
        return counts
    return counts.groupBy("id", *_NGRAM_COLS[-order:]).agg(
        F.sum("n").alias("n")
    )


def _per_doc_nll(scored: DataFrame, n_name: str) -> DataFrame:
    """(id, n, _nll) -> (id, <n_name>, avg_neg_logprob): n-weighted
    mean NLL — same value as the per-instance mean, |doc-vocab|-sized
    input instead of corpus-sized."""
    return scored.groupBy("id").agg(
        F.sum("n").cast("bigint").alias(n_name),
        F.round(F.sum(F.col("n") * F.col("_nll")) / F.sum("n"), 6).alias(
            "avg_neg_logprob"
        ),
    )


def _per_doc_lattice_nll(tg: DataFrame, types: DataFrame) -> DataFrame:
    """Per-doc trigram mean of the per-TYPE lattice NLL ``types(w1, w2,
    w3, _nll)`` (already qdec'd): ONE corpus-sized join on the natural
    (w1, w2, w3) key, then the n-weighted sum exact on the decimal
    lattice (dsum — partition-order independent) and one deterministic
    rounding back to double. Columns: ``(id, n_trigrams,
    avg_neg_logprob)``."""
    from ..numerics import dsum, r6

    scored = tg.join(types, ["w1", "w2", "w3"]).select("id", "n", "_nll")
    return scored.groupBy("id").agg(
        F.sum("n").cast("bigint").alias("n_trigrams"),
        r6(
            dsum(F.col("n") * F.col("_nll"))
            / F.sum("n").cast("double")
        ).alias("avg_neg_logprob"),
    )


def bigram_logprob(
    corpus: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    add_k: int = 1,
    counts: DataFrame | None = None,
) -> DataFrame:
    """Bigram language-model scoring with add-k smoothing: train the
    conditional model P(w3|w2) = (c(w2,w3)+k) / (c(w2,·)+k·V) on the
    corpus itself and score each document by its mean negative
    log-likelihood over bigrams — one order up from
    ``unigram_logprob`` (the CCNet-style perplexity filter's shape:
    context-aware, so shuffled word salad scores WORSE than fluent
    repetition even when the unigram mix is identical).

    Documents with fewer than two tokens have no bigrams and are not
    scored (mirrored by the oracle). Columns: ``(id, n_bigrams,
    avg_neg_logprob)``, score rounded 6.

    Scale shape: everything derives from the ONE persisted order-2
    ``ngram_doc_counts`` table (or ``counts=``, an order-2-or-higher
    table): c2 sums its rows with a predecessor, c1 sums c2 over w3,
    and the smoothing vocab size V counts its distinct w3 — nothing
    re-reads the raw text. Count lookups are joins AQE sizes
    (broadcast under the threshold, shuffled-hash above); V is a
    one-row broadcast.
    """
    t = _ngram_table(corpus, 2, id_col, text_col, counts=counts)
    dg = t.filter(F.col("w2").isNotNull())
    c2 = dg.groupBy("w2", "w3").agg(F.sum("n").alias("n2"))
    c1 = c2.groupBy("w2").agg(F.sum("n2").alias("n1"))
    vsize = t.agg(F.countDistinct("w3").alias("v"))
    k = int(add_k)
    scored = (
        dg.join(c2, ["w2", "w3"])
        .join(c1, "w2")
        .crossJoin(F.broadcast(vsize))
        .select(
            "id",
            "n",
            (
                -F.log(
                    (F.col("n2") + F.lit(k))
                    / (F.col("n1") + F.lit(k) * F.col("v")).cast("double")
                )
            ).alias("_nll"),
        )
    )
    return _per_doc_nll(scored, "n_bigrams")


def kn_bigram_logprob(
    corpus: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    discount: float = 0.75,
    counts: DataFrame | None = None,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring — the LM quality filter
    the CCNet family actually ships (add-k overweights frequent
    continuations; KN discounts every seen bigram by ``discount`` and
    backs the freed mass into the CONTINUATION unigram, so boilerplate
    that always follows one fixed context stops looking fluent):

        P(w3|w2) = max(c(w2,w3) - d, 0)/c(w2,.)
                   + lambda(w2) * Pcont(w3)
        lambda(w2) = d * |{w3: c(w2,w3)>0}| / c(w2,.)
        Pcont(w3)  = |{w2: c(w2,w3)>0}| / |bigram types|

    Scored on the training corpus itself, every bigram instance is
    seen, so no unseen-event branch is reachable (the oracle mirrors
    the same closed-world expression). Columns and contract match
    ``bigram_logprob``: ``(id, n_bigrams, avg_neg_logprob)``, round 6,
    sub-2-token docs unscored.

    Scale shape: everything derives from the ONE persisted order-2
    ``ngram_doc_counts`` table (or ``counts=``) — c2, c1, the two
    continuation-type counts, and the type total are progressively
    smaller aggregates of it; the scoring join is AQE-sized and the
    type total is a one-row broadcast.
    """
    d = float(discount)
    if not (0.0 < d <= 1.0):
        raise ValueError(f"discount must be in (0, 1], got {discount}")
    dg = _ngram_table(corpus, 2, id_col, text_col, counts=counts).filter(
        F.col("w2").isNotNull()
    )
    c2 = tracked_persist(
        dg.groupBy("w2", "w3").agg(F.sum("n").alias("n2"))
    )
    c1 = c2.groupBy("w2").agg(
        F.sum("n2").alias("n1"),
        F.count("*").alias("nfol"),  # |{w3: c(w2,w3)>0}|
    )
    nprec = c2.groupBy("w3").agg(
        F.count("*").alias("nprec")  # |{w2: c(w2,w3)>0}|
    )
    types = c2.agg(F.count("*").alias("t"))
    p = (
        F.greatest(F.col("n2") - F.lit(d), F.lit(0.0))
        / F.col("n1").cast("double")
        + ((F.lit(d) * F.col("nfol")) / F.col("n1").cast("double"))
        * (F.col("nprec") / F.col("t").cast("double"))
    )
    scored = (
        dg.join(c2, ["w2", "w3"])
        .join(c1, "w2")
        .join(nprec, "w3")
        .crossJoin(F.broadcast(types))
        .select("id", "n", (-F.log(p)).alias("_nll"))
    )
    return _per_doc_nll(scored, "n_bigrams")


def trigram_logprob(
    corpus: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    lambdas: tuple[float, float, float] = (0.7, 0.2, 0.1),
    counts: DataFrame | None = None,
) -> DataFrame:
    """Interpolated trigram language-model scoring — the top of the
    CCNet/KenLM-style stack next to ``bigram_logprob`` (add-k) and
    ``kn_bigram_logprob`` (Kneser-Ney): Jelinek-Mercer interpolation
    of the three maximum-likelihood orders,

        P(w3|w1,w2) = l3*c(w1w2w3)/c(w1w2.)
                    + l2*c(w2w3)/c(w2.)
                    + l1*c(w3)/N

    scored on the training corpus itself, so every trigram instance
    is seen and no backoff branch is reachable (the oracle mirrors
    the same closed-world expression). Contract follows the bigram
    scorers: ``(id, n_trigrams, avg_neg_logprob)``, sub-3-token docs
    unscored.

    Numerics (the DSIR decimal-lattice discipline, numerics.py): the
    three interpolation terms are one IEEE double expression written
    in identical left-to-right association in both engines; each
    trigram type's NLL then goes through the 1e-9-shifted round into
    DECIMAL(14,6), the per-doc n-weighted sum runs exact on the
    lattice (partition-order independent), and ONE deterministic
    rounding hands the mean back to double — a plain double SUM of
    -log values would be partition-order dependent in the last ulp.

    Scale shape: the corpus collapses into ONE persisted order-3
    ``ngram_doc_counts`` table (or ``counts=``). Every model table is
    a progressively smaller aggregate of it: c3 and its context
    marginal from the rows with a full context, c2/c1 from the rows
    with a predecessor (so each doc's first bigram counts), the
    unigram vocab and N from all rows. The per-type NLL is assembled
    from model tables only (type/vocab-sized joins AQE sizes), and the
    corpus-sized per-doc table joins it ONCE on its natural (w1, w2,
    w3) key.
    """
    from ..numerics import qdec

    l3, l2, l1 = (float(x) for x in lambdas)
    if not all(x >= 0 for x in (l3, l2, l1)) or (l3 + l2 + l1) <= 0:
        raise ValueError(f"lambdas must be non-negative, got {lambdas}")

    t = _ngram_table(corpus, 3, id_col, text_col, counts=counts)
    tg = t.filter(F.col("w1").isNotNull())
    c3 = tg.groupBy("w1", "w2", "w3").agg(F.sum("n").alias("n3"))
    c2ctx = c3.groupBy("w1", "w2").agg(F.sum("n3").alias("nctx3"))
    c2 = (
        t.filter(F.col("w2").isNotNull())
        .groupBy("w2", "w3")
        .agg(F.sum("n").alias("n2"))
    )
    c1 = c2.groupBy("w2").agg(F.sum("n2").alias("n1"))
    uni = t.groupBy("w3").agg(F.sum("n").alias("nu"))
    total = uni.agg(F.sum("nu").alias("n_total"))
    p = (
        F.lit(l3) * (F.col("n3") / F.col("nctx3").cast("double"))
        + F.lit(l2) * (F.col("n2") / F.col("n1").cast("double"))
        + F.lit(l1) * (F.col("nu") / F.col("n_total").cast("double"))
    )
    # every model join is key-unique, so cardinalities are preserved
    types = (
        c3.join(c2ctx, ["w1", "w2"])
        .join(c2, ["w2", "w3"])
        .join(c1, "w2")
        .join(uni, "w3")
        .crossJoin(F.broadcast(total))
        .select("w1", "w2", "w3", qdec(-F.log(p)).alias("_nll"))
    )
    return _per_doc_lattice_nll(tg, types)


def kn_trigram_logprob(
    corpus: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    discount: float = 0.75,
    counts: DataFrame | None = None,
) -> DataFrame:
    """Interpolated Kneser-Ney TRIGRAM scoring — the KenLM default
    order-3 model (Heafield 2011 estimates exactly this shape), on
    top of ``kn_bigram_logprob``'s order-2 and ``trigram_logprob``'s
    Jelinek-Mercer mix. Lower orders use CONTINUATION counts derived
    from the trigram table (the defining KN move — a word that
    follows only one fixed context stops looking fluent no matter how
    frequent the phrase):

        P(w3|w1w2) = max(c3-d,0)/cctx + lam3(w1w2) * P2(w3|w2)
        lam3(w1w2) = d * |{w3: c3(w1w2w3)>0}| / cctx
        P2(w3|w2)  = max(t(w2w3)-d,0)/tmid(w2)
                     + (d * tfol(w2)/tmid(w2)) * t(.w3)/T
        t(w2w3) = |{w1: c3>0}|      (distinct left contexts)
        tmid(w2) = sum_w3 t(w2w3);  tfol(w2) = |{w3: t(w2w3)>0}|
        t(.w3) = |{w2: t(w2w3)>0}|; T = |distinct (w2,w3) rows|

    Scored on the training corpus itself: every scored trigram has
    c3 >= 1, hence t(w2w3) >= 1, tmid(w2) >= 1, t(.w3) >= 1 — no
    unseen-event branch is reachable and the oracle mirrors the same
    closed-world expression. Contract matches ``trigram_logprob``:
    ``(id, n_trigrams, avg_neg_logprob)``, sub-3-token docs unscored,
    qdec-lattice per-type NLL + exact decimal per-doc weighted mean.

    Scale shape: the trigram rows of ONE persisted order-3
    ``ngram_doc_counts`` table (or ``counts=``, shared with
    ``trigram_logprob``); c3, cctx, and all four continuation tables
    are progressively smaller aggregates of it; the per-type NLL comes
    from model tables only and joins the per-doc table once; T is a
    one-row broadcast.
    """
    from ..numerics import qdec

    d = float(discount)
    if not (0.0 < d <= 1.0):
        raise ValueError(f"discount must be in (0, 1], got {discount}")
    tg = _ngram_table(corpus, 3, id_col, text_col, counts=counts).filter(
        F.col("w1").isNotNull()
    )
    c3 = tracked_persist(
        tg.groupBy("w1", "w2", "w3").agg(F.sum("n").alias("n3"))
    )
    cctx = c3.groupBy("w1", "w2").agg(
        F.sum("n3").alias("nctx"),
        F.count("*").alias("nfol3"),  # |{w3: c3(w1w2w3)>0}|
    )
    ctab = tracked_persist(
        c3.groupBy("w2", "w3").agg(F.count("*").alias("t23"))
    )
    tmid = ctab.groupBy("w2").agg(
        F.sum("t23").alias("tmid"),
        F.count("*").alias("tfol"),  # |{w3: t(w2w3)>0}|
    )
    tdot = ctab.groupBy("w3").agg(F.count("*").alias("tdot"))
    ttot = ctab.agg(F.count("*").alias("T"))
    p2 = (
        F.greatest(F.col("t23") - F.lit(d), F.lit(0.0))
        / F.col("tmid").cast("double")
        + ((F.lit(d) * F.col("tfol")) / F.col("tmid").cast("double"))
        * (F.col("tdot") / F.col("T").cast("double"))
    )
    p = (
        F.greatest(F.col("n3") - F.lit(d), F.lit(0.0))
        / F.col("nctx").cast("double")
        + ((F.lit(d) * F.col("nfol3")) / F.col("nctx").cast("double"))
        * p2
    )
    types = (
        c3.join(cctx, ["w1", "w2"])
        .join(ctab, ["w2", "w3"])
        .join(tmid, "w2")
        .join(tdot, "w3")
        .crossJoin(F.broadcast(ttot))
        .select("w1", "w2", "w3", qdec(-F.log(p)).alias("_nll"))
    )
    return _per_doc_lattice_nll(tg, types)


def quality_blend(
    corpus: DataFrame, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """Composite curation score: the corpus-wide z-score of the rule
    quality points BLENDED with the (negated) z-score of the unigram
    LM negative log-likelihood — the standard trick for combining
    heterogeneous quality signals on one scale before thresholding
    (rule points reward structure, the LM penalizes corpus-atypical
    token mixes; averaging their z-scores keeps either from dominating
    by units).

    Columns: ``(id, z_quality, z_lm, blend, keep)`` — z-scores and
    blend rounded 6, ``keep`` = blend > 0 tested on the ROUNDED blend.

    Scale shape: two per-doc signal projections (one reusing
    ``unigram_logprob``'s plan), ONE one-row stats aggregate broadcast
    back, and a zero-shuffle blend projection.
    """
    from .analysis import quality_points_expr

    q = corpus.select(
        F.col(id_col).alias("id"),
        quality_points_expr(text_col).cast("double").alias("_q"),
    )
    lm = unigram_logprob(corpus, id_col, text_col).select(
        "id", F.col("avg_neg_logprob").alias("_n")
    )
    sig = q.join(lm, "id")
    st = sig.agg(
        F.avg("_q").alias("_mq"),
        F.stddev_pop("_q").alias("_sq"),
        F.avg("_n").alias("_mn"),
        F.stddev_pop("_n").alias("_sn"),
    )
    zq = (F.col("_q") - F.col("_mq")) / F.when(
        F.col("_sq") > 0, F.col("_sq")
    )
    zn = (F.col("_n") - F.col("_mn")) / F.when(
        F.col("_sn") > 0, F.col("_sn")
    )
    # the blend averages the UNROUNDED z-scores: halving two
    # 6dp-rounded values lands exactly on 7th-decimal midpoints, where
    # Spark's and DuckDB's double rounding disagree (found by the
    # cross-engine gate: 5/580 rows flipped by 1e-6)
    out = (
        sig.crossJoin(F.broadcast(st))
        .select(
            "id",
            F.round(zq, 6).alias("z_quality"),
            F.round(zn, 6).alias("z_lm"),
            F.round(
                (F.coalesce(zq, F.lit(0.0)) - F.coalesce(zn, F.lit(0.0)))
                / 2.0,
                6,
            ).alias("blend"),
        )
    )
    return out.withColumn("keep", F.col("blend") > 0.0)


def epoch_expand(
    docs: DataFrame,
    token_budget: int,
    alpha: float = 0.5,
    seed: int = 0,
    strata_col: str = "source",
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """Materialize the ``temperature_mixture`` plan: every document is
    repeated according to its source's epoch factor — whole copies for
    the integer part, and a DETERMINISTIC hash-selected fraction of
    the source's documents gets one extra copy for the fractional part
    (so the realized token count tracks ``planned_tokens`` without any
    randomness to reproduce). This is the planning -> training-stream
    step: the output (id, source, epoch) rows are what a shuffled
    shard writer consumes.

    Scale shape: the weights table is |sources| rows BROADCAST back;
    the per-doc copy count and the sequence explode are row-local, so
    the op is one map pass whose output volume is exactly the planned
    oversampling.
    """
    w = temperature_mixture(
        docs, token_budget, alpha, strata_col, text_col
    ).select(F.col("source").alias(strata_col), "epochs")
    # the hash keys the RENAMED output id column (its value is the
    # caller's id_col verbatim, so oracle derivations agree)
    h = key_u32(seeded_key(seed, "id")).cast("double") / F.lit(
        float(1 << 32)
    )
    full = F.floor(F.col("epochs")).cast("bigint")
    frac = F.col("epochs") - full
    n_copies = (full + (h < frac).cast("bigint")).alias("_nc")
    # sequence(1, 0) steps DOWN, not empty — zero-copy docs must take
    # the empty-array branch explicitly
    copies = F.when(
        F.col("_nc") >= 1, F.sequence(F.lit(1).cast("bigint"), F.col("_nc"))
    ).otherwise(F.array().cast("array<bigint>"))
    return (
        docs.select(
            F.col(id_col).alias("id"), F.col(strata_col).alias("source")
        )
        .join(F.broadcast(w.withColumnRenamed(strata_col, "source")), "source")
        .withColumn("_nc", n_copies)
        .select("id", "source", F.explode(copies).alias("epoch"))
    )


def fim_split(
    docs: DataFrame,
    fim_pct: int = 50,
    min_chars: int = 20,
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """Fill-in-the-middle transform (Bavarian et al. 2022, "Efficient
    Training of Language Models to Fill in the Middle"): a
    deterministic ``fim_pct``% of documents are split into
    (prefix, middle, suffix) at two hashed character positions — the
    PSM decomposition an FIM training pipeline feeds the sequence
    builder; the rest (and every doc shorter than ``min_chars`` or
    NULL) pass through whole with empty middle/suffix.

    Everything is integer arithmetic on multiplicative id hashes
    (the ``stratified_sample`` discipline): the decision and both cut
    points are properties of the ROW, so re-runs, retries, and any
    partition layout produce identical splits, and the DuckDB oracle
    replays them exactly.  Split invariants: 1 <= s1 < s2 <= len-1,
    so all three parts of a selected doc are non-empty.

    Output: ``(id, fim, prefix, middle, suffix)``.  Row-local — no
    shuffle; the filter/projection fuses into the scan at any scale.
    """
    if not 0 <= int(fim_pct) <= 100:
        raise ValueError(f"fim_pct must be 0..100, got {fim_pct}")
    text = F.col(text_col)
    n = F.length(text)
    uid = F.pmod(F.col(id_col).cast("long"), F.lit(_HASH_MOD))
    sel = F.pmod(uid * F.lit(_HASH_A), F.lit(100)) < F.lit(int(fim_pct))
    fim = text.isNotNull() & (n >= int(min_chars)) & sel
    u1 = F.pmod(F.col(id_col).cast("long") * F.lit(2246822519), F.lit(1000003))
    u2 = F.pmod(F.col(id_col).cast("long") * F.lit(7919), F.lit(1000003))
    s1 = (F.lit(1) + F.pmod(u1, n - 2)).cast("int")
    s2 = (s1 + 1 + F.pmod(u2, n - s1 - 1)).cast("int")
    return docs.select(
        F.col(id_col).alias("id"),
        fim.alias("fim"),
        F.when(fim, F.substring(text, F.lit(1), s1))
        .otherwise(text)
        .alias("prefix"),
        F.when(fim, F.substring(text, s1 + 1, s2 - s1))
        .otherwise(F.lit(""))
        .alias("middle"),
        F.when(fim, F.substring(text, s2 + 1, n - s2))
        .otherwise(F.lit(""))
        .alias("suffix"),
    )


def dsir_weights(
    docs: DataFrame,
    target_col: str = "source",
    target_value: str = "mirror",
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every
    NON-target document by the log-likelihood ratio of an add-one-
    smoothed target-domain unigram LM against the raw-domain LM — the
    weight importance resampling draws against when curating a raw
    crawl toward a target domain.

    ``logratio = sum_w count_d(w) * [ln((ct(w)+1)/(Tt+V))
                                   - ln((cr(w)+1)/(Tr+V))]``
    over the shared vocabulary V (hapax smoothing keeps unseen-in-
    target words finite).  Positive = more target-like than raw.

    Numerics (the lr_quality discipline): each token's log-ratio goes
    through the 1e-9-shifted round into DECIMAL(14,6), the per-doc sum
    runs on the exact decimal lattice (order-independent — a plain
    double SUM would be partition-order dependent), and ONE
    deterministic rounding hands the result back to double.

    Plan shape: one token explode feeding the vocab count (ct/cr in
    the SAME partial-combined aggregate) and the score join; the vocab
    table broadcasts under AQE; one corpus-wide per-doc aggregate.

    Output: ``(id, n_tokens, logratio)`` for non-target docs.
    """
    from ..numerics import dsum, qdec

    toks = docs.select(
        F.col(id_col).alias("id"),
        (F.col(target_col) == F.lit(target_value)).alias("_t"),
        F.explode(
            F.filter(
                F.split(F.coalesce(F.col(text_col), F.lit("")), " "),
                lambda w: w != "",
            )
        ).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("_t"), 0).otherwise(1)).alias("cr"),
    )
    totals = vocab.agg(
        F.sum("ct").alias("_tt"),
        F.sum("cr").alias("_tr"),
        F.count("*").alias("_v"),
    )
    ratio = vocab.crossJoin(F.broadcast(totals)).select(
        "tok",
        qdec(
            F.log(
                (F.col("ct") + 1).cast("double")
                / (F.col("_tt") + F.col("_v")).cast("double")
            )
            - F.log(
                (F.col("cr") + 1).cast("double")
                / (F.col("_tr") + F.col("_v")).cast("double")
            )
        ).alias("_lr"),
    )
    return (
        toks.filter(~F.col("_t"))
        .join(ratio, "tok")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_tokens"),
            dsum("_lr").alias("logratio"),
        )
    )

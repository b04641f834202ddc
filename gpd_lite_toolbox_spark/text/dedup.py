"""Deduplication operators for large text corpora.

Beyond the reference's surface (BASELINE.json north star): the operators
a 100 TB training-data pipeline needs. Everything here is NATIVE Spark
SQL expressions — md5/substring/sequence/explode/groupBy — no Python
UDFs, so the whole pipeline stays in whole-stage codegen and scales as
ordinary shuffles keyed by hash/band. Cross-engine determinism comes
from md5 (identical in Spark and DuckDB) feeding integer arithmetic.

- exact_dedup: hash-groupBy. One shuffle on a 128-bit key; at any scale
  this is the optimal plan.
- minhash_signatures/minhash_lsh_pairs: shingle -> 32-bit hash -> H
  permutation-min aggregates -> B band keys -> bucket self-join ->
  exact Jaccard verify on candidate pairs only. The band join bounds
  the candidate set (no all-pairs); the verify join is keyed by
  candidate pair. Parameters (k, stride, H, B) are compile-time
  constants so signatures are reproducible.
- simhash: token hash sign-sum per bit, 32 aggregate columns (no bit
  fan-out), fingerprint = packed sign bits.

Input contract: ONE ROW PER DOCUMENT ID. The row-local forms
(signatures, shingle/verify arrays, the exploded shingle table) emit
per input ROW — a corpus with duplicate id rows would inflate
document-frequency counts and emit duplicate signatures. Run
``exact_dedup`` / a distinct-by-id pass first if ingest can repeat
keys; this is the same contract every id-keyed operator in the
package already assumes.

Cache lifecycle (``cache``'s one rule): the pair operators return
LAZY frames that read their persisted signatures, shingle layouts and
sorted sets, which ``release_caches()`` frees; ``dup_groups``' edge
table and the index writer's signatures feed nothing returned and are
freed by ``scoped_release`` before the operator returns or raises.
"""

from __future__ import annotations

import math
import operator
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import store
from ..cache import scoped_release, tracked_persist
from ..parallelism import widen

# minhash parameters (documented constants — change = new signature space)
SHINGLE_K = 8
SHINGLE_STRIDE = 4
N_HASHES = 8
N_BANDS = 4  # rows per band = N_HASHES // N_BANDS = 2
MH_PRIME = 4294967311  # smallest prime > 2^32
# deterministic affine permutation constants (i-th hash: a*x + b mod P).
# All a < 2^30 so a*x stays under 2^62: no int64 overflow under ANSI
# arithmetic in either engine.
MH_A = [1000000007, 998244353, 985661441, 976224257,
        962592769, 950009857, 943718401, 935329793]
MH_B = [1181783497, 2466808117, 3037000499, 1103515245,
        12345, 1588635695, 3267000013, 2038074743]

# minhash-index bucket granularity: first N hex chars of the band key.
# 1 hex char = 16 buckets x 4 bands = 64 partition directories — coarse
# enough that a parquet scan is not dominated by file-open overhead at
# bench scale, fine enough that a small batch's static filter still
# prunes ~16x. (2 chars measured 4x slower ingest at sf0.1: 1024 tiny
# files of listing/footer cost for no extra pruning benefit.)
_IDX_BUCKET_HEX = 1


def _hash32(col):
    """Shared cross-engine 32-bit hash: first 8 hex chars of md5."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def exact_dedup(corpus: DataFrame, id_col: str = "id", text_col: str = "text") -> DataFrame:
    """Duplicate groups by content hash: (content_hash, n_copies,
    keep_id) for groups with >1 member; keep_id is the smallest id (the
    canonical survivor). NULL text is absence of content, not content —
    without the filter every NULL-text doc would share the
    content_hash=NULL group and be reported as copies of each other."""
    return (
        corpus.filter(F.col(text_col).isNotNull())
        .select(F.md5(text_col).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("n_copies"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


def shingles(
    corpus: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    hashed: bool = False,
) -> DataFrame:
    """Distinct character shingles per doc: (id, shingle). Native
    sequence+explode+substring; docs shorter than K yield the whole
    text as a single shingle.

    ``hashed=True`` maps each shingle to a 60-bit integer (first 15
    hex chars of its md5) BEFORE the distinct, so every downstream
    exchange/join/array carries 8-byte longs instead of strings. Both
    engines compute the identical digest, so cross-engine agreement is
    exact even in the (astronomically unlikely) event of a prefix
    collision — the collision merges the same two shingles on both
    sides."""
    # Per-doc dedup happens ROW-LOCALLY (array_distinct inside the
    # shingle-array expression) before the explode, so no distinct
    # aggregation runs anywhere — the one repartition exists purely to
    # hand shingle-keyed consumers their layout: the dictionary joins
    # of the decontamination operators inherit hash(shingle)
    # co-location for free.
    arr = (
        shingle_array_expr(text_col)
        if hashed
        else shingle_str_array_expr(text_col)
    )
    return (
        widen(corpus)
        .select(
            F.col(id_col).alias("id"), F.explode(arr).alias("shingle")
        )
        .repartition("shingle")
    )


def shingle_str_array_expr(text_col: str) -> "F.Column":
    """Row-LOCAL distinct STRING-shingle array — the unhashed sibling
    of ``shingle_array_expr``, with the identical position sequence, so
    per-doc sets equal ``shingles(corpus)``'s (id, shingle) groups."""
    return F.expr(
        f"""
        array_distinct(transform(
          sequence(1, greatest(length({text_col}) - {SHINGLE_K - 1}, 1),
                   {SHINGLE_STRIDE}),
          p -> substring({text_col}, p, {SHINGLE_K})))
        """
    )


def minhash_sig_expr(text_col: str) -> "F.Column":
    """Row-LOCAL minhash signature: a struct h0..h{N-1}, computed as
    ONE fold over the doc's distinct-shingle array — the md5 for each
    shingle is evaluated once (it binds to the fold's lambda variable,
    not re-derived per permutation), and all N permutation minimums
    advance together in the accumulator struct.

    Same arithmetic, term for term, as the former exploded-table
    aggregation (min over (a*hv + b) mod P), so signatures —
    and every oracle downstream of them — are bit-identical. The win
    is plan shape: the per-doc signature needs NO exchange at all
    (previously: a shingle-table repartition + distinct, then an
    8-way min aggregation shuffled by id). Streaming-legal for the
    same reason as ``shingle_array_expr``: a stateless projection."""
    hv_arr = F.transform(
        shingle_str_array_expr(text_col),
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint"),
    )
    init = F.struct(
        *[
            F.lit(MH_PRIME).cast("bigint").alias(f"h{i}")
            for i in range(N_HASHES)
        ]
    )

    def _merge(acc, h):
        return F.struct(
            *[
                F.least(
                    acc[f"h{i}"],
                    (F.lit(MH_A[i]) * h + F.lit(MH_B[i])) % F.lit(MH_PRIME),
                ).alias(f"h{i}")
                for i in range(N_HASHES)
            ]
        )

    # NULL text must yield a NULL signature, as the exploded-table
    # aggregation did (min over a NULL hv is NULL). Without this mask
    # the fold's least() would skip the NULL term and leave the
    # MH_PRIME sentinel in every slot — giving all NULL-text docs one
    # IDENTICAL signature that sails through the band join and the
    # prefilter as a jaccard-1.0 "duplicate" of every other NULL doc.
    null_struct = F.lit(None).cast(
        "struct<" + ",".join(f"h{i}:bigint" for i in range(N_HASHES)) + ">"
    )
    return F.when(F.col(text_col).isNull(), null_struct).otherwise(
        F.aggregate(hv_arr, init, _merge)
    )


def minhash_signatures(
    corpus: DataFrame, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """Per-doc minhash signature: one row per doc, h0..h{N-1} columns.
    The signature itself is a zero-shuffle projection (see
    ``minhash_sig_expr``); ``widen`` may prepend one document-sized
    round-robin exchange when the input scan is narrower than the
    core count (never on wide or streaming inputs). Two chained
    selects on purpose: the struct is an expensive expression
    referenced once per field, and CollapseProject declines to merge
    projects that would duplicate a non-cheap expression — so the fold
    runs once per row, not once per extracted field."""
    staged = widen(corpus).select(
        F.col(id_col).alias("id"), minhash_sig_expr(text_col).alias("_sig")
    )
    return staged.select(
        "id",
        *[F.col("_sig")[f"h{i}"].alias(f"h{i}") for i in range(N_HASHES)],
    )


def minhash_band_keys(sig: DataFrame, carry_sig: bool = False) -> DataFrame:
    """(id, band, band_key): band_key is the md5 of the band's hash
    concat — a fixed-width join key that cannot overflow. Emitted by a
    single explode rather than a B-way union: the union form
    re-evaluated the signature subtree once per branch (and per join
    side), turning one shingle aggregation into up to 2B of them.

    ``carry_sig=True`` appends the h0..h{N-1} signature columns to
    every band row — the standard LSH-index tuple — so a downstream
    signature prefilter reads them off the band-join rows instead of
    re-joining (and re-evaluating) the signature table per side.

    NULL signatures (NULL-text docs) emit NO bands: concat_ws skips
    NULL columns, so without the filter every NULL doc would share the
    constant md5('') key in every band — an O(n_null^2) candidate
    blowup through the self-join before the prefilter kills it."""
    rows = N_HASHES // N_BANDS
    sig = sig.filter(F.col("h0").isNotNull())
    structs = []
    for b in range(N_BANDS):
        cols = [F.col(f"h{b * rows + r}").cast("string") for r in range(rows)]
        structs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("_", *cols)).alias("band_key"),
            )
        )
    extra = [f"h{i}" for i in range(N_HASHES)] if carry_sig else []
    return sig.select(
        "id", *extra, F.explode(F.array(*structs)).alias("_bb")
    ).select("id", *extra, "_bb.band", "_bb.band_key")


def minhash_lsh_pairs(
    corpus: DataFrame,
    threshold: float = 0.5,
    id_col: str = "id",
    text_col: str = "text",
    bucket_cap: int | None = None,
    sig: DataFrame | None = None,
    verify_sets: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs: band-bucket candidates, a SIGNATURE
    prefilter, then exact Jaccard over distinct shingle sets on the
    survivors. Output (id_a, id_b, jaccard) with id_a < id_b and
    jaccard >= threshold.

    The prefilter keeps a candidate only when its signature-estimated
    Jaccard — the fraction of its N_HASHES minhashes that agree — is
    at least the threshold (est >= ceil(threshold * N_HASHES)). At the
    band parameters H=8/B=4 the bucket join admits ~10x false
    candidates near threshold 0.5; the estimate disqualifies ~90% of
    them before the (expensive) shingle-expansion verify join. Like
    the band join itself this step is probabilistic on RECALL (a true
    pair whose signature under-samples its similarity can be pruned;
    for J >= 0.5 the miss rate is P(Bin(6, J) < 2) =~ 1.6%, vanishing
    as J grows), while emitted pairs remain exactly verified."""
    # sig feeds the band join (both sides) and the prefilter (both
    # sides): persist the doc-sized table instead of re-running the
    # per-row signature fold (md5 per shingle) per consumer. The
    # shingle TABLE no longer exists in this operator at all — both
    # the signatures and the verify sets are row-local projections.
    # ``sig`` passes a precomputed minhash_signatures table
    # (substrate.read_substrate 'minhash_sigs') so a day-2 run pays
    # only the band/verify exchanges, not the per-doc md5 fold.
    if sig is None:
        sig = tracked_persist(
            minhash_signatures(corpus, id_col=id_col, text_col=text_col)
        )
    # The signatures RIDE the band join (h0..h{N-1} carried through
    # the band explode) instead of re-joining onto the candidate pairs
    # later: the prefilter then evaluates INLINE on the collision rows
    # — BEFORE the distinct, so disqualified collisions never reach
    # the pair exchange — and the operator evaluates the signature
    # fold exactly twice (the two join sides) rather than four times.
    # Exchange width grows by N_HASHES longs per band row (the
    # standard LSH-index tuple, bounded per doc by B x sig width);
    # output pairs are identical: est is per-signature, so for a pair
    # colliding in several bands every row carries the same est and
    # filter-then-distinct == distinct-then-filter.
    # ``bucket_cap`` is the degenerate-bucket guard: a bucket of n
    # members emits n(n-1)/2 candidate rows, so one pathological key
    # (a boilerplate doc repeated a million times that exact_dedup
    # should have removed) is dropped by the kernel's map-side cap; a
    # true pair can still surface through any of its other B-1
    # bands. Default None = exact semantics.
    cand = (
        _key_pairs(
            minhash_band_keys(sig, carry_sig=True),
            ["band", "band_key"],
            carry=[f"h{i}" for i in range(N_HASHES)],
            cap=bucket_cap,
        )
        .filter(_sig_agrees(threshold))
        .select("id_a", "id_b")
        .distinct()
    )
    # exact verify WITHOUT re-expanding shingle sets per pair: each
    # doc's distinct shingle set is a ROW-LOCAL sorted array (same
    # semantics as the former collect_set over the shingle table, with
    # zero exchanges to build it), and the intersection is a native
    # array_intersect on the surviving candidates (``_verify``).
    # ``verify_sets`` passes the precomputed (id, _ss) sorted
    # string-shingle table (substrate 'minhash_verify_sets'): with
    # both it and ``sig`` supplied the operator never reads the raw
    # text at all — the day-2 substrate contract.
    sets_ = verify_sets
    if sets_ is None:
        # persisted since round 10: the sets table feeds BOTH verify
        # sides, so unpersisted the per-doc sort+fold ran twice (a
        # candidate-id semi-join restricting the fold to pair members
        # was tried instead and REJECTED: it saves fold work but adds
        # a distinct + semi-join + pair-table persist — measured
        # ~+1 s/query at sf0.1 where the fold itself costs 0.25 s;
        # at index scale the substrate path passes verify_sets anyway)
        sets_ = tracked_persist(
            widen(corpus).select(
                F.col(id_col).alias("id"),
                F.array_sort(
                    shingle_str_array_expr(text_col)
                ).alias("_ss"),
            )
        )
    return (
        _verify(cand, sets_.select("id", "_ss"))
        .withColumn("jaccard", F.round(_jaccard(), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _key_pairs(
    postings: DataFrame,
    keys: list[str],
    carry: tuple[str, ...] | list[str] = (),
    cap: int | None = None,
) -> DataFrame:
    """The near-duplicate family's one candidate-pair kernel. From a
    posting table ``(id, *keys, *carry)`` it returns one row
    ``(id_a, id_b, *carry_a, *carry_b)`` per key two postings share,
    with ``id_a < id_b``; carried column ``c`` comes back as ``c_a``
    and ``c_b``. There is no distinct: a pair that shares several keys
    appears once per key, and each caller ends with its own step (a
    distinct, an ``n_shared`` count, a filter on the carried columns).

    Without a cap the pairs come from a self-join on the keys, the one
    form that is valid for a key of any size: no row ever holds a
    key's whole postings list.

    ``cap`` drops every key with more than ``cap`` postings. The count
    is a map-side ``groupBy`` joined back: a hot key reduces to one
    partial count per map task before any exchange, and the hot keys
    join back as a broadcast anti-join, so their postings are dropped
    where they are read and never reach an exchange keyed by the key.
    The broadcast is bounded by the cap itself: a key is hot only with
    more than ``cap`` postings, so there are fewer than postings / cap
    of them. Left to the planner, the join back was shuffled whenever
    the posting table's size was unknown (an RDD-backed or not yet
    materialized input), which gathers a hot key's postings in one
    task after all. A ``count(*) over (partition by key)`` window must
    not take its place either: it too sends every posting of a hot key
    to one task before the filter discards them, and AQE cannot split
    a window partition (``tests/test_dedup.py`` pins the largest
    task's shuffle read under a planted hot key).

    A kept key then holds at most ``cap`` postings, so its list is one
    bounded row: the capped pairs expand row-locally out of one
    ``collect_list`` per key instead of the self-join, which measured
    slower on the capped sf0.1 queries (``ngram_jaccard``,
    ``ngram_containment``, ``winnow_pairs``; CHANGES.md has the runs)."""
    keys = list(keys)
    if cap is None:

        def side(s):
            return postings.select(
                *keys,
                F.col("id").alias(f"id_{s}"),
                *[F.col(c).alias(f"{c}_{s}") for c in carry],
            )

        return (
            side("a")
            .join(side("b"), keys)
            .filter(F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                *[f"{c}_a" for c in carry],
                *[f"{c}_b" for c in carry],
            )
        )
    hot = (
        postings.groupBy(*keys)
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > int(cap))
        .select(*keys)
    )
    pairs = F.expr(
        """flatten(transform(_ps, a ->
             transform(filter(_ps, b -> a.id < b.id),
                       b -> struct(a AS a, b AS b))))"""
    )
    return (
        postings.join(F.broadcast(hot), keys, "left_anti")
        .groupBy(*keys)
        .agg(F.collect_list(F.struct("id", *carry)).alias("_ps"))
        .select(F.explode(pairs).alias("_p"))
        .select(
            F.col("_p.a.id").alias("id_a"),
            F.col("_p.b.id").alias("id_b"),
            *[F.col(f"_p.a.{c}").alias(f"{c}_a") for c in carry],
            *[F.col(f"_p.b.{c}").alias(f"{c}_b") for c in carry],
        )
    )


def _sig_agrees(threshold: float) -> "F.Column":
    """The minhash signature prefilter on a row carrying both
    signatures (``h{i}_a``, ``h{i}_b``): true when at least
    ``ceil(threshold * N_HASHES)`` of the minhashes agree, i.e. the
    signature-estimated Jaccard reaches the threshold."""
    agree = reduce(
        operator.add,
        [
            F.when(F.col(f"h{i}_a") == F.col(f"h{i}_b"), 1).otherwise(0)
            for i in range(N_HASHES)
        ],
    )
    return agree >= F.lit(math.ceil(threshold * N_HASHES))


def _verify(
    cand: DataFrame, sets_a: DataFrame, sets_b: DataFrame | None = None
) -> DataFrame:
    """The family's one exact verify: ``(id_a, id_b, na, nb, n_inter)``
    for every ``(id_a, id_b)`` candidate, where ``na``/``nb`` are the
    set sizes and ``n_inter`` the size of their intersection. The sets
    come from two-column ``(id, sorted set)`` tables: ``sets_a`` keyed
    by ``id_a`` and ``sets_b`` (default: ``sets_a``) by ``id_b``. The
    intersection is a native ``array_intersect`` of the joined arrays,
    so work scales with candidate count x set size, never with a
    pair-keyed re-expansion of the shingle table.

    The candidates are round-robined across the cluster before the
    joins. AQE sizes the exchange of a narrow (id_a, id_b) table by
    its bytes (~16 B/row) and coalesces it to a handful of partitions,
    but the cost downstream is per ROW (two array joins and an
    intersection over doc-sized sets), so unspread the verify ran
    nearly serially: measured 2.9 -> 1.2 s at sf0.1/local[32]. The
    rows are narrow, so the extra exchange stays cheap at any scale."""
    cand = cand.repartition(cand.sparkSession.sparkContext.defaultParallelism)

    def side(sets, s):
        i, arr = sets.columns
        return sets.select(
            F.col(i).alias(f"id_{s}"), F.col(arr).alias(f"_s{s}")
        )

    return (
        cand.join(side(sets_a, "a"), "id_a")
        .join(side(sets_a if sets_b is None else sets_b, "b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size("_sa").cast("long").alias("na"),
            F.size("_sb").cast("long").alias("nb"),
            F.size(F.array_intersect("_sa", "_sb")).cast("long").alias("n_inter"),
        )
    )


def _jaccard() -> "F.Column":
    """The exact Jaccard quotient of a ``_verify`` row, unrounded."""
    n = F.col("n_inter")
    return n / (F.col("na") + F.col("nb") - n).cast("double")


# the minhash index's store description (store.py): band rows keyed by
# the (band, bucket) a probe prunes to, and one docs row per id
MINHASH_INDEX = {
    "bands": store.Part(("band", "bucket")),
    "docs": store.Part(id_col="id"),
}


def write_minhash_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "id",
    text_col: str = "text",
) -> None:
    """Persist the minhash-LSH index of a corpus so later ingest
    batches dedup against it WITHOUT re-pairing the whole corpus —
    the day-2 shape of near-dup dedup at 100 TB (the one-shot
    ``minhash_lsh_pairs`` is the bootstrap form).

    A ``store.py`` store with two parts, committed together:
      ``bands``: (id, band_key, band, bucket) partitioned by
        (band, bucket) — bucket is the first ``_IDX_BUCKET_HEX`` hex
        chars of the band key (16 per band), so an ingest batch's
        candidate lookup
        reads only the partitions its own band keys land in (static
        partition filter, same discipline as ann_ivf_topk_indexed);
      ``docs``: (id, h0..h{N-1}, shingle_set) — everything the
        signature prefilter and the exact-Jaccard verify need, so
        ingest NEVER touches the original corpus text.
    """
    _write_minhash_index(corpus, path, False, id_col, text_col)


def append_to_minhash_index(
    batch: DataFrame,
    path: str,
    id_col: str = "id",
    text_col: str = "text",
) -> None:
    """Admit an ingest batch into the persisted index — the step after
    ``ingest_near_dups`` decided which batch documents survive dedup.
    The batch's band and docs rows commit together as one store batch
    that only adds files. A retried append of the same batch is a
    no-op; ids another batch already committed raise ``ValueError``."""
    _write_minhash_index(batch, path, True, id_col, text_col)


def _write_minhash_index(
    corpus: DataFrame, path: str, append: bool, id_col: str, text_col: str
) -> None:
    with scoped_release():
        sig = tracked_persist(minhash_signatures(corpus, id_col, text_col))
        bands = minhash_band_keys(sig).withColumn(
            "bucket", F.substring("band_key", 1, _IDX_BUCKET_HEX)
        )
        docs = sig.join(
            widen(corpus).select(
                F.col(id_col).alias("id"),
                F.array_sort(shingle_str_array_expr(text_col)).alias(
                    "shingle_set"
                ),
            ),
            "id",
        )
        parts = {"bands": bands, "docs": docs}
        if append:
            store.append(path, MINHASH_INDEX, corpus, parts, id_col)
        else:
            store.write(path, MINHASH_INDEX, parts)


def ingest_near_dups(
    spark,
    path: str,
    batch: DataFrame,
    threshold: float = 0.5,
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate pairs between an ingest ``batch`` and the corpus
    behind a ``write_minhash_index`` index: (id_a, id_b, jaccard) with
    id_a < id_b, jaccard >= threshold — exactly the cross-membership
    subset of what ``minhash_lsh_pairs`` would report on the combined
    corpus (same bands, same signature prefilter, same exact verify),
    for the cost of the BATCH, not the corpus.

    Contract: batch ids are disjoint from index ids (same unique-id
    contract as the rest of the module); in-batch duplicates are the
    batch's own ``minhash_lsh_pairs`` run. Index documents that carry
    a batch id (the batch itself, once admitted) are never candidates,
    so probing a batch again after admitting it returns the same pairs.
    A never-written index is the day-1 empty state: no pairs.

    Scale: the batch's (band, bucket) set — at most B x 16 values
    at the default ``_IDX_BUCKET_HEX``, typically fewer — is collected into a static partition filter,
    so the bands scan shows ``PartitionFilters`` and reads only the
    buckets the batch can collide with; the docs table is read only
    for prefilter/verify joins keyed by candidate id.
    """
    # before any persist: the day-1 empty return persists nothing
    idx_bands = store.read(spark, path, "bands", missing_ok=True)
    if idx_bands is None:
        return batch.select(
            F.col(id_col).alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit(0.0).alias("jaccard"),
        ).limit(0)
    # the batch's (id, text) projection is consumed TWICE per run —
    # the signature fill below and the exact-verify shingle sets
    # (sets_n) — and the batch is typically an upstream filter/union
    # lineage that would otherwise re-scan per consumer (round 11,
    # the r10 "Not yet optimized" item; guide §5).  Widened once here
    # so both folds run at full task width and the persisted layout
    # is already wide.
    bt = tracked_persist(
        widen(batch).select(F.col(id_col), F.col(text_col))
    )
    sig_n = tracked_persist(
        minhash_signatures(bt, id_col=id_col, text_col=text_col)
    )
    bands_n = minhash_band_keys(sig_n).withColumn(
        "bucket", F.substring("band_key", 1, _IDX_BUCKET_HEX)
    )
    probed = (
        bands_n.select("band", "bucket").distinct().collect()
    )
    by_band: dict[int, list[str]] = {}
    for r in probed:
        by_band.setdefault(r.band, []).append(r.bucket)
    if by_band:
        cond = reduce(
            operator.or_,
            [
                (F.col("band") == b) & F.col("bucket").isin(buckets)
                for b, buckets in sorted(by_band.items())
            ],
        )
        idx_bands = idx_bands.filter(cond)
    else:  # empty/NULL-only batch: nothing can collide
        idx_bands = idx_bands.filter(F.lit(False))
    cand = (
        bands_n.select(F.col("id").alias("new_id"), "band", "bucket", "band_key")
        .join(
            idx_bands.select(
                F.col("id").alias("idx_id"), "band", "bucket", "band_key"
            ),
            ["band", "bucket", "band_key"],
        )
        .select("new_id", "idx_id")
        .distinct()
        .join(bt.select(F.col(id_col).alias("idx_id")), "idx_id", "left_anti")
    )
    docs = store.read(spark, path, "docs")
    sig_a = sig_n.select(
        F.col("id").alias("new_id"),
        *[F.col(f"h{i}").alias(f"h{i}_a") for i in range(N_HASHES)],
    )
    sig_b = docs.select(
        F.col("id").alias("idx_id"),
        *[F.col(f"h{i}").alias(f"h{i}_b") for i in range(N_HASHES)],
    )
    cand = (
        cand.join(sig_a, "new_id")
        .join(sig_b, "idx_id")
        .filter(_sig_agrees(threshold))
        .select(F.col("new_id").alias("id_a"), F.col("idx_id").alias("id_b"))
    )
    sets_n = bt.select(
        id_col, F.array_sort(shingle_str_array_expr(text_col)).alias("_ss")
    )
    return (
        _verify(cand, sets_n, docs.select("id", "shingle_set"))
        .withColumn("jaccard", F.round(_jaccard(), 6))
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "jaccard",
        )
    )


def embedding_near_dups(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
    dims: int | None = None,
    bucket_cap: int = 1024,
    max_pairs: int = 100_000_000,
    force: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) with
    id_a < id_b and cosine >= threshold.

    Default path prunes candidates with the banded hyperplane LSH
    (vector/ann.py) before scoring — the 100 TB shape. ``exact=True``
    scores all pairs (|N|^2; the cross-check baseline for bounded
    corpora only — never the shape to deploy), and is GUARDED the same
    way as ``cosine_topk`` (vector/ann.py): a corpus whose pair count
    n*(n-1)/2 exceeds ``max_pairs`` raises unless ``force=True``, so
    trusting the flag on a real corpus cannot silently launch an
    unbounded cartesian product (round-6 VERDICT item 2). The guard
    runs one count job over ``vectors``; cache the input or pass
    ``force=True`` to stay fully lazy. ``dims`` skips the
    one-row schema probe when the embedding width is known.

    Recall is threshold-dependent: sign-LSH collision probability per
    plane is 1 - theta/pi, so at production near-dup thresholds
    (cosine >= 0.9) a 4x4-band scheme recalls ~99.8% of true pairs,
    while at weak thresholds (0.45, used by the fixture oracle so the
    output is non-empty) recall is ~60% — tested against the exact
    path in tests/test_pipeline_ops.py. The driver oracle mirrors
    the LSH candidate generation exactly (deterministic md5-derived
    planes), so the gate checks cross-engine equivalence of THIS
    algorithm, and the exact-path cross-check pins its recall.

    The LSH path scores BUCKET-LOCALLY: vectors group by (band,
    bucket) and one Arrow kernel per bucket computes the Gram matrix
    with a dims-sequential rank-1-update loop — the exact accumulation
    order of the scoring fold the oracle mirrors, so values are
    bit-identical — and emits only near-threshold pairs; the exact
    rounded-threshold filter and the cross-band pair dedup then run
    natively on the (tiny) survivor set. This ships each vector B
    times instead of once per candidate pair (the join-then-score
    form moved ~30x more bytes into Python and paid a |candidates|
    distinct shuffle first). Per-bucket work is O(|bucket|^2), so a
    degenerate bucket (zero vectors, template embeddings) is guarded
    by ``bucket_cap``: any bucket with n > cap is hash-split into
    B = ceil(n/cap) blocks and its pair work decomposed into the
    B(B+1)/2 block-pair tasks — every unordered pair lands in exactly
    one task ((blk_x, blk_y) sorted), each task sees <= 2*cap rows,
    and the O(n^2) work parallelizes instead of serializing one
    executor. Rows replicate B times, i.e. only hot buckets pay; for
    n <= cap the single task (0, 0) is byte-identical to the uncapped
    plan. The block Gram kernel accumulates dims-sequentially like
    the fold, so capped and uncapped values are bit-identical
    (planted-hot-bucket parity is pytest-pinned).
    """
    from ..vector.ann import _cosine_col, _norm_col, lsh_bands
    from pyspark.sql import functions as FF

    if exact:
        if not force:
            n_v = vectors.count()
            pairs = n_v * (n_v - 1) // 2
            if pairs > max_pairs:
                raise ValueError(
                    f"embedding_near_dups(exact=True) is the brute-force "
                    f"cross-check baseline: {n_v} vectors = {pairs} "
                    f"unordered pairs exceeds max_pairs={max_pairs}. "
                    f"Use the default LSH path at this scale, or pass "
                    f"force=True."
                )
        v = vectors.select(
            FF.col(id_col).alias("id"), FF.col(vec_col).alias("v")
        ).withColumn("n", _norm_col(FF.col("v"), dims))
        a = v.select(
            FF.col("id").alias("id_a"),
            FF.col("v").alias("va"),
            FF.col("n").alias("na"),
        )
        b = v.select(
            FF.col("id").alias("id_b"),
            FF.col("v").alias("vb"),
            FF.col("n").alias("nb"),
        )
        cand = a.crossJoin(b).filter(FF.col("id_a") < FF.col("id_b"))
        return (
            cand.select(
                "id_a",
                "id_b",
                _cosine_col(
                    FF.col("va"), FF.col("vb"), FF.col("na"), FF.col("nb"), dims
                ).alias("cosine"),
            )
            .filter(FF.col("cosine") >= threshold)
        )

    import numpy as np
    import pandas as pd

    if dims is None:
        # probe a NON-NULL row: an arbitrary first row may carry a
        # NULL vector, and len(None) raises instead of a clear answer
        first = (
            vectors.select(vec_col)
            .filter(FF.col(vec_col).isNotNull())
            .first()
        )
        dims = 1 if first is None else len(first[0])
    n_dims = dims
    # raw >= threshold - 1e-6 inside the kernel is a SUPERSET of the
    # exact native filter round(cos, 6) >= threshold (any pair passing
    # the rounded filter has raw >= threshold - 5e-7), so the margin
    # never drops a row the oracle keeps.
    raw_cut = threshold - 1e-6

    # the empty-batch dtype must track the id type (string ids are
    # legal): an int64-typed empty frame fails Arrow conversion when
    # the declared schema says string
    _idt = vectors.schema[id_col].dataType.simpleString()
    _id_np = "object" if _idt == "string" else "int64"
    _empty = {
        "id_a": pd.Series(dtype=_id_np),
        "id_b": pd.Series(dtype=_id_np),
        "dot": pd.Series(dtype="float64"),
        "na": pd.Series(dtype="float64"),
        "nb": pd.Series(dtype="float64"),
    }

    def _sorted_side(pdf: pd.DataFrame):
        order = np.argsort(pdf["id"].to_numpy(), kind="stable")
        ids = pdf["id"].to_numpy()[order]
        V = np.vstack(pdf["v"].to_numpy()[order]).astype(np.float64)
        # per-row self-dot accumulated dim-sequentially: the same
        # operations, in the same order, as the diag of the rank-1
        # Gram updates and as the _norm fold — bit-identical norms.
        s = np.zeros(len(ids), dtype=np.float64)
        for d in range(n_dims):
            s += V[:, d] * V[:, d]
        return ids, V, np.sqrt(s)

    def _score_task(pdf: pd.DataFrame) -> pd.DataFrame:
        ta = int(pdf["_ta"].iloc[0])
        tb = int(pdf["_tb"].iloc[0])
        if ta == tb:  # within-block pairs (the only task when B == 1)
            if len(pdf) < 2:
                return pd.DataFrame(_empty)
            ids, V, norms = _sorted_side(pdf)
            n = len(ids)
            G = np.zeros((n, n), dtype=np.float64)
            for d in range(n_dims):  # sequential over dims == the fold
                col = V[:, d : d + 1]
                G += col * col.T
            iu, ju = np.triu_indices(n, k=1)
            dots = G[iu, ju]
            na_, nb_ = norms[iu], norms[ju]
            ia, ib = ids[iu], ids[ju]
        else:  # cross-block pairs of a capped (hot) bucket
            pa = pdf[pdf["_blk"] == ta]
            pb = pdf[pdf["_blk"] == tb]
            if len(pa) == 0 or len(pb) == 0:
                return pd.DataFrame(_empty)
            ids_a, VA, norms_a = _sorted_side(pa)
            ids_b, VB, norms_b = _sorted_side(pb)
            G = np.zeros((len(ids_a), len(ids_b)), dtype=np.float64)
            for d in range(n_dims):
                G += VA[:, d : d + 1] * VB[:, d : d + 1].T
            dots = G.ravel()
            ia = np.repeat(ids_a, len(ids_b))
            ib = np.tile(ids_b, len(ids_a))
            na_ = np.repeat(norms_a, len(ids_b))
            nb_ = np.tile(norms_b, len(ids_a))
            swap = ia > ib  # emit id_a < id_b (dot/norm product symmetric)
            ia, ib = np.where(swap, ib, ia), np.where(swap, ia, ib)
            na_, nb_ = (
                np.where(swap, nb_, na_),
                np.where(swap, na_, nb_),
            )
        keep = dots / (na_ * nb_) >= raw_cut
        return pd.DataFrame(
            {"id_a": ia[keep], "id_b": ib[keep],
             "dot": dots[keep], "na": na_[keep], "nb": nb_[keep]}
        )

    cap = max(2, int(bucket_cap))
    bands = lsh_bands(vectors, id_col, vec_col, dims=dims)
    # bucket sizes from the vector-free band table: one row per
    # OCCUPIED (band, bucket) — joined back WITHOUT a broadcast hint
    # (the table is corpus-sized in the worst case of singleton
    # buckets; AQE broadcasts it when it is actually small). Either
    # way the hot bucket never funnels its vectors through a single
    # counting partition.
    sizes = bands.groupBy("band", "bucket").agg(FF.count("*").alias("_n"))
    with_vec = (
        bands.join(
            vectors.select(
                FF.col(id_col).alias("id"), FF.col(vec_col).alias("v")
            ),
            "id",
        )
        .join(sizes, ["band", "bucket"])
        .withColumn(
            "_B", FF.ceil(FF.col("_n") / FF.lit(cap)).cast("int")
        )
        .withColumn("_blk", FF.pmod(FF.xxhash64("id"), FF.col("_B")).cast("int"))
        # a row in block b joins task (min(i,b), max(i,b)) for every
        # block i: task (ta, tb) then holds exactly blocks ta and tb,
        # and each unordered pair appears in exactly one task.
        .withColumn(
            "_task",
            FF.explode(
                FF.expr(
                    "transform(sequence(0, _B - 1),"
                    " i -> struct(least(i, _blk) AS ta,"
                    "             greatest(i, _blk) AS tb))"
                )
            ),
        )
        .select(
            "band", "bucket", "id", "v", "_blk",
            FF.col("_task.ta").alias("_ta"),
            FF.col("_task.tb").alias("_tb"),
        )
    )
    # the pair schema follows the input id type (string ids are legal
    # elsewhere in the engine; a hardcoded bigint would crash Arrow
    # conversion where the exact=True path of this same API works)
    scored = with_vec.groupBy("band", "bucket", "_ta", "_tb").applyInPandas(
        _score_task,
        f"id_a {_idt}, id_b {_idt}, dot double, na double, nb double",
    )
    return (
        scored.select(
            "id_a",
            "id_b",
            FF.round(
                FF.col("dot") / (FF.col("na") * FF.col("nb")), 6
            ).alias("cosine"),
        )
        .filter(FF.col("cosine") >= threshold)
        .distinct()  # the same pair can surface from several bands
    )


def ngram_doc_sets(
    corpus: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    set_expr=None,
) -> DataFrame:
    """The n-gram pair family's shared substrate: per-doc SORTED
    distinct hashed-shingle set + size, ``(id, _fs, n_sh)`` — one
    md5 shingling pass over the corpus that every phase of every
    family member derives from (candidate explode, prefix slice,
    verify arrays).  Callers persist it (``cache.tracked_persist``)
    and pass it to ``ngram_jaccard_pairs`` / ``ngram_jaccard_prefix_
    pairs`` via ``sets=`` so the corpus-scale shingling runs ONCE per
    batch instead of once per phase per operator.  ``set_expr`` swaps
    the set definition (containment passes word n-grams).

    Measured cost anatomy at sf0.1 (for future tuning): the fold
    itself is ~0.4 s; the persist's columnar cache WRITE of the array
    column is the larger share (~1.6 s) — but an A/B against
    recomputing the fold per consumer (3 consumers in the jaccard
    shape) still favors the persist, and an Arrow-kernel fold was
    measured 2x SLOWER than the expression (Arrow transfer overhead
    dominates md5 at this row count), so the expression+persist shape
    is the deliberate optimum, not an accident."""
    if set_expr is None:
        set_expr = shingle_array_expr
    return widen(corpus).select(
        F.col(id_col).alias("id"),
        F.array_sort(set_expr(text_col)).alias("_fs"),
    ).withColumn("n_sh", F.size("_fs").cast("bigint"))


def _sets_exploded(sets: DataFrame) -> DataFrame:
    """(id, shingle) posting table derived from the shared sets table:
    explode of the (already distinct) per-doc array, minus the second
    md5 fold over the corpus that ``shingles()`` would cost. It is NOT
    repartitioned by shingle: ``_key_pairs``' cap must see a hot
    shingle's postings map-side, before any exchange sends them to one
    task.

    explode_OUTER + isnotnull, not plain explode, deliberately: a
    plain ``explode(_fs)`` makes Catalyst push its implicit
    ``size(_fs) > 0`` pruning predicate BELOW the sets projection,
    re-inlining the entire md5 shingle fold into a Filter that runs a
    second time per row — and on the narrow pre-widen partitions
    (measured 8x on the containment path: 6.1 -> 0.8 s at sf0.1 when
    the sets table is not materialized). explode_outer generates no
    pushable predicate; the null rows of empty sets drop in a cheap
    Filter ABOVE the Generate, and the fold stays evaluated once."""
    return sets.select("id", F.explode_outer("_fs").alias("shingle")).filter(
        F.col("shingle").isNotNull()
    )


def ngram_jaccard_pairs(
    corpus: DataFrame,
    threshold: float = 0.5,
    max_df: int | None = None,
    id_col: str = "id",
    text_col: str = "text",
    sets: DataFrame | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard near-duplicate pairs: (id_a, id_b, jaccard)
    with id_a < id_b and jaccard >= threshold — the deterministic
    sibling of minhash_lsh_pairs (same shingle space, no probabilistic
    candidate loss).

    Two phases, both plain shuffles:
    1. candidates — DISTINCT pairs sharing >= 1 shingle, from the
       inverted index of ``_key_pairs``. ``max_df`` is the scale
       lever: one stop-shingle shared by 1M docs is a 10^12-row
       join blowup, and a true near-dup pair at any useful threshold
       shares many shingles, so dropping the shingles in more than
       ``max_df`` docs (the kernel's map-side cap) leaves the pair
       reachable through its rare ones.
    2. verify — exact Jaccard as a map-side ``array_intersect`` over
       the candidates' FULL per-doc shingle-set arrays (``_verify``).
       Work scales with candidate count x set size, never |corpus|^2
       or a pair-keyed re-expansion of the shingle table. This
       replaced the earlier split accounting (rare intersection from
       the join's group count + a common-set array intersect + a
       separate sizes aggregate): one fewer aggregate exchange, two
       fewer joins, the same 252k-candidate hash identical at sf0.1
       and ~20% less wall.

    With max_df=None the output is exhaustively exact (phase 1 simply
    indexes every shingle). Reference scope: an extension beyond
    gpd_lite_toolbox (BASELINE.json north star: LLM-pipeline dedup
    family).

    ``sets``: a pre-persisted ``ngram_doc_sets`` table to share the
    one corpus-scale md5 fold across BOTH phases here and across the
    family's other members in the same batch; None builds (and
    tracked-persists) it internally.
    """
    # hashed shingles: every exchange/join/array below carries longs
    # (see shingles docstring for the cross-engine exactness argument)
    if sets is None:
        sets = tracked_persist(ngram_doc_sets(corpus, id_col, text_col))
    cand = _key_pairs(_sets_exploded(sets), ["shingle"], cap=max_df).distinct()
    return (
        _verify(cand, sets.select("id", "_fs"))
        .withColumn("jaccard", F.round(_jaccard(), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


SIMHASH_BITS = 32


def simhash(corpus: DataFrame, id_col: str = "id", text_col: str = "text") -> DataFrame:
    """32-bit SimHash over whitespace tokens (multiset): per bit, sum
    +1/-1 by token-hash bit value; fingerprint packs the sign bits.
    All 32 bit-sums are aggregate columns — no row fan-out."""
    toks = corpus.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).withColumn("th", _hash32(F.col("tok")))
    aggs = [
        F.sum(
            (F.floor(F.col("th") / F.lit(1 << b)) % 2) * 2 - 1
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    sums = toks.groupBy("id").agg(*aggs)
    fp = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return sums.select("id", fp.cast("bigint").alias("simhash"))


def dup_groups(
    corpus: DataFrame,
    id_col: str = "id",
    threshold: float = 0.5,
    pairs: DataFrame | None = None,
    max_iter: int = 20,
    text_col: str = "text",
    strict: bool = False,
) -> DataFrame:
    """Duplicate CLUSTERS from near-duplicate pairs: connected
    components of the pair graph, labeled by the component's minimum
    id. Pairs are only the intermediate product of dedup — a real
    ingest pipeline keeps ``id == group_id`` (one representative per
    cluster) and drops the rest; ``group_size`` feeds repetition-rate
    accounting. Every document appears (singletons included).

    Components are closed by iterative min-label propagation: each
    round every node takes the min of its own label and its
    neighbors'; convergence needs diameter(G) rounds. Near-dup
    clusters are dense (a hub duplicate links its variants), so the
    diameter is small — 2-3 rounds in practice, ``max_iter`` bounds
    pathological chains. At 100 TB each round is one groupBy shuffle
    on the edge table plus a label join; the per-round convergence
    count is a cheap required action (same pattern as GraphFrames'
    connected components, which alternates the same join). The label
    frame is re-persisted per round and lineage stays flat (each round
    reads the previous materialized labels, not a growing plan).

    Oracle independence: the DuckDB gate closes components with a
    recursive-CTE reachability walk, not label propagation — the two
    derivations only agree if the component semantics are right.

    ``strict=True`` raises instead of warning when ``max_iter`` rounds
    leave labels still moving: known-incomplete clusters silently
    flowing into the keep-one-representative rule downstream means a
    dedup pass that KEEPS duplicates, which a strict pipeline should
    fail on rather than log.
    """
    if pairs is None:
        pairs = minhash_lsh_pairs(
            corpus, threshold=threshold, id_col=id_col, text_col=text_col
        )
    with scoped_release():  # nothing returned reads the edge table
        edges = tracked_persist(
            pairs.select(
                F.col("id_a").alias("src"), F.col("id_b").alias("dst")
            ).unionByName(
                pairs.select(
                    F.col("id_b").alias("src"), F.col("id_a").alias("dst")
                )
            )
        )
        # eager localCheckpoint per round: the label frame restarts from a
        # materialized partition set each iteration, so the logical plan
        # (and driver heap) stays flat no matter how many rounds a long
        # chain needs — the GraphFrames connected-components discipline
        labels = (
            corpus.select(F.col(id_col).alias("id"))
            .distinct()
            .withColumn("group_id", F.col("id"))
            .localCheckpoint()
        )
        for _ in range(max_iter):
            nbr = (
                edges.join(
                    labels.select(
                        F.col("id").alias("src"),
                        F.col("group_id").alias("lbl"),
                    ),
                    "src",
                )
                .groupBy("dst")
                .agg(F.min("lbl").alias("nbr_min"))
                .withColumnRenamed("dst", "id")
            )
            stepped = (
                labels.join(nbr, "id", "left")
                .select(
                    "id",
                    F.least(
                        F.col("group_id"),
                        F.coalesce(F.col("nbr_min"), F.col("group_id")),
                    ).alias("group_id"),
                    (F.col("nbr_min") < F.col("group_id")).alias("_chg"),
                )
                .localCheckpoint()
            )
            changed = stepped.filter("_chg").count()
            labels = stepped.drop("_chg")
            if changed == 0:
                break
        else:
            # exhausting max_iter with labels still moving means some
            # nodes carry non-minimal group ids: the keep-id==group_id
            # rule would then keep several representatives of one true
            # cluster. Loud, not silent — and fatal under strict.
            msg = (
                f"dup_groups did not converge within max_iter={max_iter}"
                f" rounds ({changed} labels still changing) — a pair"
                " chain longer than max_iter exists; raise max_iter"
            )
            if strict:
                raise RuntimeError(msg)
            import warnings

            warnings.warn(msg, stacklevel=2)
    sizes = labels.groupBy("group_id").agg(
        F.count("*").alias("group_size")
    )
    return labels.join(sizes, "group_id").select(
        "id", "group_id", F.col("group_size").cast("bigint").alias("group_size")
    )


def cc_star(
    edges: DataFrame,
    max_iter: int = 25,
    strict: bool = True,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond"): returns ``(id, group_id)`` for every node that appears
    in ``edges`` (``src``/``dst`` long columns), ``group_id`` = the
    component's minimum node id.

    Why a second component finder: ``dup_groups``' min-label
    propagation needs diameter(G) rounds — fine for dense near-dup
    cliques (diameter 2-3), quadratic-total-work on a long chain. The
    star operators contract paths onto the component minimum in
    O(log^2 n) rounds REGARDLESS of diameter, which is the shape a
    100 TB pair graph with accidental chains (A~B~C chains of
    borderline near-dups) needs:

    - large-star(u): connect every neighbor v > u to
      m = min(N(u) + {u});
    - small-star(u): orient edges to (big, small); connect every
      smaller neighbor and u itself to m = min(N-(u) + {u}).

    Each operator is ONE per-node window aggregate over the edge
    table (a single hash exchange on the node key) followed by a
    distinct — no adjacency lists are materialized on the driver,
    and per-round lineage is cut by localCheckpoint exactly like
    ``dup_groups``/``pagerank`` (text/web.py), so the plan stays flat
    for any round count. Convergence = the oriented edge set reaching
    a fixed point, detected by a (count, xor-of-hashes) checksum and
    then CONFIRMED exactly with one symmetric-difference check (the
    checksum alone has a ~2^-64 collision story; the confirm makes
    the gate exact). At the fixed point every edge is (node ->
    component min), so labels fall out of the edge table itself.

    ``strict=True`` raises when ``max_iter`` rounds fail to reach the
    fixed point (same rationale as ``dup_groups`` strict: incomplete
    components silently flowing into keep-one-representative dedup
    KEEPS duplicates). The theoretical round count is small — 25
    covers graphs far beyond 2^25 nodes.

    ``stats``: optional dict filled with ``{"rounds": N}`` — the
    number of large+small-star alternations actually run (the bench
    harness records it to evidence the O(log^2 n) claim at scale).
    """
    from pyspark.sql import Window

    def _canon(e: DataFrame) -> DataFrame:
        # oriented (big, small), self-loops dropped
        return (
            e.filter(F.col("src") != F.col("dst"))
            .select(
                F.greatest("src", "dst").alias("src"),
                F.least("src", "dst").alias("dst"),
            )
            .distinct()
        )

    def _large_star(e: DataFrame) -> DataFrame:
        sym = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        w = Window.partitionBy("src")
        m = F.least(F.col("src"), F.min("dst").over(w))
        return (
            sym.withColumn("_m", m)
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # input already oriented (src > dst): m = min neighbor
        w = Window.partitionBy("src")
        withm = e.withColumn("_m", F.min("dst").over(w))
        link_nbrs = withm.filter(F.col("dst") != F.col("_m")).select(
            F.col("dst").alias("src"), F.col("_m").alias("dst")
        )
        link_self = withm.select("src", F.col("_m").alias("dst"))
        return link_nbrs.unionByName(link_self).distinct()

    def _checksum(e: DataFrame) -> tuple:
        row = e.agg(
            F.count("*").alias("n"),
            # xor-fold, not sum: order-independent AND overflow-free
            # under ANSI (a long SUM of 2^63-scale hashes overflows)
            F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
        ).collect()[0]
        return (row.n, row.h)

    cur = _canon(edges).localCheckpoint()
    sig = _checksum(cur)
    rounds = 0
    for _ in range(max_iter):
        # no _canon here: both star operators already emit oriented
        # (big -> small) self-loop-free edges and end in a distinct —
        # re-canonicalizing would add one redundant exchange per round
        stepped = _small_star(_large_star(cur)).localCheckpoint()
        rounds += 1
        nsig = _checksum(stepped)
        if nsig == sig:
            # exact confirm: checksum equality is necessary, the
            # symmetric difference makes it sufficient
            if (
                stepped.exceptAll(cur).limit(1).count() == 0
                and cur.exceptAll(stepped).limit(1).count() == 0
            ):
                cur = stepped
                if stats is not None:
                    stats["rounds"] = rounds
                break
        cur, sig = stepped, nsig
    else:
        if stats is not None:
            stats["rounds"] = rounds
        msg = (
            f"cc_star did not reach the edge fixed point within "
            f"max_iter={max_iter} rounds — raise max_iter"
        )
        if strict:
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, stacklevel=2)
    # fixed point: every edge is (node -> its component min); roots
    # appear only on the dst side
    members = cur.select(F.col("src").alias("id"), F.col("dst").alias("group_id"))
    roots = cur.select(F.col("dst").alias("id")).distinct().withColumn(
        "group_id", F.col("id")
    )
    return members.unionByName(roots).distinct()


def dup_groups_star(
    corpus: DataFrame,
    id_col: str = "id",
    threshold: float = 0.5,
    pairs: DataFrame | None = None,
    max_iter: int = 25,
    text_col: str = "text",
    stats: dict | None = None,
) -> DataFrame:
    """``dup_groups`` with the component closure swapped for
    ``cc_star`` — identical output contract ``(id, group_id,
    group_size)``, every document present, singletons included, and
    (pinned by pytest + the shared recursive-CTE oracle) identical
    OUTPUT to ``dup_groups`` on any pair graph where both converge.
    Use this form when the pair graph may contain long chains: label
    propagation pays diameter(G) rounds, the star alternation
    O(log^2 n) — on a 10k-link chain that is ~14 rounds vs 10k.
    """
    if pairs is None:
        pairs = minhash_lsh_pairs(
            corpus, threshold=threshold, id_col=id_col, text_col=text_col
        )
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = cc_star(edges, max_iter=max_iter, stats=stats)
    labels = (
        corpus.select(F.col(id_col).alias("id"))
        .distinct()
        .join(comp, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("group_id"), F.col("id")).alias("group_id"),
        )
    )
    sizes = labels.groupBy("group_id").agg(F.count("*").alias("group_size"))
    return labels.join(sizes, "group_id").select(
        "id",
        "group_id",
        F.col("group_size").cast("bigint").alias("group_size"),
    )


def cc_star_increment(
    prev_labels: DataFrame,
    new_edges: DataFrame,
    max_iter: int = 25,
    strict: bool = True,
    stats: dict | None = None,
) -> DataFrame:
    """Day-2 component maintenance: fold a batch of NEW edges into an
    existing component labeling without re-clustering the corpus.

    ``prev_labels`` is any prior ``(id, group_id)`` assignment whose
    groups are connected components (the output of ``cc_star`` /
    ``dup_groups_star`` / ``dup_groups``); ``new_edges`` is the
    batch's ``(src, dst)`` pair table (e.g. ``ingest_near_dups``
    cross pairs plus the batch's own ``minhash_lsh_pairs``). Returns
    the updated ``(id, group_id)`` over the union of prior nodes and
    new-edge endpoints — EQUAL to re-running ``cc_star`` on the full
    historical edge set (pytest-pinned), because a labeling's star
    edges (id -> group_id) have exactly the components of the edges
    that produced them.

    This is the ``ingest_near_dups`` discipline applied to the
    clustering step itself: day-2 cost is the star table (one edge
    per non-singleton prior node — already a fixed point for the star
    operators, so re-convergence takes O(log^2) rounds of the MERGED
    graph's contraction, typically 1-2) plus the batch's edges; the
    historical pair graph is never rebuilt and the raw pair lists
    never retained.
    """
    star = prev_labels.filter(F.col("id") != F.col("group_id")).select(
        F.col("id").alias("src"), F.col("group_id").alias("dst")
    )
    comp = cc_star(
        star.unionByName(new_edges.select("src", "dst")),
        max_iter=max_iter,
        strict=strict,
        stats=stats,
    )
    # prior singletons untouched by the batch keep their own label
    untouched = prev_labels.select("id", "group_id").join(
        comp.select("id"), "id", "left_anti"
    )
    return comp.unionByName(untouched)


def dedup_canonical(
    corpus: DataFrame,
    id_col: str = "id",
    threshold: float = 0.5,
    pairs: DataFrame | None = None,
    max_iter: int = 20,
    text_col: str = "text",
    strict: bool = False,
    groups: DataFrame | None = None,
) -> DataFrame:
    """Retention policy on top of ``dup_groups``: which copy of each
    duplicate cluster does the training set KEEP? Not the arbitrary
    min-id — the highest-``quality_score`` member (ties broken by min
    id), which is what a real pipeline wants when near-dup variants
    differ in truncation or boilerplate contamination.

    Returns one row per cluster (singletons included):
    ``(group_id, kept_id, group_size, kept_quality)``.

    Plan shape: the cluster labels join the per-doc quality projection
    on id (one keyed exchange), and the argmax is a
    ``row_number``-over-(quality desc, id) filter — Spark runs it as
    WindowGroupLimit partial top-1 heaps, so at most one row per
    cluster per input partition reaches the final exchange. Oracle
    independence: the DuckDB gate re-derives clusters by the
    recursive-CTE walk and the quality score relationally, then takes
    the same argmax.
    """
    from pyspark.sql import Window

    from .analysis import quality_score

    # ``groups``: precomputed dup_groups output — lets a caller that
    # already ran the (eager, iterative) clustering pass feed it to
    # both the ledger join and the retention argmax without re-running
    # label propagation (curation_ledger does this)
    if groups is None:
        groups = dup_groups(
            corpus, id_col=id_col, threshold=threshold, pairs=pairs,
            max_iter=max_iter,  # exposed: the convergence warning says
            # "raise max_iter" and this is the public retention entry
            text_col=text_col, strict=strict,
        )
    q = quality_score(corpus, id_col=id_col, text_col=text_col)
    w = Window.partitionBy("group_id").orderBy(
        F.col("quality").desc(), F.col("id").asc()
    )
    return (
        groups.join(q, "id")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "group_id",
            F.col("id").alias("kept_id"),
            "group_size",
            F.col("quality").alias("kept_quality"),
        )
    )


def semantic_dedup(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
    bucket_cap: int = 1024,
    max_iter: int = 20,
) -> DataFrame:
    """SemDeDup-composed pipeline (Abbas et al. 2023 shape): embedding
    near-duplicate pairs -> connected components -> one representative
    per semantic cluster. Returns ``(id, group_id, group_size)`` for
    EVERY vector (singletons included); the retention rule is
    ``id == group_id`` (the cluster's min id), mirroring
    ``dup_groups``' contract so downstream accounting is shared
    between the lexical and semantic dedup paths.

    Scale design: candidate generation is the banded hyperplane LSH
    (never all-pairs; ``bucket_cap`` salts degenerate buckets),
    clustering is the flat-lineage label propagation of
    ``dup_groups`` — each stage is individually 100 TB-shaped and the
    composition adds no new shuffle beyond the component rounds.
    """
    prs = embedding_near_dups(
        vectors,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        exact=False,
        dims=dims,
        bucket_cap=bucket_cap,
    )
    ids = vectors.select(F.col(id_col).alias("id"))
    return dup_groups(
        ids, pairs=prs.select("id_a", "id_b"), max_iter=max_iter
    )


def near_dup_threshold_curve(
    corpus: DataFrame,
    base_threshold: float = 0.5,
    steps: int = 11,
    step: float = 0.05,
    pairs: DataFrame | None = None,
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """Dedup-threshold calibration curve: for each candidate threshold
    t in {base, base+step, ...}, the number of near-dup pairs the
    banded pipeline reports at jaccard >= t — THE table a pipeline
    owner reads before fixing the near-dup cutoff (how many pairs does
    tightening from 0.5 to 0.8 give up?). Thresholds with zero pairs
    appear with n_pairs = 0, not as missing rows.

    Output: (threshold, n_pairs), threshold rounded to 2 decimals.

    Scale shape: ONE ``minhash_lsh_pairs`` run at ``base_threshold``
    (banded candidates, signature prefilter, exact verify — the
    family's standard cost) and then a broadcast join of the
    |steps|-row threshold table against the bounded pair table; pass
    ``pairs`` to reuse an already-computed pair frame. The curve is
    exact above ``base_threshold`` by construction (every pair at
    jaccard >= base is already in the table); it says nothing about
    thresholds below base, which would need a re-run with looser
    banding.
    """
    if pairs is None:
        pairs = minhash_lsh_pairs(
            corpus, threshold=base_threshold, id_col=id_col,
            text_col=text_col,
        )
    spark = pairs.sparkSession
    th = spark.range(int(steps)).select(
        F.round(
            F.lit(float(base_threshold))
            + F.lit(float(step)) * F.col("id").cast("double"),
            2,
        ).alias("threshold")
    )
    joined = th.join(
        pairs.select("jaccard"),
        F.col("jaccard") >= F.col("threshold"),
        "left",
    )
    return joined.groupBy("threshold").agg(
        F.count("jaccard").cast("bigint").alias("n_pairs")
    )


def split_leakage(
    corpus: DataFrame,
    splits: DataFrame,
    threshold: float = 0.5,
    id_col: str = "id",
    pairs: DataFrame | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Eval-set hygiene check: near-duplicate pairs whose members sit
    in DIFFERENT splits — the leak a random train/test split of an
    un-deduplicated corpus always contains (a test document whose
    near-copy was trained on measures memorization, not capability).

    ``splits`` is ``(id, split)`` (the shape ``split_corpus``
    returns). Output: ``(id_a, id_b, split_a, split_b, jaccard)``,
    only cross-split pairs, sorted nowhere (the caller aggregates or
    samples). Pipelines act on it by re-assigning the whole duplicate
    CLUSTER to one split, or dropping the train-side copies.

    Plan shape: the pair table (LSH-banded, see minhash_lsh_pairs)
    joined twice against the doc-sized split projection — broadcast
    at audit scale, shuffled hash joins on the pair keys under AQE at
    100 TB. Nothing here re-touches raw text.
    """
    if pairs is None:
        pairs = minhash_lsh_pairs(
            corpus, threshold=threshold, id_col=id_col, text_col=text_col
        )
    sa = splits.select(
        F.col(id_col).alias("id_a"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col(id_col).alias("id_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "split_a", "split_b", "jaccard")
    )


def contamination_report(
    corpus: DataFrame,
    splits: DataFrame,
    threshold: float = 0.5,
    n: int = 5,
    frac_gate: float = 0.2,
    id_col: str = "id",
    text_col: str = "text",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """One per-document CURATION ARTIFACT joining the two independent
    contamination signals a training-data audit always runs side by
    side: WITHIN-document repetition (``dup_ngram_coverage`` — the
    Gopher duplicate-5-gram character fraction) and CROSS-split
    near-duplication (``split_leakage`` — minhash pairs whose members
    landed in different train/val/test splits). A doc flagged by the
    second signal memorizes across the split boundary; one flagged by
    the first inflates its own token count — a curation pipeline drops
    or re-splits on exactly this pair of columns (r9 VERDICT item 8a).

    Output, one row per document:
    ``(id, split, dup_ngram_char_frac, n_cross_split_pairs,
    max_leak_jaccard, leaked, repetitive)`` — pair counts/max-jaccard
    are 0 for unleaked docs, ``leaked`` is the cross-split-pair test,
    ``repetitive`` is ``dup_ngram_char_frac > frac_gate``.

    Plan shape: the coverage side is the zero-shuffle row-local pass;
    the leakage side reuses the banded LSH pair table (never
    all-pairs) and collapses it doc-wise with one partial-combined
    aggregate; the final assembly is two id-keyed joins, broadcast at
    audit scale and AQE-shuffled at 100 TB. Nothing here adds a
    corpus-sized exchange beyond what the two inputs already pay.
    """
    from .analysis import dup_ngram_coverage

    # round 11 (r10 VERDICT item 6), three persists, each measured
    # (isolation grid in OPTIMIZATION_r11.md): the splits frame is
    # consumed three times (split_leakage's id_a and id_b sides plus
    # the per-doc assembly join), the corpus text twice (the coverage
    # pass and the LSH pipeline's shingle substrate fill), and the
    # leak PAIR table — tiny, but the root of the report's deepest
    # lineage — persists so the downstream aggregate/joins replan
    # against a materialized boundary instead of the whole LSH
    # cascade.  sf0.1: 1.16 s (no persists) -> 0.93-0.98 s (all
    # three); each persist alone measured weaker.  A caller-supplied
    # ``pairs`` leaves the coverage pass as the corpus's only reader,
    # so the corpus persist is skipped there (it would only hold cache
    # memory).
    corpus_pt = widen(corpus).select(F.col(id_col), F.col(text_col))
    if pairs is None:
        corpus_pt = tracked_persist(corpus_pt)
    splits_pt = tracked_persist(
        splits.select(F.col(id_col), F.col("split"))
    )
    cov = dup_ngram_coverage(corpus_pt, n, id_col, text_col)
    leaks = tracked_persist(
        split_leakage(
            corpus_pt, splits_pt, threshold, id_col, pairs, text_col
        )
    )
    # one explode instead of a two-branch union (round 10): the union
    # form re-evaluated the whole LSH pair pipeline once per branch
    # (the minhash_band_keys lesson); the exploded multiset is
    # identical
    sides = leaks.select(
        F.explode(F.array("id_a", "id_b")).alias("id"), "jaccard"
    )
    per = sides.groupBy("id").agg(
        F.count("*").cast("bigint").alias("_n_leak"),
        F.round(F.max("jaccard"), 6).alias("_max_j"),
    )
    return (
        cov.select("id", "dup_ngram_char_frac")
        .join(
            splits_pt.select(F.col(id_col).alias("id"), "split"), "id"
        )
        .join(per, "id", "left")
        .select(
            "id",
            "split",
            "dup_ngram_char_frac",
            F.coalesce(F.col("_n_leak"), F.lit(0))
            .cast("bigint")
            .alias("n_cross_split_pairs"),
            F.coalesce(F.col("_max_j"), F.lit(0.0)).alias(
                "max_leak_jaccard"
            ),
            (F.coalesce(F.col("_n_leak"), F.lit(0)) > 0).alias("leaked"),
            (F.col("dup_ngram_char_frac") > F.lit(float(frac_gate))).alias(
                "repetitive"
            ),
        )
    )


def exact_substring_spans(
    corpus: DataFrame,
    min_len: int = 40,
    id_col: str = "id",
    text_col: str = "text",
    gram_cap: int | None = None,
) -> DataFrame:
    """Maximal exact shared substrings of length >= ``min_len`` across
    document pairs — the EXACT-substring deduplication family
    (published as suffix-array dedup for LLM training corpora, Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models
    Better"), re-expressed relationally: a shared substring of length
    exactly L is one stride-1 L-gram, and any longer shared substring
    is a RUN of consecutive L-gram matches on one (pos_a - pos_b)
    diagonal, so maximal spans fall out of a gaps-and-islands merge.
    No suffix array, no sort of the corpus — three keyed shuffles.

    Output: ``(id_a, id_b, start_a, start_b, length)`` with
    ``id_a < id_b``, 1-based character offsets, one row per MAXIMAL
    shared span (length >= min_len by construction). A text whose
    internal period is shorter than ``min_len`` (e.g. ``'ababab...'``)
    matches itself on several diagonals and yields one maximal span
    per diagonal — the standard artifact of every n-gram method.

    Plan shape (at most three shuffle exchanges, plan-audited; the
    span-verify step re-reads the (id, text) columns):
      1. a document-sized round-robin exchange restores parallelism
         when the input has fewer partitions than cores (the fixture
         corpus scans as 3 files; the md5 pass measured 6x slower
         pinned to 3 tasks) — skipped when the input is already wide;
      2. stride-1 L-grams are hashed to 60-bit ints INSIDE one
         projection (transform over the position sequence, md5-prefix
         arithmetic identical in DuckDB), then posexploded — the text
         itself is never replicated per position — and the (id, pos,
         gram) postings are persisted, so the md5 pass runs once;
      3. ``_key_pairs`` pairs the postings by gram, one row per
         cross-document pair of positions: a self-join, which the
         static plan broadcasts at audit scale (the gram table's size
         estimate is the text's), or with ``gram_cap`` one bounded
         ``collect_list`` per gram (one hash exchange);
      4. the island window + run aggregate share ONE exchange on
         ``(id_a, id_b, diag)`` — the groupBy keys are a superset of
         the window partition, so EnsureRequirements elides the
         second one;
      5. every emitted span is exact-verified against the text (two
         doc-sized joins keyed by the span table — broadcast at audit
         scale) so a 60-bit gram-hash collision can never report a
         false span.

    At 100 TB the quadratic term is real data, not the algorithm: a
    boilerplate phrase occurring in 1M documents genuinely has 10^12
    sharing pairs. ``gram_cap`` is the standard mitigation — drop
    grams occurring more than ``gram_cap`` times globally, through
    ``_key_pairs``' map-side count joined back, so a hot gram's
    postings are dropped before any exchange gathers them in one task.
    Runs crossing a dropped gram split (a conservative under-report
    confined to hot boilerplate); the default ``None`` keeps the
    operator exact.
    """
    L = int(min_len)
    arr = F.expr(
        f"""
        transform(sequence(1, length({text_col}) - {L - 1}),
          p -> CAST(conv(substr(md5(substring({text_col}, p, {L})),
                         1, 15), 16, 10) AS BIGINT))
        """
    )
    src = corpus  # verify joins read (id, text) only — no widen needed
    corpus = widen(corpus)
    g = (
        corpus.filter(F.length(text_col) >= L)
        .select(F.col(id_col).alias("id"), F.posexplode(arr).alias("pos0", "gram"))
        .select(
            "id",
            (F.col("pos0") + 1).cast("bigint").alias("pos"),
            "gram",
        )
    )
    from pyspark.sql import Window

    # persisted: the self-join's two sides (and the cap's count and
    # anti-join) read one gram table instead of each re-running the md5
    # pass — the build side of the broadcast self-join re-ran it
    m = _key_pairs(
        tracked_persist(g), ["gram"], carry=["pos"], cap=gram_cap
    ).withColumn("diag", F.col("pos_a") - F.col("pos_b"))
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    runs = (
        m.withColumn("_isl", F.col("pos_a") - F.row_number().over(w))
        .groupBy("id_a", "id_b", "diag", "_isl")
        .agg(
            F.min("pos_a").alias("start_a"),
            (F.count("*") + F.lit(L - 1)).alias("length"),
        )
        .select(
            "id_a",
            "id_b",
            "start_a",
            (F.col("start_a") - F.col("diag")).alias("start_b"),
            "length",
        )
    )
    # exact-verify every emitted span against the TEXT: a 60-bit gram
    # collision (expected in the millions at 10^12 grams) would
    # otherwise report a false span between unrelated documents that
    # a downstream dedup then acts on. The check is two doc-sized
    # joins keyed by the (tiny) span table plus one substring
    # comparison; a collision that BRIDGED two genuine runs drops the
    # merged span conservatively (probability ~2^-61 per gram pair).
    ta = src.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("_ta")
    )
    tb = src.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("_tb")
    )
    return (
        runs.join(ta, "id_a")
        .join(tb, "id_b")
        .filter(
            F.expr(
                "substring(_ta, CAST(start_a AS INT), CAST(length AS INT))"
                " = substring(_tb, CAST(start_b AS INT), CAST(length AS INT))"
            )
        )
        .select("id_a", "id_b", "start_a", "start_b", "length")
    )


def shingle_array_expr(text_col: str) -> "F.Column":
    """Row-LOCAL distinct hashed-shingle array: the same 60-bit
    md5-prefix shingles as ``shingles(hashed=True)`` computed entirely
    inside one projection (transform over the position sequence +
    array_distinct) — no explode, no shuffle, no state. This is the
    streaming-legal form: a stateless sketch projection can precede a
    stateful operator where the batch table's repartition+distinct
    could not (a second stateful aggregation). Arithmetic is
    term-for-term the batch operator's, so per-doc sets are
    identical — the stream==batch decontamination test pins it."""
    return F.expr(
        f"""
        array_distinct(transform(
          sequence(1, greatest(length({text_col}) - {SHINGLE_K - 1}, 1),
                   {SHINGLE_STRIDE}),
          p -> CAST(conv(substr(md5(substring({text_col}, p, {SHINGLE_K})),
                         1, 15), 16, 10) AS BIGINT)))
        """
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share at
    least ``min_hits`` K-character shingles with ANY benchmark
    document — the n-gram-overlap contamination check a pretraining
    pipeline runs before a corpus ships (the standard published
    practice: drop or audit training examples overlapping an eval
    set's n-grams).

    Output: (id, n_hits) for flagged docs, where n_hits counts the
    doc's DISTINCT shingles that occur anywhere in the benchmark —
    an audit score (1 = borderline, ~|doc shingles| = verbatim copy).

    Scale: the benchmark shingle DICTIONARY (distinct shingles) is
    orders of magnitude smaller than the corpus; the corpus side pays
    one equi-join on the shingle key (AQE broadcasts the dictionary
    when it fits, else both sides are already shingle-partitioned by
    ``shingles()``) plus a partial-aggregated per-doc count. No
    corpus self-join, nothing quadratic.
    """
    c_sh = shingles(corpus, id_col, text_col, hashed=True)
    b_sh = (
        shingles(benchmark, id_col, text_col, hashed=True)
        .select("shingle")
        .distinct()
    )
    return (
        c_sh.join(b_sh, "shingle")
        .groupBy("id")
        .agg(F.count("*").alias("n_hits"))
        .filter(F.col("n_hits") >= int(min_hits))
    )


def simhash_band_keys(
    df: DataFrame,
    text_col: str = "text",
    n_bands: int = 2,
    band_bits: int = 16,
) -> DataFrame:
    """LSH banding of the row-local SimHash: one row per (band,
    band_key) sub-fingerprint — the index keys a near-dup ingest
    pipeline consults (any band collision with a previously admitted
    document flags a near-dup candidate).

    Stateless projection + explode over ``simhash_expr``, so it is
    streaming-legal ahead of a stateful dedup; batch and stream
    derive byte-identical keys from the same expression."""
    mask = (1 << band_bits) - 1
    entries = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band"),
                F.shiftrightunsigned(F.col("_sh"), b * band_bits)
                .bitwiseAND(F.lit(mask))
                .cast("bigint")
                .alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return (
        df.withColumn("_sh", simhash_expr(text_col))
        .withColumn("_b", F.explode(entries))
        .select(
            *[c for c in df.columns],
            F.col("_b.band").alias("band"),
            F.col("_b.band_key").alias("band_key"),
        )
    )


def simhash_expr(text_col: str) -> "F.Column":
    """Row-LOCAL SimHash: the same 32-bit fingerprint as ``simhash()``
    computed entirely inside one projection via higher-order array
    functions — no explode, no shuffle, no state.

    This is the streaming form: a stateless sketch projection feeding
    ``dropDuplicatesWithinWatermark`` gives near-dup suppression on an
    unbounded stream, where the batch operator's explode+groupBy would
    be a second stateful aggregation (disallowed before a stateful
    dedup). Arithmetic is term-for-term the batch operator's
    (hash32 = md5-prefix, bit b sign = (th div 2^b) % 2 * 2 - 1), so
    batch and stream fingerprints are identical — pytest-pinned.
    """
    # ONE aggregate over the hashed-token array (the input expression
    # of aggregate() is evaluated once — md5 once per token, NOT per
    # bit; a per-bit nested-aggregate form re-hashed every token 32x
    # and cost 8 s at sf0.1 vs ~1 s for this shape), with a 32-wide
    # array accumulator and a finish lambda packing the sign bits.
    # Bit weights are a constant array literal (no per-token pow()).
    masks = ", ".join(f"CAST({1 << b} AS BIGINT)" for b in range(SIMHASH_BITS))
    return F.expr(
        f"""
        aggregate(
          transform(split({text_col}, ' '),
                    t -> CAST(conv(substr(md5(t), 1, 8), 16, 10) AS BIGINT)),
          array_repeat(CAST(0 AS BIGINT), {SIMHASH_BITS}),
          (acc, th) -> zip_with(
              acc,
              transform(array({masks}),
                        m -> IF((th & m) != 0, 1, -1)),
              (a, x) -> a + x),
          sums -> aggregate(
              zip_with(sums, array({masks}),
                       (s, m) -> IF(s > 0, m, CAST(0 AS BIGINT))),
              CAST(0 AS BIGINT),
              (acc2, x) -> acc2 + x))
        """
    )


def ngram_jaccard_prefix_pairs(
    corpus: DataFrame,
    threshold: float = 0.5,
    id_col: str = "id",
    text_col: str = "text",
    sets: DataFrame | None = None,
) -> DataFrame:
    """EXHAUSTIVELY exact n-gram Jaccard pairs via prefix filtering
    (the PPJoin family's candidate pruning): every pair with RAW
    ``jaccard >= threshold``, no document-frequency cap and no
    probabilistic loss — the exact-join sibling of
    ``ngram_jaccard_pairs`` (whose ``max_df`` bounds fan-out but can
    only find pairs reachable through a sub-``max_df`` shingle).

    Boundary note: this operator thresholds the RAW quotient while
    ``ngram_jaccard_pairs`` thresholds the ROUNDED display value —
    the two emit identical pairs except when a pair's jaccard lies
    within 5e-7 BELOW the threshold (rounding admits it there); the
    raw form is kept here because the prefix-pruning guarantee is
    stated for the raw quotient, and its oracle mirrors it exactly.

    Prefix filter: with every doc's shingle set sorted by one global
    order (the 60-bit hash value), a pair with intersection I >=
    ceil(t*|S|) must share its SMALLEST common shingle inside each
    side's first ``|S| - ceil(t*|S|) + 1`` elements — the I common
    elements occupy positions >= pos(x) in S, so pos(x) <= |S|-I+1.
    Only prefixes are exploded into the inverted index, cutting
    candidate volume by ~the threshold fraction while keeping recall
    exactly 1 for the threshold (the verify filter uses the RAW
    quotient, not the rounded display value, so the prefix guarantee
    and the emitted set agree bit-for-bit with an exhaustive oracle).

    The PPJoin companion filters prune the candidate stream rowwise
    BEFORE the distinct exchange, both exact for the threshold:
    LENGTH — J >= t forces t·|A| <= |B| <= |A|/t; POSITION — for the
    pair's smallest common shingle x, every common element sits at
    pos >= pos(x) on both sides, so I <= 1 + min(|A|-pos_a(x),
    |B|-pos_b(x)), which must reach ceil(t/(1+t)·(|A|+|B|)) (the
    J-to-overlap conversion). A qualifying pair's smallest-common-
    shingle row always passes both, so recall stays exactly 1; rows
    matched only through late prefix positions drop map-side
    (measured at sf0.1: 8.4M -> 3.1M candidate pairs, verify cost
    ~halved, same 1182-pair output).

    Scale: the candidate join remains bounded by prefix-shingle
    document frequencies — on corpora with heavy stop-shingles prefer
    ``ngram_jaccard_pairs(max_df=...)``, which trades exhaustiveness
    for a hard fan-out bound; this operator is the exact reference.
    (The canonical PPJoin refinement — a GLOBAL ascending-df shingle
    order so prefixes hold the rarest shingles — cuts candidates a
    further ~3x but costs a df aggregate + per-doc re-sort join;
    measured NET-SLOWER at bench SF, the right trade only when the
    candidate join, not the fixed exchanges, dominates.)
    """
    t = float(threshold)
    if sets is None:
        sets = tracked_persist(ngram_doc_sets(corpus, id_col, text_col))

    def _xceil(x):
        # double products can land epsilon ABOVE an exact integer
        # bound (t=0.28, n=25 -> 7.000000000000001; t=0.2,
        # na+nb=18 -> t/(1+t)*18 = 3.0000000000000004): a plain ceil
        # then over-prunes pairs sitting exactly at the threshold,
        # breaking the recall=1 contract. Shave 1e-9 first — set
        # cardinalities are < 1e7 so the product's rounding error is
        # < 1e-9; at worst one extra candidate survives to the exact
        # verify filter, never a lost pair.
        return F.ceil(x - F.lit(1e-9))

    # the prefix length is a cheap arithmetic projection over the
    # (persisted) shared sets table — the family-shared md5 fold stays
    # shared
    plen = (F.col("n_sh") - _xceil(F.col("n_sh") * F.lit(t)) + 1).cast("int")
    # posexplode_OUTER + isnotnull for the same reason _sets_exploded
    # documents: plain posexplode pushes its size()>0 pruning predicate
    # below the projection, re-inlining the md5 fold into a pre-widen
    # Filter (second evaluation on narrow partitions)
    prefix = sets.select(
        "id",
        "n_sh",
        F.posexplode_outer(F.slice("_fs", 1, plen)).alias("_p", "shingle"),
    ).filter(F.col("shingle").isNotNull())
    na, nb = F.col("n_sh_a"), F.col("n_sh_b")
    cand = (
        _key_pairs(prefix, ["shingle"], carry=["n_sh", "_p"])
        .filter(
            (nb >= _xceil(F.lit(t) * na))
            & (na >= _xceil(F.lit(t) * nb))
            & (
                F.least(na - F.col("_p_a"), nb - F.col("_p_b"))
                >= _xceil(F.lit(t / (1.0 + t)) * (na + nb))
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return (
        _verify(cand, sets.select("id", "_fs"))
        .withColumn("_j", _jaccard())
        .filter(F.col("_j") >= t)
        .select("id_a", "id_b", F.round("_j", 6).alias("jaccard"))
    )


def paragraph_dedup(
    corpus: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Paragraph-level exact dedup (the Dolma / RefinedWeb pass that
    runs BELOW document granularity): every paragraph keeps exactly its
    FIRST occurrence corpus-wide — first = smallest ``(id, pos)`` — and
    every later occurrence is dropped, then each document's surviving
    paragraphs reassemble in order. Distinct from C4 boilerplate
    removal (`pipeline.remove_boilerplate_lines`), which drops ALL
    occurrences of a repeated line including the first; here one copy
    of repeated content always survives, so no information leaves the
    corpus — only redundancy.

    Returns ``(id, text, n_paragraphs, n_dropped)`` — one row per input
    document (NULL text coalesces to one empty paragraph so the
    contract row survives), ``text`` holding the kept paragraphs
    ``sep``-joined.

    EMPTY paragraphs are exempt from the fingerprint group: a blank
    line is document structure, not duplicated content — deduping it
    globally would strip every blank line in the corpus after the
    first and destroy paragraph boundaries. Empties are always kept
    and never counted in ``n_dropped``.

    Scale shape: three hash exchanges, all combinable or bounded —
    (1) the first-occurrence aggregate keyed by paragraph md5
    (``min(struct(id,pos))`` partial-combines map-side, so a paragraph
    repeated in a million documents is ONE post-combine row per
    partition — never a window, whose skew AQE cannot split);
    (2) the fp -> first join (AQE skew-split handles a hot paragraph's
    probe rows); (3) per-document reassembly keyed by id, state
    bounded by document size. No Python anywhere.
    """
    paras = corpus.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), sep)
        ).alias("pos", "para"),
    ).withColumn("_fp", F.md5("para"))
    first = paras.groupBy("_fp").agg(
        F.min(F.struct("id", "pos")).alias("_first")
    )
    keep = (F.col("para") == "") | (
        (F.col("id") == F.col("_first.id"))
        & (F.col("pos") == F.col("_first.pos"))
    )
    joined = paras.join(first, "_fp").select(
        "id", "pos", "para", keep.alias("_keep")
    )
    parts = F.array_sort(F.collect_list(F.struct("pos", "para", "_keep")))
    kept = F.filter(parts, lambda x: x["_keep"])
    return joined.groupBy("id").agg(
        F.concat_ws(
            sep, F.transform(kept, lambda x: x["para"])
        ).alias("text"),
        F.count("*").alias("n_paragraphs"),
        F.sum((~F.col("_keep")).cast("bigint")).alias("n_dropped"),
    )


def semantic_decontaminate(
    corpus_vectors: DataFrame,
    benchmark_vectors: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag training
    vectors whose cosine similarity to ANY benchmark vector reaches
    ``threshold``, reporting the closest benchmark item per flagged
    row. The semantic complement of ``decontaminate`` (which catches
    n-gram overlap): paraphrased or translated eval leakage shares no
    shingles but sits next to the benchmark in embedding space.

    Output: ``(train_id, eval_id, cosine)`` — one row per flagged
    training vector, ``eval_id`` the nearest benchmark vector (ties on
    rounded cosine break to the smallest eval_id).

    Scale shape: benchmark sets are small by nature (10^3-10^5 rows),
    so the benchmark side is BROADCAST and the corpus pays one
    map-side nested-loop scan — no shuffle touches the corpus until
    the per-train-id argmax, which runs over the near-threshold
    SURVIVORS only (WindowGroupLimit keeps map-local top-1 per id
    before that exchange). The Arrow Gram kernel (`dims` known) or the
    fold (`dims` None) scores with the same accumulation order as the
    DuckDB oracle, so the gate is bit-exact. For corpora where the
    benchmark outgrows broadcast, swap the candidate step for
    ``embedding_near_dups``-style banded LSH — the argmax tail is
    unchanged.
    """
    from pyspark.sql import Window

    from ..vector.ann import _cosine_col, _norm_col

    train = corpus_vectors.select(
        F.col(id_col).alias("train_id"),
        F.col(vec_col).alias("_tv"),
    ).withColumn("_tn", _norm_col(F.col("_tv"), dims))
    bench = benchmark_vectors.select(
        F.col(id_col).alias("eval_id"),
        F.col(vec_col).alias("_bv"),
    ).withColumn("_bn", _norm_col(F.col("_bv"), dims))
    scored = (
        train.join(F.broadcast(bench))
        .withColumn(
            "cosine",
            _cosine_col(
                F.col("_tv"), F.col("_bv"), F.col("_tn"), F.col("_bn"), dims
            ),
        )
        .filter(F.col("cosine") >= float(threshold))
    )
    w = Window.partitionBy("train_id").orderBy(
        F.col("cosine").desc(), F.col("eval_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("train_id", "eval_id", "cosine")
    )


WORD_NGRAM_N = 3


def word_ngram_array_expr(text_col: str) -> "F.Column":
    """Row-local distinct hashed word-3-gram array, stride 1: the
    OFFSET-INVARIANT set sketch (any 3 consecutive words hash the same
    wherever they sit), required by containment scoring where strided
    char shingles would never align. Same 60-bit md5-prefix hash
    domain as ``shingle_array_expr``; empty/short documents (< 3
    words) produce an empty set."""
    t = f"filter(split({text_col}, ' '), x -> x <> '')"
    # nested zip_with over three shifted slices, NOT
    # transform(sequence, i -> element_at(t, i)...): an element_at on
    # the filter/split expression inside the lambda re-evaluates the
    # whole tokenization PER ELEMENT — O(|tokens|^2) per document
    # (measured: the dominant cost of the containment family at
    # sf0.1). The slices evaluate the tokenization a constant number
    # of times per ROW; md5 inputs are identical (concat 'a b c' ==
    # concat_ws(' ', a, b, c) on non-null tokens, and filtered tokens
    # are never null), so the hash domain and every oracle are
    # unchanged.
    n = f"size({t})"
    return F.expr(
        f"""
        array_distinct(CASE WHEN {n} >= {WORD_NGRAM_N} THEN
          zip_with(
            zip_with(slice({t}, 1, {n} - 2), slice({t}, 2, {n} - 2),
                     (a, b) -> concat(a, ' ', b)),
            slice({t}, 3, {n} - 2),
            (ab, c) -> CAST(conv(substr(md5(concat(ab, ' ', c)),
                                        1, 15), 16, 10) AS BIGINT))
          ELSE CAST(array() AS array<bigint>) END)
        """
    )


def ngram_containment_pairs(
    corpus: DataFrame,
    threshold: float = 0.8,
    max_df: int = 64,
    id_col: str = "id",
    text_col: str = "text",
    sets: DataFrame | None = None,
) -> DataFrame:
    """EXACT n-gram containment pairs: (id_a, id_b, containment) with
    id_a < id_b and ``|A ∩ B| / min(|A|, |B|)`` >= threshold — the
    ASYMMETRIC sibling of ngram_jaccard_pairs. Jaccard misses partial
    copies by construction: a 100-shingle quote embedded in a
    10000-shingle page has J ~ 0.01 but containment 1.0. This is the
    signal for quote/boilerplate inclusion and subset-duplication
    (the "document A is inside document B" case every corpus audit
    needs alongside symmetric near-dup).

    The set definition differs from the Jaccard family on purpose:
    STRIDED char shingles (the near-dup sketch) are alignment-
    sensitive — a quote at an arbitrary offset samples entirely
    different stride positions in the two documents and overlaps
    nothing. Containment therefore uses stride-1 WORD n-grams
    (``word_ngram_array_expr``), which are offset-invariant by
    construction (the standard containment/quote-detection shingle).

    Same two-phase shape as the Jaccard bounded path — df-capped
    inverted-index candidates from ``_key_pairs``, then one map-side
    array_intersect verify over per-doc n-gram sets (``_verify``).
    ``max_df`` is the identical scale lever; containment pairs whose
    ONLY shared n-grams are stop-phrases are unreachable, like every
    df-capped family member (documented loss, bounded fan-out).
    """
    # one word-n-gram fold over the corpus feeds BOTH the candidate
    # explode and the verify arrays (same shared-substrate shape as
    # the char-shingle family); ``sets`` passes a precomputed
    # word-n-gram ngram_doc_sets table (e.g. substrate.read_substrate
    # 'word_ngram_sets') so a day-2 run never touches the raw text
    wsets = sets
    if wsets is None:
        wsets = tracked_persist(
            ngram_doc_sets(
                corpus, id_col, text_col, set_expr=word_ngram_array_expr
            )
        )
    cand = _key_pairs(_sets_exploded(wsets), ["shingle"], cap=max_df).distinct()
    return (
        _verify(cand, wsets.select("id", "_fs"))
        .withColumn(
            "containment",
            F.round(
                F.col("n_inter") / F.least("na", "nb").cast("double"), 6
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def remove_spans(
    corpus: DataFrame,
    spans: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """APPLY exact-substring dedup (the transform half of
    ``exact_substring_spans`` — Lee et al. 2021 remove duplicated
    spans, keep one copy): every shared span is excised from the
    LARGER id (keep-first policy), overlapping or touching intervals
    merge, and the document is rebuilt as the ordered concatenation
    of the kept segments. Only affected documents are returned.

    Columns: ``(id, text, n_spans, n_chars_removed)`` — ``n_spans``
    counts MERGED intervals, ``n_chars_removed`` their total width.

    Scale shape: one distinct + one groupBy on the (tiny relative to
    corpus) span table, then a broadcast-friendly join to the corpus;
    interval merge and text reconstruction are row-local folds over
    each doc's merged-interval array (bounded by spans-per-doc, not
    text length).
    """
    iv = spans.select(
        F.col("id_b").alias(id_col),
        F.col("start_b").alias("s"),
        (F.col("start_b") + F.col("length") - 1).alias("e"),
    ).distinct()
    ivs = iv.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("_ivs")
    )
    empty = F.array().cast("array<struct<s: bigint, e: bigint>>")
    merged = F.aggregate(
        F.col("_ivs").cast("array<struct<s: bigint, e: bigint>>"),
        empty,
        lambda acc, x: F.when(
            (F.size(acc) > 0) & (x["s"] <= F.element_at(acc, -1)["e"] + 1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        F.greatest(
                            F.element_at(acc, -1)["e"], x["e"]
                        ).alias("e"),
                    )
                ),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )
    joined = (
        ivs.withColumn("_m", merged)
        .drop("_ivs")
        .join(corpus.select(id_col, text_col), id_col)
    )
    text = F.col(text_col)
    rebuilt = F.aggregate(
        F.col("_m"),
        F.struct(
            F.lit(1).cast("bigint").alias("cur"),
            F.lit("").alias("out"),
        ),
        lambda acc, x: F.struct(
            (x["e"] + 1).alias("cur"),
            F.concat(
                acc["out"],
                text.substr(acc["cur"], x["s"] - acc["cur"]),
            ).alias("out"),
        ),
        lambda acc: F.concat(
            acc["out"],
            text.substr(
                acc["cur"],
                F.greatest(
                    F.length(text) - acc["cur"] + 1, F.lit(0).cast("bigint")
                ),
            ),
        ),
    )
    return joined.select(
        F.col(id_col).alias("id"),
        rebuilt.alias("text"),
        F.size("_m").cast("bigint").alias("n_spans"),
        F.aggregate(
            F.col("_m"),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + (x["e"] - x["s"] + 1),
        ).alias("n_chars_removed"),
    )


def simhash_hamming_pairs(
    corpus: DataFrame,
    max_hamming: int = 3,
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance: every
    unordered pair whose 32-bit fingerprints differ in at most
    ``max_hamming`` bits — the Charikar/Manku-Jain-Sarma web-dedup
    formulation (the fingerprint-table rotation trick expressed
    relationally as a banded self-join).

    Candidate generation is EXACT, not approximate: the fingerprint is
    split into ``max_hamming + 1`` disjoint bit bands, and by
    pigeonhole any pair within the Hamming budget agrees exactly on at
    least one band, so the band equi-join loses nothing; the
    ``bit_count(xor)`` verify then drops the false candidates. Output
    ``(id_a, id_b, hamming)`` with ``id_a < id_b``.

    Scale shape: one fingerprint aggregate (the ``simhash`` operator's
    shuffle), then a self-equi-join on (band, band_key) — work is
    sum over keys of |bucket|^2, never corpus^2. Bucket population is
    n / 2^band_bits per band; at larger corpora widen the fingerprint
    (64-bit SimHash, 16-bit bands) so buckets stay small — the 32-bit
    default matches the ``simhash`` operator and its oracle.
    """
    n_bands = int(max_hamming) + 1
    bounds = [SIMHASH_BITS * b // n_bands for b in range(n_bands + 1)]
    # both self-join sides read the fingerprint table: persist it so
    # the token explode + 32-bit-sum aggregate runs once, not twice
    sig = tracked_persist(simhash(corpus, id_col, text_col))
    entries = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band"),
                F.shiftrightunsigned(F.col("simhash"), bounds[b])
                .bitwiseAND(F.lit((1 << (bounds[b + 1] - bounds[b])) - 1))
                .cast("bigint")
                .alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    keys = sig.select(
        "id", "simhash", F.explode(entries).alias("_bk")
    ).select("id", "simhash", F.col("_bk.band"), F.col("_bk.key"))
    cand = _key_pairs(keys, ["band", "key"], carry=["simhash"]).distinct()
    hamming = F.bit_count(
        F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
    ).cast("int")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= int(max_hamming))
        .select("id_a", "id_b", "hamming")
    )


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    log2_bits: int = 18,
    n_hashes: int = 3,
) -> DataFrame:
    """Benchmark decontamination through a Bloom filter: the benchmark
    shingle dictionary is folded into an m = 2^``log2_bits`` bit array
    and training documents are flagged by how many of their distinct
    shingles the filter claims (``decontaminate`` with the exact
    dictionary join replaced by the constant-size sketch — the shape a
    pipeline uses when the eval suite is large or must ship to every
    executor as a few hundred KB instead of a join side).

    Bit positions use the Kirsch-Mitzenmacher double-hashing
    construction g_i(x) = (h1 + i*h2) mod m over the 60-bit md5
    shingle hash (h2 forced odd), so k positions cost ONE digest.
    Output ``(id, n_hits)`` for flagged docs — a superset of
    ``decontaminate``'s at the filter's false-positive rate
    (deterministic given the hash construction, so exactly
    reproducible by the oracle).

    Scale shape: the filter is a (word_idx, bits) table of at most
    m/64 rows (2^18 bits -> 4096 rows, 64 KB) built by one bit_or
    aggregate over benchmark positions and BROADCAST to the probe
    side; the corpus pays its shingle projection, a k-way position
    explode, the broadcast hash join, and two partial-combined
    aggregates. Nothing scales with |benchmark| x |corpus|.
    """
    m = 1 << int(log2_bits)
    mask = m - 1
    word = F.floor(F.col("pos") / 64).cast("bigint").alias("word_idx")
    # shiftleft's Python wrapper takes only a literal shift amount;
    # the SQL form accepts the column-valued bit offset
    bit = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")

    def positions(sh_df: DataFrame) -> DataFrame:
        h1 = F.col("shingle").bitwiseAND(F.lit(mask))
        h2 = F.shiftrightunsigned(F.col("shingle"), 30).bitwiseAND(
            F.lit(mask)
        ).bitwiseOR(F.lit(1))
        return sh_df.select(
            *sh_df.columns,
            F.explode(
                F.array(
                    *[
                        ((h1 + F.lit(i) * h2) % m).cast("bigint").alias("p")
                        for i in range(int(n_hashes))
                    ]
                )
            ).alias("pos"),
        )

    bloom = (
        positions(
            shingles(benchmark, id_col, text_col, hashed=True)
            .select("shingle")
            .distinct()
        )
        .select(word, bit.alias("b"))
        .groupBy("word_idx")
        .agg(F.bit_or("b").alias("bits"))
    )
    # probe side inlines the shingle projection WITHOUT shingles()'s
    # repartition("shingle") — the bloom join keys on word_idx against
    # a broadcast side, so shingle co-location would be a wasted
    # corpus-sized shuffle here
    probe = positions(
        widen(corpus).select(
            F.col(id_col).alias("id"),
            F.explode(shingle_array_expr(text_col)).alias("shingle"),
        )
    )
    hits = (
        probe.withColumn("word_idx", word)
        .join(F.broadcast(bloom), "word_idx")
        .filter(bit.bitwiseAND(F.col("bits")) != 0)
        .groupBy("id", "shingle")
        .agg(F.count("*").alias("_k"))
        .filter(F.col("_k") == int(n_hashes))
    )
    return (
        hits.groupBy("id")
        .agg(F.count("*").cast("bigint").alias("n_hits"))
    )


RABIN_K = 8  # gram width of the content-defined boundary test


def rabin_chunks(
    corpus: DataFrame,
    divisor: int = 16,
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """Content-defined chunking (Rabin-style): a chunk boundary falls
    AFTER every position whose trailing ``RABIN_K``-gram hashes to
    ``0 mod divisor`` — so chunk boundaries are a function of CONTENT,
    not offset, and an insertion near the head of a document changes
    only the chunk it lands in while every later chunk keeps its
    identity (the property fixed-size chunking lacks, and the basis of
    storage/CDN dedup and sub-document near-dup at corpus scale).
    Expected chunk length is ``divisor`` characters; no min/max length
    clamp (the clamped FastCDC variant makes each boundary depend on
    the previous one — inherently sequential — while the pure content
    test is position-local and fully parallel).

    Columns: ``(id, chunk_idx, start, length, chunk_hash)`` — start
    1-based, ``chunk_hash`` the md5 of the chunk text (join chunks
    across documents on it to find shared content). Empty documents
    yield no chunks.

    Scale shape: boundary detection, chunk assembly, and hashing are
    ONE zero-shuffle projection (higher-order filter/transform over
    the position sequence + explode); nothing leaves the row until
    the explode, and the output inherits the scan's partitioning.
    """
    k = RABIN_K
    d = int(divisor)
    bounds = F.expr(
        f"""
        filter(sequence({k}, greatest(length({text_col}), {k})),
               p -> p <= length({text_col}) AND
                    CAST(conv(substr(md5(substring({text_col},
                                                   p - {k - 1}, {k})),
                              1, 15), 16, 10) AS BIGINT) % {d} = 0)
        """
    )
    # cut points: 0, every boundary, and the text end (distinct keeps
    # the ascending order; a boundary at the end must not double-cut)
    cuts = F.array_distinct(
        F.concat(
            F.array(F.lit(0).cast("bigint")),
            bounds.cast("array<bigint>"),
            F.array(F.length(text_col).cast("bigint")),
        )
    )
    chunks = F.expr(
        "transform(slice(_cuts, 2, size(_cuts) - 1), "
        "(c, i) -> struct(element_at(_cuts, i + 1) + 1 AS start, "
        "c - element_at(_cuts, i + 1) AS length))"
    )
    return (
        widen(corpus)
        .select(
            F.col(id_col).alias("id"),
            F.col(text_col).alias("_t"),
            cuts.alias("_cuts"),
        )
        .withColumnRenamed("_t", text_col)
        .select(
            "id",
            F.col(text_col),
            F.posexplode(chunks).alias("chunk_idx", "_c"),
        )
        .select(
            "id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.col("_c.start").alias("start"),
            F.col("_c.length").alias("length"),
            F.md5(
                F.expr(f"substring({text_col}, _c.start, _c.length)")
            ).alias("chunk_hash"),
        )
    )


def chunk_dedup_stats(
    corpus: DataFrame,
    divisor: int = 16,
    id_col: str = "id",
    text_col: str = "text",
    strata_col: str = "source",
) -> DataFrame:
    """Per-source content-dedup accounting over ``rabin_chunks``: how
    many chars each source would occupy if every repeated
    content-defined chunk were stored once — the storage-dedup /
    repeated-boilerplate signal at sub-document granularity (a mirror
    site shows a low ratio even when no two whole documents are equal).

    Columns: ``(source, n_chunks, n_chars, n_distinct_chunks,
    distinct_chars, dedup_ratio)`` with ``dedup_ratio =
    distinct_chars / n_chars`` rounded 6 (1.0 = nothing shared).

    Scale shape: the chunk table is one zero-shuffle projection; both
    rollups partial-combine ((source, chunk_hash) grain first — a hot
    boilerplate chunk collapses map-side), so the exchanges carry
    distinct-chunk rows, never the raw chunk stream.
    """
    chunks = rabin_chunks(
        corpus.select(id_col, text_col), divisor, id_col, text_col
    ).join(
        corpus.select(
            F.col(id_col).alias("id"), F.col(strata_col).alias("source")
        ),
        "id",
    )
    per_hash = chunks.groupBy("source", "chunk_hash").agg(
        F.count("*").alias("_n"),
        F.min("length").alias("_len"),
        F.sum("length").alias("_chars"),
    )
    return (
        per_hash.groupBy("source")
        .agg(
            F.sum("_n").cast("bigint").alias("n_chunks"),
            F.sum("_chars").cast("bigint").alias("n_chars"),
            F.count("*").cast("bigint").alias("n_distinct_chunks"),
            F.sum("_len").cast("bigint").alias("distinct_chars"),
        )
        .withColumn(
            "dedup_ratio",
            F.round(
                F.col("distinct_chars") / F.col("n_chars").cast("double"), 6
            ),
        )
    )


def repeated_ngrams(
    corpus: DataFrame,
    length: int = 40,
    top_k: int = 20,
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """Most-repeated character L-grams across the corpus — the
    memorization/boilerplate audit (Lee et al.'s observation: the
    substrings a model memorizes are the ones the corpus repeats;
    this reports the worst offenders BEFORE training, where
    ``exact_substring_spans`` finds pairwise overlaps).

    Columns: ``(gram, n_docs, n_occurrences, rank)`` — top ``top_k``
    by occurrences (ties: more docs first, then lexicographic gram).

    Scale shape: stride-1 grams are grouped by their 60-bit md5 hash
    (8-byte shuffle keys instead of L-char strings — the shingle
    family's trick); the example text rides along as a min() aggregate
    so no second pass re-extracts it; the top-k runs as a
    WindowGroupLimit partial heap over the (already tiny) repeated
    subset.
    """
    ln = int(length)
    grams = widen(corpus).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.expr(
                f"""
                transform(
                  sequence(1, greatest(length({text_col}) - {ln - 1}, 1)),
                  p -> substring({text_col}, p, {ln}))
                """
            )
        ).alias("gram"),
    )
    hashed = grams.select(
        "id",
        "gram",
        F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10)
        .cast("bigint")
        .alias("_h"),
    )
    agg = (
        hashed.groupBy("_h")
        .agg(
            F.min("gram").alias("gram"),
            F.countDistinct("id").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_occurrences"),
        )
        .filter(F.col("n_occurrences") > 1)
    )
    from pyspark.sql import Window

    w = Window.orderBy(
        F.col("n_occurrences").desc(), F.col("n_docs").desc(), F.col("gram")
    )
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= int(top_k))
        .select("gram", "n_docs", "n_occurrences", "rank")
    )


def pair_pr(
    candidates: DataFrame,
    truth: DataFrame,
) -> DataFrame:
    """Pair-set precision / recall / F1 of a candidate near-dup pass
    against a ground-truth pair set — the methodology number a dedup
    deployment reports ("how much does the LSH shortcut miss, and how
    much junk does it admit"). Inputs are any two ``(id_a, id_b)``
    frames (extra columns ignored); orientation is normalized so
    (a, b) and (b, a) are the same pair.

    Output ``(metric, value)`` rows — precision, recall, f1 — rounded
    6; a metric with a zero denominator is NULL (no candidates /
    no truth), never a crash.

    Scale shape: both sides collapse to distinct normalized pairs
    (combinable), the true-positive count is one equi-join, and the
    three counts are one-row frames crossJoined — nothing after the
    distinct is larger than a scalar.
    """

    def _norm(df: DataFrame) -> DataFrame:
        return df.select(
            F.least("id_a", "id_b").alias("a"),
            F.greatest("id_a", "id_b").alias("b"),
        ).distinct()

    c = tracked_persist(_norm(candidates))
    t = tracked_persist(_norm(truth))
    n_c = c.agg(F.count("*").alias("nc"))
    n_t = t.agg(F.count("*").alias("nt"))
    n_tp = c.join(t, ["a", "b"]).agg(F.count("*").alias("tp"))
    base = n_tp.crossJoin(F.broadcast(n_c)).crossJoin(F.broadcast(n_t))
    prec = F.when(
        F.col("nc") > 0, F.round(F.col("tp") / F.col("nc").cast("double"), 6)
    )
    rec = F.when(
        F.col("nt") > 0, F.round(F.col("tp") / F.col("nt").cast("double"), 6)
    )
    f1 = F.when(
        (F.col("nc") > 0) & (F.col("nt") > 0) & (F.col("tp") > 0),
        F.round(
            2.0
            * F.col("tp")
            / (F.col("nc") + F.col("nt")).cast("double"),
            6,
        ),
    )
    wide = base.select(
        prec.alias("_p"), rec.alias("_r"), f1.alias("_f")
    )
    entries = F.array(
        F.struct(F.lit("precision").alias("metric"), F.col("_p").alias("value")),
        F.struct(F.lit("recall").alias("metric"), F.col("_r").alias("value")),
        F.struct(F.lit("f1").alias("metric"), F.col("_f").alias("value")),
    )
    return wide.select(F.explode(entries).alias("_e")).select("_e.*")


WINNOW_W = 4  # winnowing window; fingerprint density ~ 2/(w+1)
WINNOW_B = 257  # Karp-Rabin base
WINNOW_M = 2147483647  # 2^31 - 1 (Mersenne prime) hash modulus


def _kr_gram_sql(text_col: str, k: int) -> str:
    """Stride-1 Karp-Rabin ``k``-gram hash array for ``text_col`` as
    ONE expression: per position a ``k``-step integer Horner fold with
    a mod after every step (values stay < M*B + codepoint < 2^40 — no
    int64 overflow, no negatives, so plain ``%`` agrees across
    engines).  The winnowing paper's own gram hash family — and ~20x
    cheaper than an md5 per gram, measured 13.3 -> 0.7 s on the sf0.1
    pair join.  31-bit range: global collisions merely add candidate
    pairs (both engines compute identical values, so the gate stays
    exact); the verify-stage consumers treat fingerprints as
    candidates, not proofs."""
    # BIGINT seed: ascii() yields INT and (x % M) * B overflows int32,
    # so the whole Horner chain must promote to 64-bit up front
    h = "CAST(0 AS BIGINT)"
    for j in range(int(k)):
        h = f"({h} * {WINNOW_B} + _cs[p + {j} - 1]) % {WINNOW_M}"
    return f"""transform(
      sequence(1, size(_cs) - {int(k) - 1}),
      p -> CAST({h} AS BIGINT))"""


def winnow_fingerprints(
    corpus: DataFrame,
    k: int = SHINGLE_K,
    w: int = WINNOW_W,
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003, "Winnowing: Local Algorithms for Document Fingerprinting" —
    the MOSS algorithm): stride-1 Karp-Rabin ``k``-gram hashes, the
    minimum of every ``w``-hash window, distinct per doc.  Winnowing
    GUARANTEES any shared substring of length >= k + w - 1 yields a
    shared fingerprint (the locality property minhash only provides
    probabilistically), at density ~2/(w+1) of the gram count.

    Output: ``(id, fp)``.  Entirely row-local (three projections:
    codepoints, gram hashes, window minima — each array computed ONCE,
    never per window membership); docs shorter than ``k`` are
    excluded.  Pure integer arithmetic, exact in any engine.
    """
    codes = F.expr(
        f"""transform(sequence(1, length({text_col})),
            i -> ascii(substring({text_col}, CAST(i AS INT), 1)))"""
    )
    grams = F.expr(_kr_gram_sql(text_col, k))
    sel = F.expr(
        f"""array_distinct(transform(
          sequence(1, greatest(size(_g) - {int(w) - 1}, 1)),
          j -> array_min(slice(_g, CAST(j AS INT), {int(w)}))))"""
    )
    return (
        widen(corpus.filter(F.length(text_col) >= int(k)))
        .select(F.col(id_col).alias("id"), codes.alias("_cs"))
        .select("id", grams.alias("_g"))
        .select("id", F.explode(sel).alias("fp"))
    )


def winnow_pairs(
    corpus: DataFrame,
    min_shared: int = 2,
    max_df: int = 8,
    k: int = SHINGLE_K,
    w: int = WINNOW_W,
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate candidate pairs by SHARED winnowing fingerprints
    — the MOSS similarity join: an inverted index over
    ``winnow_fingerprints`` with boilerplate guards (a fingerprint in
    more than ``max_df`` docs is dropped — hot fps come from template
    text and would otherwise fan out quadratically), pairs keep
    ``n_shared >= min_shared``.

    Output: ``(id_a, id_b, n_shared)`` with ``id_a < id_b``.

    Scale shape: fingerprint density bounds the index at ~2/(w+1) of
    the corpus gram count; the df cap bounds per-key fan-out at
    C(max_df, 2); one partial-combined count per fp, one fp-keyed
    postings list, one pair aggregate — the ``ngram_jaccard`` inverted-
    index discipline, with winnowing's locality guarantee instead of a
    probabilistic sketch.

    The cap drops postings SILENTLY by design (hot fingerprints are
    template noise) — run ``winnow_report`` alongside to see how much
    mass it removed; on replica-heavy corpora the drop can be nearly
    everything (BENCH_SF1's 10x clique corpus: 841 -> 73 pairs with
    6.47M of 6.47M postings past the cap).

    The df cap is ``_key_pairs``' map-side count joined back, the one
    cap form of the pair family; its cost was measured when it replaced
    a ``count(*) over (partition by fp)`` window here: about +0.6-1.1 s
    on loaded sf0.1 boards and none at SF1 (18.9 vs 19.6 s).
    """
    # the posting table persists so the FOLD (the corpus-sized work:
    # codepoint hashes -> Karp-Rabin k-grams -> window minima,
    # measured 0.8-1.0 s of the query's ~1.5 s at sf0.1) runs ONCE
    # across the cap's count and the pair join — without it the join
    # re-evaluates the fold (measured +0.5 s here, and a second full
    # corpus decode at 100 TB)
    fps = tracked_persist(
        winnow_fingerprints(corpus, k, w, id_col, text_col)
    )
    return (
        _key_pairs(fps, ["fp"], cap=max_df)
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= int(min_shared))
    )


def winnow_report(
    corpus: DataFrame,
    max_df: int = 8,
    k: int = SHINGLE_K,
    w: int = WINNOW_W,
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """The EARNED side-output of ``winnow_pairs``' df cap: how much
    fingerprint mass the MOSS boilerplate guard silently drops. The
    cap is the skew guard doing its job (a fingerprint in > ``max_df``
    docs comes from template text and would fan out quadratically),
    but replica-heavy corpora can push most shared fingerprints past
    it — at 10x the fixture the pair count COLLAPSES 841 -> 73 — and
    without this row the caller reads that as "few duplicates" rather
    than "the cap fired" (r9 VERDICT item 3 of What's wrong; the
    ``approx_distinct_report`` within-bound discipline,
    operators/audit.py).

    One summary row: ``(n_fps, n_postings, n_fps_unique, n_fps_kept,
    n_postings_kept, n_fps_capped, n_postings_dropped, max_df_seen)``
    — ``capped``/``dropped`` count fingerprints past the cap and
    every posting they carried; ``unique`` (df=1) is the mass that can
    never pair regardless of the cap.

    Plan shape: the same fingerprint projection and one fp-keyed
    partial-combined count as ``winnow_pairs``, then a one-row global
    aggregate of the df table (fingerprint-count-sized, not
    corpus-sized) — strictly cheaper than the pair join it audits.
    """
    fps = winnow_fingerprints(corpus, k, w, id_col, text_col)
    dfc = fps.groupBy("fp").agg(F.count("*").alias("_df"))
    df_ = F.col("_df")
    kept = (df_ >= 2) & (df_ <= int(max_df))
    capped = df_ > int(max_df)
    return dfc.agg(
        F.count("*").cast("bigint").alias("n_fps"),
        F.sum("_df").cast("bigint").alias("n_postings"),
        F.sum(F.when(df_ == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_fps_unique"),
        F.sum(F.when(kept, 1).otherwise(0))
        .cast("bigint")
        .alias("n_fps_kept"),
        F.sum(F.when(kept, df_).otherwise(0))
        .cast("bigint")
        .alias("n_postings_kept"),
        F.sum(F.when(capped, 1).otherwise(0))
        .cast("bigint")
        .alias("n_fps_capped"),
        F.sum(F.when(capped, df_).otherwise(0))
        .cast("bigint")
        .alias("n_postings_dropped"),
        F.max("_df").cast("bigint").alias("max_df_seen"),
    )

"""One-decade scale spot bench for the headline dedup/ANN family
(round-6 VERDICT item 4): the repo's 100 TB claims are argued from
plan shape and measured at sf0.1 — this harness measures one more
decade and checks the plans did not regress.

No sf1 driver data exists (and /root/testdata is read-only), so the
two tables this family reads are scaled 10x from sf0.1 into
``benchdata/sf1`` (gitignored):

- ``documents``: 10 copies, copy k offset by k*5_000_000 doc_ids and
  its text suffixed with a copy marker — replicas are NOT corpus-wide
  exact duplicates, so the fixture's planted duplicate/near-dup RATE
  (doc_id % 10 / % 17 derivations) is preserved per copy and pair
  counts grow ~linearly, the honest 10x shape. The offset is a
  multiple of 10 so the %10 planted-dup selection is copy-invariant.
- ``embeddings``: 10 copies, vec_id offset by k*1_000_000, two dims
  nudged by a tiny copy-deterministic epsilon so replicas are near-
  but not exact duplicates of each other.

The remaining 8 tables are symlinked from sf0.1 (this family never
reads them beyond schema registration).

Timing methodology is bench.py's exactly: construct once (one-time
index/materialization cost excluded, as at sf0.1), one warm noop
write, then min-of-3 timed noop writes with the cache cleared. Plans
are audited per query at both scales: Exchange counts must match and
the ingest probe must keep its static PartitionFilters.

Output: BENCH_SF1.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.abspath(__file__))
SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(REPO, "benchdata", "sf1")
COPIES = 10
DOC_STRIDE = 5_000_000  # multiple of 10: %10 planted dups copy-invariant
VEC_STRIDE = 1_000_000

HEADLINE = [
    "exact_dedup",
    "minhash_pairs",
    "substring_spans",
    "ingest_near_dups",
    "ann_ivf_topk",
    "curation_ledger",
    # tokenizer + similarity-search family (round-7 session 2): the
    # vocab-bounded DP queries must scale with the WORD COUNT only
    # (the distinct-word table gains just the 10 copymark words), and
    # mmr_topk scales both sides like ann_ivf_topk (~100x scoring).
    "unigram_fertility",
    "unigram_encode",
    "bpe_encode",
    "mmr_topk",
    # heavy non-pair aggregate/ML rows (round-8, r7 VERDICT item 6):
    # the count-aggregate + broadcast-join shapes deserve the same
    # two-decade exchange evidence as the dedup family. table_profile
    # reads the 10x-replicated lineitem (orderkey-offset copies);
    # nb_classify / lr_quality / dup_ngram_coverage ride the 10x
    # corpus; embedding_clusters the 10x embeddings; unigram_train_em
    # is vocab-bounded after one corpus-sized word count (round-1 DP
    # over the big substring seed is the documented floor).
    "table_profile",
    "nb_classify",
    "lr_quality",
    "embedding_clusters",
    "dup_ngram_coverage",
    "unigram_train_em",
    # round-9 (r8 VERDICT item 5): the r8 families. winnow_pairs'
    # 10x dup-clique corpus is exactly its hard case (every copy
    # shares every fingerprint with 9 siblings); wordpiece_* are
    # vocab-bounded DPs like the unigram rows; fim_split/dsir_weights
    # are row-local / one-aggregate shapes riding the 10x corpus;
    # trigram_logprob is the three-order count-aggregate stack.
    "winnow_pairs",
    "wordpiece_encode",
    "wordpiece_fertility",
    "fim_split",
    "dsir_weights",
    "trigram_logprob",
    "kn_trigram_logprob",
    # Aho-Corasick blocklist scan: one row-local pass per document,
    # so the 10x corpus must scale ~linearly
    "banned_phrase_hits",
    # round-10 (r9 VERDICT items 2/3/4): the trigram scorer's bucket
    # rollup; the winnow df-cap drop-mass audit (its sf1 row QUANTIFIES
    # the 841->73 winnow_pairs collapse — n_postings_dropped is in the
    # row notes); and the large-dictionary blocklist scan — 1024
    # synthetic phrases across 20 distinct lengths, where the
    # Aho-Corasick mapInPandas kernel still scans each document ONCE
    "perplexity_buckets_trigram",
    "winnow_report",
    "banned_phrase_hits_1k_ac",
    # per-doc contamination artifact: composes the banded-LSH pair
    # table (minhash_pairs' row, pair-clique caveat applies to the
    # leak side) with the zero-shuffle coverage pass + two id joins
    "contamination_report",
    # bench-only (defined below, not a declared query): reference
    # blocking semantics with k FIXED at the sf0.1 |A| while the B
    # corpus grows 10x — proves the documented claim that
    # match_line_cluster's cost past the descriptor build is O(|B|*k),
    # bounded by the blocking parameter, not the corpus.
    "match_line_cluster_fixed_k",
    # round-11 (r10 VERDICT item 7): the remaining top-10 board rows
    # whose sf0.1 numbers are orchestration-bound — the SF1 rows with
    # exchange counts are the evidence that transfers to 100 TB.
    # ngram_containment/dedup_threshold_curve ride the 10x dup-clique
    # corpus (pair-table caveat as minhash_pairs); retrieval_metrics'
    # two search pipelines both scale with the corpus;
    # approx_distinct_audit is the per-column pruned-scan shape.
    "ngram_containment",
    "retrieval_metrics",
    "dedup_threshold_curve",
    "approx_distinct_audit",
    # round-11 (r10 VERDICT item 10, bench-only LOCAL probe): the
    # approx_count_distinct twin of table_profile's exact Expand
    # distinct — the docstring's documented petabyte swap, measured
    # instead of asserted.  The declared exact query is untouched.
    "table_profile_approx",
]


def _q_match_line_cluster_fixed_k(spark, sf_dir):
    """A from sf0.1 (k fixed at ~1000 seeds), B from ``sf_dir`` —
    at sf1 the 10x part table grows ONLY the assignment side."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark import fixtures as FX
    from gpd_lite_toolbox_spark.operators.lines import match_line_cluster

    va = (
        FX.road_verts(spark, SF01)
        .filter(F.col("id") % 20 == 7)
        .drop("road_class")
    )
    vb = FX.road_b_verts(spark, sf_dir).filter(F.col("id") % 20 == 7)
    return match_line_cluster(va, vb, max_k=4096)


def _bench_phrases(n: int = 1024, n_lengths: int = 20) -> list[str]:
    """Deterministic synthetic blocklist: ``n`` distinct phrases whose
    lengths cycle through ``n_lengths`` distinct values (4..4+n-1) —
    a wide length SPECTRUM, which the one-pass Aho-Corasick scan must
    absorb at flat cost. The fixture's 4 real phrases ride along so
    the hit path is exercised."""
    from gpd_lite_toolbox_spark.text.analysis import BANNED_FIXTURE_PHRASES

    digits = "0123456789abcdefghijklmnopqrstuvwxyz"

    def b36(i: int) -> str:  # 4 chars cover 36^4 = 1.68M phrases
        s = ""
        for _ in range(4):
            s = digits[i % 36] + s
            i //= 36
        return s

    out = list(BANNED_FIXTURE_PHRASES)
    i = 0
    while len(out) < n:
        ln = 4 + (i % n_lengths)
        base = b36(i) + "qzx"
        out.append((base * (ln // len(base) + 1))[:ln])
        i += 1
    return out


def _q_banned_1k(spark, sf_dir):
    from gpd_lite_toolbox_spark import fixtures as FX
    from gpd_lite_toolbox_spark.text.analysis import banned_phrase_hits

    corpus = FX.fixture_df(spark, sf_dir, "corpus")
    return banned_phrase_hits(corpus, _bench_phrases())


def _q_table_profile_approx(spark, sf_dir):
    """table_profile's documented petabyte path: the same
    split-aggregate shape (plain stats pass + distinct pass, crossJoin
    of one-row frames) with the exact multi-column distinct — Spark's
    k-fold Expand rewrite — swapped for ``approx_count_distinct``
    (one partial-combined HLL pass, no Expand).  Output columns match
    the declared query; n_distinct is the sketch estimate (~2% rsd),
    which is why this is a bench probe and not the oracle-gated
    query."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.operators.audit import _NUMERIC_KINDS

    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cols = df.dtypes
    aggs = [F.count("*").cast("bigint").alias("_n")]
    for c, t in cols:
        aggs.append(
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"_nn_{c}")
        )
        if any(t.startswith(k) for k in _NUMERIC_KINDS):
            aggs.append(
                F.round(F.min(F.col(c).cast("double")), 6).alias(f"_mn_{c}")
            )
            aggs.append(
                F.round(F.max(F.col(c).cast("double")), 6).alias(f"_mx_{c}")
            )
    dist = df.agg(
        *[
            F.approx_count_distinct(c).cast("bigint").alias(f"_nd_{c}")
            for c, _ in cols
        ]
    )
    one = df.agg(*aggs).crossJoin(F.broadcast(dist))
    null_d = F.lit(None).cast("double")
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("_n").alias("n_rows"),
                F.col(f"_nn_{c}").alias("n_nulls"),
                F.col(f"_nd_{c}").alias("n_distinct"),
                (
                    F.col(f"_mn_{c}")
                    if any(t.startswith(k) for k in _NUMERIC_KINDS)
                    else null_d
                ).alias("min_num"),
                (
                    F.col(f"_mx_{c}")
                    if any(t.startswith(k) for k in _NUMERIC_KINDS)
                    else null_d
                ).alias("max_num"),
            )
            for c, t in cols
        ]
    )
    return one.select(F.explode(entries).alias("_e")).select("_e.*")


# bench-only callables (same (spark, sf_dir) contract as declared
# queries; kept out of __spark_entry__ because they are scale probes,
# not oracle-gated product queries)
LOCAL = {
    "match_line_cluster_fixed_k": _q_match_line_cluster_fixed_k,
    "banned_phrase_hits_1k_ac": _q_banned_1k,
    "table_profile_approx": _q_table_profile_approx,
}


# Eager probes (round-10, r9 VERDICT item 4): cc_star's alternating
# star rounds run AT CONSTRUCTION (localCheckpoint per round), so the
# lazy noop-write methodology would time only the final label
# assembly. These rows time construction + one full count, once per
# scale, and record the ROUND COUNT — the O(log^2 n) evidence.
EAGER = ["dup_groups_star", "dup_groups_incremental", "cc_star_chain"]


def _eager_probe(spark, name: str, sf_dir: str):
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from gpd_lite_toolbox_spark.text.dedup import (
        cc_star,
        cc_star_increment,
        dup_groups_star,
        ingest_near_dups,
        minhash_lsh_pairs,
    )

    stats: dict = {}
    if name == "dup_groups_star":
        corpus = E._corpus(spark, sf_dir)
        t0 = time.perf_counter()
        df = dup_groups_star(corpus, stats=stats)
        rows = df.count()
    elif name == "dup_groups_incremental":
        # day-1 state (prior labels + persisted minhash index) is
        # built and materialized BEFORE the clock: the documented
        # claim is day-2 cost = the batch fold, not the corpus
        corpus = E._corpus(spark, sf_dir)
        batch, day1 = E._ingest_split(corpus)
        idx = E._minhash_index(spark, sf_dir)
        prev = (
            dup_groups_star(day1).select("id", "group_id").localCheckpoint()
        )
        t0 = time.perf_counter()
        cross = ingest_near_dups(spark, idx, batch, threshold=0.5).select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        )
        inb = minhash_lsh_pairs(batch, threshold=0.5).select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        )
        df = cc_star_increment(prev, cross.unionByName(inb), stats=stats)
        rows = df.count()
    elif name == "cc_star_chain":
        # the planted LONG CHAIN — label propagation's worst case
        # (diameter rounds); the star alternation must close it in
        # O(log^2 n) rounds at BOTH scales
        n = 100_000 if sf_dir == SF01 else 1_000_000
        edges = spark.range(n - 1).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
        )
        t0 = time.perf_counter()
        df = cc_star(edges, max_iter=40, stats=stats)
        rows = df.count()
    else:  # pragma: no cover
        raise ValueError(name)
    sec = round(time.perf_counter() - t0, 3)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    return sec, rows, stats.get("rounds"), plan.count("Exchange")


def generate(spark) -> None:
    # V2 (round 8): lineitem is now a REAL 10x replication (orderkey-
    # offset copies) instead of a symlink, so table_profile's sf1 row
    # measures actual scale; older generated dirs regenerate once.
    # V3 (round 9): part is now a REAL 10x replication too (partkey
    # offset by a multiple of 20, so the %4 road-class, %10 roads_b
    # membership, and %20 entry-subset selections are copy-invariant)
    # — the road fixtures derive from part, and the fixed-k
    # match_line_cluster probe needs a B side that actually grows.
    if os.path.exists(os.path.join(SF1, "_GENERATED_V3")):
        return
    os.makedirs(SF1, exist_ok=True)
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF01}/documents.parquet")
    parts = []
    for k in range(COPIES):
        d = docs.select(
            (F.col("doc_id") + F.lit(k * DOC_STRIDE)).alias("doc_id"),
            (
                F.col("text")
                if k == 0
                else F.concat(F.col("text"), F.lit(f" copymark{k}"))
            ).alias("text"),
            "lang",
            "source",
            (
                F.col("n_chars")
                + F.lit(0 if k == 0 else len(f" copymark{k}"))
            ).alias("n_chars"),
        )
        parts.append(d)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(16).write.mode("overwrite").parquet(
        f"{SF1}/documents.parquet"
    )

    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    eparts = []
    for k in range(COPIES):
        e = emb.select(
            (F.col("vec_id") + F.lit(k * VEC_STRIDE)).alias("vec_id"),
            (
                F.col("embedding")
                if k == 0
                else F.transform(
                    "embedding",
                    lambda v, i: v
                    + F.when(i < 2, F.lit(k * 1e-4)).otherwise(F.lit(0.0)),
                )
            ).alias("embedding"),
            *[c for c in emb.columns if c not in ("vec_id", "embedding")],
        )
        eparts.append(e)
    eout = eparts[0]
    for p in eparts[1:]:
        eout = eout.unionByName(p)
    eout.repartition(8).write.mode("overwrite").parquet(
        f"{SF1}/embeddings.parquet"
    )

    # lineitem: 10 orderkey-offset copies (table_profile's input) —
    # distinct orderkeys grow linearly, the other columns' domains
    # stay constant, row count exactly 10x
    li = spark.read.parquet(f"{SF01}/lineitem.parquet")
    lparts = [
        li.withColumn(
            "l_orderkey", F.col("l_orderkey") + F.lit(k * 100_000_000)
        )
        for k in range(COPIES)
    ]
    lout = lparts[0]
    for p in lparts[1:]:
        lout = lout.unionByName(p)
    dst_li = f"{SF1}/lineitem.parquet"
    if os.path.islink(dst_li):  # pre-V2 symlink
        os.unlink(dst_li)
    lout.repartition(16).write.mode("overwrite").parquet(dst_li)

    # part: 10 partkey-offset copies (stride multiple of 20 keeps
    # every modulus-derived road selection copy-invariant)
    pt = spark.read.parquet(f"{SF01}/part.parquet")
    pparts = [
        pt.withColumn(
            "p_partkey", F.col("p_partkey") + F.lit(k * 10_000_000)
        )
        for k in range(COPIES)
    ]
    pout = pparts[0]
    for p in pparts[1:]:
        pout = pout.unionByName(p)
    dst_pt = f"{SF1}/part.parquet"
    if os.path.islink(dst_pt):  # pre-V3 symlink
        os.unlink(dst_pt)
    pout.repartition(4).write.mode("overwrite").parquet(dst_pt)

    for t in "region nation customer supplier orders events".split():
        dst = f"{SF1}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{SF01}/{t}.parquet", dst)
    v2 = os.path.join(SF1, "_GENERATED_V2")
    if os.path.exists(v2):
        os.unlink(v2)
    open(os.path.join(SF1, "_GENERATED_V3"), "w").write("ok\n")


def _time_query(spark, fn, sf_dir):
    df = fn(spark, sf_dir)
    # structural plan BEFORE adaptive re-optimization: AQE legally
    # picks different join strategies / coalesced exchanges at
    # different data sizes, so the scale-invariance check compares the
    # static physical plan, not the final adaptive one
    static_plan = df._jdf.queryExecution().sparkPlan().toString()
    rows = df.count()
    df.write.mode("overwrite").format("noop").save()
    best = float("inf")
    for _ in range(3):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        best = min(best, time.perf_counter() - t0)
    final_plan = df._jdf.queryExecution().executedPlan().toString()
    return round(best, 3), static_plan, final_plan, rows


def main() -> None:
    from gpd_lite_toolbox_spark.session import get_spark

    spark = get_spark("gpd_lite_toolbox_spark_bench_sf1")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    generate(spark)

    # optional argv subset (round 8): run only the named queries and
    # MERGE their rows into the existing BENCH_SF1.json — the 16-query
    # board no longer fits one driver timeout window, and per-family
    # re-measurement shouldn't re-pay the whole board anyway
    args = sys.argv[1:]
    # an unknown (misspelled) name must fail loudly — silently running
    # zero queries would re-dump the stale board under fresh
    # provenance fields (note/loadavg_end), masquerading as a new run
    unknown = [a for a in args if a not in set(HEADLINE) | set(EAGER)]
    if unknown:
        raise SystemExit(f"bench_sf1: unknown query names {unknown}")
    subset = [a for a in args if a in set(HEADLINE)]
    eager_subset = [a for a in args if a in set(EAGER)]
    names = subset or ([] if args else HEADLINE)
    eager_names = eager_subset or ([] if args else EAGER)
    report: dict[str, dict] = {}
    out_path = os.path.join(REPO, "BENCH_SF1.json")
    if args and os.path.exists(out_path):
        report.update(json.load(open(out_path)).get("queries", {}))

    qs = {**E.queries(), **LOCAL}
    for name in names:
        row: dict = {}
        for label, sf_dir in (("sf0.1", SF01), ("sf1", SF1)):
            sec, static_plan, final_plan, rows = _time_query(
                spark, qs[name], sf_dir
            )
            row[f"{label}_sec"] = sec
            row[f"{label}_rows"] = rows
            row[f"{label}_exchanges"] = static_plan.count("Exchange")
            row[f"{label}_final_exchanges"] = final_plan.count("Exchange")
            if name == "ingest_near_dups":
                row[f"{label}_partition_filtered"] = (
                    "PartitionFilters" in final_plan
                    and "bucket" in final_plan
                )
            if name == "winnow_report":
                # the row IS the drop-mass audit — quote its values in
                # the artifact so the winnow_pairs collapse is priced
                # in-place (r9 VERDICT item 3)
                row[f"{label}_report"] = {
                    k: int(v)
                    for k, v in qs[name](spark, sf_dir)
                    .collect()[0]
                    .asDict()
                    .items()
                }
        row["wall_ratio"] = (
            round(row["sf1_sec"] / row["sf0.1_sec"], 2)
            if row["sf0.1_sec"] > 0
            else None
        )
        row["rows_ratio"] = (
            round(row["sf1_rows"] / row["sf0.1_rows"], 2)
            if row["sf0.1_rows"]
            else None
        )
        # the scale invariant is "no NEW exchanges at 10x": strategy
        # estimates may legally drop an exchange (e.g. a broadcast
        # becomes viable), but a query that grows exchanges with data
        # size has a scale problem
        row["no_exchange_regression"] = (
            row["sf1_exchanges"] <= row["sf0.1_exchanges"]
            and row["sf1_final_exchanges"] <= row["sf0.1_final_exchanges"]
        )
        row["loadavg1"] = round(os.getloadavg()[0], 1)
        report[name] = row
        print(name, json.dumps(row))

    for name in eager_names:
        row = {}
        for label, sf_dir in (("sf0.1", SF01), ("sf1", SF1)):
            sec, rows, rounds, exch = _eager_probe(spark, name, sf_dir)
            row[f"{label}_sec"] = sec
            row[f"{label}_rows"] = rows
            row[f"{label}_cc_rounds"] = rounds
            row[f"{label}_exchanges"] = exch
        row["wall_ratio"] = (
            round(row["sf1_sec"] / row["sf0.1_sec"], 2)
            if row["sf0.1_sec"] > 0
            else None
        )
        row["rows_ratio"] = (
            round(row["sf1_rows"] / row["sf0.1_rows"], 2)
            if row["sf0.1_rows"]
            else None
        )
        row["no_exchange_regression"] = (
            row["sf1_exchanges"] <= row["sf0.1_exchanges"]
        )
        row["timing"] = "eager: construction + count, single run"
        row["loadavg1"] = round(os.getloadavg()[0], 1)
        report[name] = row
        print(name, json.dumps(row))

    out = {
        "note": (
            "sf1 = 10x sf0.1 documents/embeddings generated by bench_sf1.py "
            "(perturbed replicas preserving planted-dup rates); other tables "
            "symlinked. Timing = bench.py methodology (min-of-3 noop writes, "
            "construction/index cost excluded at both scales). Exchange "
            "counts compare the STATIC physical plan (AQE legally re-picks "
            "strategies per scale; final adaptive counts recorded "
            "separately). Workload caveats: the 10 replicas share their "
            "full text minus a per-copy suffix, so every source doc's "
            "copies form a near-dup/shared-substring CLIQUE — pair outputs "
            "(minhash_pairs, substring_spans, ingest_near_dups) grow "
            "~C(10,2)-fold beyond 10x BY CONSTRUCTION (rows_ratio ~310), a "
            "deliberately duplicate-heavy hard case; judge wall ratios "
            "against rows_ratio. ann_ivf_topk and mmr_topk scale BOTH "
            "the query set and the corpus 10x (vec_id%50 sampling), i.e. "
            "~100x scoring work for their wall ratios. "
            "unigram_fertility's output is source-bounded (rows_ratio "
            "1.0) and its DP is vocab-bounded — the 10x corpus adds only "
            "the 10 copymark words to the distinct-word table, so its "
            "wall ratio isolates the corpus-sized word-count aggregate. "
            "Round-8 additions (r7 VERDICT item 6): table_profile reads "
            "a REAL 10x lineitem (orderkey-offset replicas, so distinct "
            "orderkeys grow linearly and the other columns' domains stay "
            "constant); nb_classify/lr_quality/dup_ngram_coverage ride "
            "the 10x corpus; embedding_clusters the 10x embeddings; "
            "unigram_train_em's round-1 DP runs over the big substring "
            "seed of a vocab that gains only the copymark words. "
            "Round-9 additions (r8 VERDICT item 5): winnow_pairs' sf1 "
            "row count COLLAPSES (73 vs 841) rather than exploding — "
            "the 10 replicas share every fingerprint, so shared "
            "fingerprints cross the MOSS max_df cap and are dropped "
            "from the inverted index BY DESIGN (the cap is the "
            "documented skew guard; this corpus is its worst case and "
            "the wall ratio prices the fingerprint scan, not the pair "
            "join). match_line_cluster_fixed_k holds k at the sf0.1 "
            "|A| (seeds from sf0.1) while roads_b rides the 10x part "
            "replication — its sublinear wall ratio is the evidence "
            "that cost past the descriptor build is O(|B|*k), bounded "
            "by the blocking parameter, not the corpus. "
            "Round-10 additions (r9 VERDICT items 2/3/4): "
            "winnow_report's sf1 row is the drop-mass audit for the "
            "winnow_pairs collapse — its n_postings_dropped quantifies "
            "the fingerprint mass the MOSS df cap removes on the "
            "replica-clique corpus. banned_phrase_hits_1k_ac scans a "
            "1024-phrase/20-length synthetic dictionary: the "
            "Aho-Corasick mapInPandas kernel walks each document once "
            "(wall ~flat vs dictionary size/lengths — compare its sf "
            "rows against banned_phrase_hits' 4-phrase rows). "
            "dup_groups_star / dup_groups_incremental / "
            "cc_star_chain are EAGER rows (cc_star's star rounds run "
            "at construction): wall includes construction + one count, "
            "single run, with the star ROUND COUNT recorded per scale "
            "— cc_star_chain is a planted 100k/1M-link chain, label "
            "propagation's diameter-bound worst case, which the "
            "alternating star closes in the recorded O(log^2 n) "
            "rounds at both scales; dup_groups_incremental's clock "
            "starts AFTER day-1 labels + index exist (day-2 cost = "
            "the batch fold, not the corpus)."
        ),
        "cpus": spark.sparkContext.defaultParallelism,
        "loadavg_end": list(os.getloadavg()),
        "queries": report,
    }
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({"total_sf1_sec": round(sum(r["sf1_sec"] for r in report.values()), 2)}))
    spark.stop()


if __name__ == "__main__":
    main()

"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(the sf0.1 fixture by default) on ``session.get_spark``'s local session,
sized from the host, and prints ONE JSON line: {"metric": ..., "value":
total_sec, "unit": "sec", "queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with the noop sink (full materialization,
no driver-side collect cost polluting the measurement).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# headline set: every implemented operator family, weighted toward the
# shapes that matter at scale (binned agg, spatial self-join, NN join)
BENCH_QUERIES = [
    "gridify_stats",
    "make_grid",
    "mean_coords_by_cat",
    "intersects_pairs",
    "borders",
    "shared_border",
    "intersection_part",
    "concave_pairs",
    "multi_to_single",
    "dissolve_country",
    "dissolve_union",
    "random_pts",
    "random_pts_poly",
    "snap_points",
    "knn_points",
    "value_histogram",
    "zorder_keys",
    "crs_mercator",
    "hav_dist",
    "bearing",
    "match_lines",
    "match_lines_ragged",
    # benchable since r8: the relational Lloyd replaced the eager
    # pyspark.ml fit — construction is one bounded k-row seed collect,
    # the clustering itself is the timed lazy plan
    "match_line_cluster",
    "exact_dedup",
    "minhash_pairs",
    "dup_groups",
    "geojson_roundtrip",
    "spatialite_roundtrip",
    "wkt_roundtrip",
    "ngram_jaccard",
    # substrate_day2 times the day-2 SERVING path: the one-time fold
    # materialization runs eagerly at query construction (the
    # ingest_near_dups artifact pattern); the timed portion is the
    # parquet-fed query a production pipeline actually re-runs
    "substrate_day2",
    "simhash",
    "simhash_local",
    "token_stats",
    "repetition_stats",
    "quality",
    "lang_id",
    "fingerprint",
    "clean_corpus",
    "pack_sequences",
    "stratified_sample",
    "tfidf_topk",
    "bm25_topk",
    "pii_scan",
    "boilerplate_lines",
    "shard_corpus",
    "quantize_int8",
    "url_stats",
    "stream_interval_join",
    "chunk_documents",
    "build_vocab",
    "sample_k_per_group",
    "normalize_corpus",
    "top_users_daily",
    "asof_prev_event",
    "range_neighborhood",
    "event_transitions",
    "doc_profile",
    "docs_rollup",
    "docs_cube",
    "resample_ffill",
    "corpus_diff",
    "cdc_snapshot",
    "approx_distinct_audit",
    "label_centroids",
    "quality_funnel",
    "regex_tokens",
    "json_props_stats",
    "split_corpus",
    "unigram_logprob",
    "dedup_canonical",
    "salted_join_stats",
    "approx_percentile_audit",
    "warc_roundtrip",
    "html_extract",
    "split_leakage",
    "substring_spans",
    "weighted_sample",
    "ingest_near_dups",
    "nb_classify",
    "fuzzy_vocab",
    "weighted_sample_grouped",
    "hybrid_topk",
    "gopher_rules",
    "semantic_dedup",
    "dup_ngram_coverage",
    "source_quality",
    "mixture_plan",
    "drop_reasons",
    "curation_ledger",
    "lr_quality",
    "event_trend",
    "stream_quality_gate",
    "paragraph_dedup",
    "perplexity_buckets",
    "source_overlap",
    "xml_roundtrip",
    "link_graph",
    "url_dedup",
    "bigram_pmi",
    "token_spectrum",
    "temperature_mix",
    "jl_project",
    "domain_pagerank",
    "compaction_plan",
    "hash_features",
    "skew_stats",
    "bpe_pair_counts",
    "kmv_distinct",
    "length_buckets",
    "script_profile",
    "semantic_decontaminate",
    "anchor_stats",
    "ngram_containment",
    "hilbert_keys",
    "unigram_divergence",
    "frame_dedup",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "embedding_clusters",
    "bpe_fertility",
    "unigram_fertility",
    "unigram_encode",
    "unigram_train",
    "unigram_train_em",
    "wordpiece_encode",
    "wordpiece_fertility",
    "fim_split",
    "dsir_weights",
    "winnow_pairs",
    "winnow_report",
    "bpe_encode",
    "dedup_threshold_curve",
    # bpe_merges deliberately NOT benched: the iterative training runs
    # eagerly at query construction (argmax collect per merge), so a
    # timed noop-write of the 8-row result would be bench dishonesty;
    # bpe_pair_counts times the real counting substrate instead.
    # wordpiece_train NOT benched for the same reason (same loop,
    # likelihood argmax); wordpiece_encode/fertility time the family.
    "dq_audit",
    "ann_topk",
    "mmr_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "find_borders",
    "grid_cut",
    "grid_cut_hull",
    "isochrone_bands",
    "isochrone_polys",
    "events_window",
    "sessionize",
    "session_window",
    "stream_dedup",
    "stream_near_dedup",
    "stream_cdc",
    "decontaminate",
    "hull_stats",
    "domain_mixture",
    "jsonl_roundtrip",
    "csv_roundtrip",
    "orc_roundtrip",
    # ngram_jaccard_prefix is deliberately NOT benched: it is the
    # exhaustive exact-reference baseline (no df cap), quadratic-ish
    # on stop-shingle-heavy corpora like the fixture's word soup; the
    # scale path is ngram_jaccard (df-capped) / minhash_pairs.
    "stream_decontaminate",
    "classify_values",
    "rate_anomaly",
    "media_features",
    "dorling_radius",
    "dorling_radius2",
    "cartogram",
    "dorling_stats",
    "media_pipeline",
    "audio_chunks",
    "idw_interpolation",
    "isochrone_surface",
    "embedding_dups",
    "tpch_pricing",
    "revenue_by_nation",
    "top_customers",
    # round-4 session-9 additions
    "span_removal",
    "simhash_pairs",
    "bloom_decontaminate",
    "cms_heavy_hitters",
    "embedding_outliers",
    "hard_negatives",
    "curriculum_order",
    "weak_labels",
    "lf_diagnostics",
    "rabin_chunks",
    "chunk_dedup_stats",
    "bigram_logprob",
    "kn_bigram",
    "quality_blend",
    "conversion_funnel",
    "retention_cohorts",
    "repeated_ngrams",
    "table_profile",
    "tpch_shipping",
    "retrieval_metrics",
    "epoch_expand",
    "session_paths",
    "dau_wau",
    "profile_drift",
    "scene_changes",
    # round 9: dup_groups_star times the same pair substrate as
    # dup_groups with the star closure's final label join (the
    # alternation itself runs eagerly at construction, exactly like
    # dup_groups' propagation rounds — symmetric treatment);
    # dup_groups_incremental deliberately NOT benched: the index
    # write, the probe, AND the incremental closure all run eagerly
    # at query construction (the ingest_near_dups + hits_scores
    # classes combined); ingest_near_dups + dup_groups_star time its
    # substrates. perplexity_buckets_trigram times the scorer-hook
    # composition over the trigram stack. stream_banned_phrases and
    # stream_banned_phrases_ac NOT benched (both drain eagerly at
    # construction, the stream_curation_ledger class);
    # banned_phrase_hits / banned_phrase_hits_ac both time the one
    # Aho-Corasick scan (two declared names, one query function).
    "dup_groups_star",
    "banned_phrase_hits",
    "banned_phrase_hits_ac",
    "contamination_report",
    "trigram_logprob",
    "kn_trigram_logprob",
    "perplexity_buckets_trigram",
    # ann_ivf_deleted deliberately NOT benched: index write, delete,
    # compaction, and the before/after comparison all run EAGERLY at
    # query construction (same class as bpe_merges); ann_ivf_topk
    # times the search substrate.
    # dedup_pr deliberately NOT benched: its ground-truth side IS the
    # exhaustive ngram_jaccard_prefix baseline excluded above (12 s at
    # sf0.1 — the quadratic-ish truth, not the operator under test);
    # simhash_pairs times the candidate substrate.
    # stream_ingest_near_dups deliberately NOT benched: the stream
    # drains eagerly at query construction (foreachBatch probes write
    # the result parquet; the returned frame just reads it back), so a
    # timed noop-write would measure a parquet read (same class as
    # bpe_merges); ingest_near_dups times the probe substrate itself.
    # stream_curation_ledger deliberately NOT benched for the same
    # reason; curation_ledger times the full decision stack.
    # hits_scores / leakage_safe_split deliberately NOT benched: like
    # bpe_merges, their iterative work (HITS power steps / dup-group
    # label propagation) runs eagerly at query construction via
    # localCheckpoint, so a timed noop-write of the small result would
    # be bench dishonesty; domain_pagerank / dup_groups time the same
    # substrates.
]


def _round_board_path(
    repo_dir: str, this_round: int, overwrite: bool = False
) -> str:
    """APPEND-ONLY round-stamped board path (round-9 VERDICT item 6 /
    What's-wrong item 1): the driver's post-commit bench run used to
    OVERWRITE the builder's committed quiet board in the working tree,
    so anyone reading the file instead of the commit saw the noisy
    post-commit numbers. Every bench run on this host has a distinct
    fingerprint (uptime always advances, loadavg regime differs), so a
    pre-existing BENCH_FULL_r{N}.json is by construction a DIFFERENT
    run — never clobber it; version the new board as
    BENCH_FULL_r{N}.post{M}.json instead. A builder deliberately
    refreshing its own in-flight board opts in with
    SPARK_GRAFT_BENCH_OVERWRITE=1."""
    base = os.path.join(repo_dir, f"BENCH_FULL_r{this_round:02d}.json")
    if overwrite or not os.path.exists(base):
        return base
    n = 1
    while True:
        cand = os.path.join(
            repo_dir, f"BENCH_FULL_r{this_round:02d}.post{n}.json"
        )
        if not os.path.exists(cand):
            return cand
        n += 1


def main() -> None:
    from gpd_lite_toolbox_spark.session import get_spark

    spark = get_spark("gpd_lite_toolbox_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism

    import __spark_entry__ as E

    # Warm the Python worker pool before timing: the first pandas-UDF
    # stage otherwise pays one worker spin-up per core, charging a fixed
    # local-mode startup cost to whichever query happens to run first (a
    # long-lived cluster amortizes this to zero).
    from pyspark.sql import functions as F

    @F.pandas_udf("double")
    def _warm(v):
        return v

    spark.range(0, cpus * 4, 1, cpus).select(
        _warm(F.col("id").cast("double"))
    ).write.mode("overwrite").format("noop").save()

    # ... and warm the PACKAGE import inside those workers (numpy,
    # pandas, the shipped zip): the first package-defined Arrow kernel
    # otherwise charges ~1-2 s of per-worker imports to one query.
    from gpd_lite_toolbox_spark.vector.ann import _dot_arrow

    _arr = F.array(*[F.lit(float(i)) for i in range(4)])
    spark.range(0, cpus * 4, 1, cpus).select(
        _dot_arrow(4)(_arr, _arr)
    ).write.mode("overwrite").format("noop").save()

    # Host-load telemetry (round-7 VERDICT items 2/7): record enough
    # about the shared noisy host that a cross-round wall-time drift
    # can be adjudicated from the artifacts alone ("noise or
    # regression?") without git archaeology or a re-run.
    def _uptime() -> float | None:
        try:
            with open("/proc/uptime") as fh:
                return float(fh.read().split()[0])
        except OSError:
            return None

    host = {
        "cpus": os.cpu_count(),
        "loadavg_start": list(os.getloadavg()),
        "uptime_sec": _uptime(),
    }

    # Janino compiles, read around (never inside) the timed runs: the
    # warm-up below claims only compile state stays warm, so a query
    # whose timed runs still compile plans new code on every run or
    # has outgrown the codegen cache
    codegen_metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    janino = codegen_metrics.METRIC_COMPILATION_TIME()

    qs = E.queries()
    timings: dict[str, float] = {}
    load1: dict[str, float] = {}
    compiles: dict[str, int] = {}
    errors: dict[str, str] = {}
    for name in BENCH_QUERIES:
        if name not in qs:
            continue
        # one failing query must not zero out the whole bench run
        # (round 2: a TIMESTAMP_NTZ regression in one query crashed
        # the harness and recorded NO numbers) — record and continue.
        try:
            df = qs[name](spark, SF_DIR)
            # steady-state timing: the first execution charges one-time
            # per-plan costs (Janino codegen compile, JIT, scan-footer
            # caches) that a long-lived engine amortizes across runs —
            # measured up to 3 s on queries whose steady state is 0.1 s.
            # Run once to warm, then time with the DataFrame cache
            # cleared so operators that persist() intermediates still
            # pay their real work — only compile state stays warm.
            df.write.mode("overwrite").format("noop").save()
            # min of three timed executions: the container shares a
            # noisy host (identical code has measured 2 s and 19 s
            # within one minute, and r5's end-of-round snapshot drifted
            # ~1.3-1.9x vs the same code's quiet mid-round run); the
            # min is the honest steady-state figure a quiet machine
            # reproduces, not a lucky cache, and three samples make a
            # single-burst collision twice as unlikely as two.
            best = float("inf")
            n_compiled = janino.getCount()
            for _ in range(3):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
                best = min(best, time.perf_counter() - t0)
            compiles[name] = janino.getCount() - n_compiled
            timings[name] = round(best, 3)
            # 1-min loadavg right after the query: a row that doubled
            # under loadavg 40 on a 32-cpu host is noise, not a
            # regression (full map only — the printed line stays small)
            load1[name] = round(os.getloadavg()[0], 1)
        except Exception as e:  # noqa: BLE001 - harness must survive
            errors[name] = f"{type(e).__name__}: {e}"[:300]

    m = re.search(r"sf([\d.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else None
    full = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "host": {**host, "loadavg_end": list(os.getloadavg())},
        "loadavg_after_query": load1,
        "codegen_compiles": compiles,
    }
    if errors:
        full["errors"] = errors
    # The driver records the TAIL of stdout; a ~180-entry query map
    # overflowed its capture window in round 4 (BENCH_r04.json parsed:
    # null, per-query times unrecoverable). Keep the printed line
    # compact — totals + the top-30 slowest (the only per-query
    # numbers a regression diff acts on) — and write the FULL map
    # next to the harness for the complete record.
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    full_path = os.path.join(repo_dir, "BENCH_FULL.json")
    with open(full_path, "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)
    # ... and a per-round copy (round inferred from the driver's
    # BENCH_r{N}.json artifacts: the in-flight round is max+1), so
    # cross-round per-query diffs don't depend on git archaeology over
    # the overwritten BENCH_FULL.json (round-6 VERDICT item 7).
    import glob

    rounds = [
        int(re.search(r"BENCH_r(\d+)\.json$", p).group(1))
        for p in glob.glob(os.path.join(repo_dir, "BENCH_r*.json"))
        if re.search(r"BENCH_r(\d+)\.json$", p)
    ]
    this_round = (max(rounds) if rounds else 0) + 1
    board_path = _round_board_path(
        repo_dir,
        this_round,
        overwrite=os.environ.get("SPARK_GRAFT_BENCH_OVERWRITE") == "1",
    )
    with open(board_path, "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)
    top = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:30]
    )
    out = {
        "metric": full["metric"],
        "value": full["value"],
        "unit": "sec",
        "n_queries": len(timings),
        "queries": top,
        "sf": sf,
        "host": full["host"],
        # per-query 1-min loadavg for the printed top-30 (r10 VERDICT
        # "What's wrong" #4, additions-only): PERF adjudication can
        # noise-flag a row from stdout alone — a query timed under
        # loadavg 7 on a 32-cpu host is host noise, not a plan
        # regression — without digging the full board out of the repo.
        "loadavg_after_query": {
            q: load1[q] for q in top if q in load1
        },
        "full_map": "BENCH_FULL.json",
    }
    if errors:
        out["errors"] = errors
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

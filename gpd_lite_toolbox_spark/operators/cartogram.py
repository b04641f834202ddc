"""Cartogram operators (reference core.py:199-230 + cycartogram.pyx, and
core.py:690-748 non-contiguous/Dorling).

``transform_cartogram`` — continuous (Dougenik et al. 1985) cartogram.
Per iteration (reference cycartogram.pyx:131-180 getinfo /
:182-253 transform_geom semantics):

  fraction = total_area / total_value
  desired_i = value_i * fraction
  radius_i  = sqrt(area_i / pi);  mass_i = sqrt(desired_i/pi) - radius_i
  reduction = 1 / (mean(max(a,d)/min(a,d)) + 1)
  for each vertex v (original position v0 per iteration):
      for each feature j:  d = |v0 - c_j|
          F = mass_j * r_j / d                 if d > r_j
            = mass_j * (d/r_j)^2 (4 - 3 d/r_j) otherwise
          v += (v0 - c_j) * F * reduction / d

Spark shape: the per-feature stats table is tiny (a cartogram is
thousands of features at most) — one agg+collect per iteration; the
O(V x F) vertex displacement runs as an Arrow-batched mapInPandas with
the stats broadcast in the closure, fully numpy-vectorized per batch.
This is the reference's Cython ``nogil`` loop re-expressed as
data-parallel work over partitions: V scales out, F rides along.

``non_contiguous_cartogram`` — Dorling-style: per-feature circle radius
from the all-pairs scale factor (utils.py:106-124, a cross-join
aggregate in Spark), then a sequential overlap-relaxation on collected
centroids (bounded driver step, as SURVEY.md §2 #13 plans).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import release, tracked_persist
from ..geometry import wkb as W
from ..geometry.functions import st_area, st_centroid_xy


def _feature_stats(gdf: DataFrame, value_col: str, id_col: str) -> pd.DataFrame:
    stats = gdf.select(
        F.col(id_col).alias("fid"),
        F.col(value_col).cast("double").alias("value"),
        st_area("geometry").alias("area"),
        st_centroid_xy("geometry").alias("_c"),
    ).select("fid", "value", "area", F.col("_c.x").alias("cx"), F.col("_c.y").alias("cy"))
    return stats.toPandas()


def _dougenik_params(st: pd.DataFrame) -> tuple[np.ndarray, float]:
    """(F,4) array [cx, cy, radius, mass] + force reduction factor."""
    area_total = float(st.area.sum())
    value_total = float(st.value.sum())
    fraction = area_total / value_total
    desired = st.value.to_numpy() * fraction
    area = np.maximum(st.area.to_numpy(), 0.0)
    if not (area > 0).all():  # NaN-safe: NaN fails > like <= (see value check)
        # a zero-area feature would make size_err infinite, driving the
        # force-reduction factor to 0 and silently freezing every vertex
        raise ValueError("cartogram features must have positive area")
    radius = np.sqrt(area / math.pi)
    mass = np.where(desired > 0, np.sqrt(desired / math.pi) - radius, 0.0)
    size_err = np.maximum(area, desired) / np.minimum(area, desired)
    reduction = 1.0 / (float(size_err.mean()) + 1.0)
    params = np.column_stack(
        [st.cx.to_numpy(), st.cy.to_numpy(), radius, mass]
    )
    return params, reduction


def _displace(coords: np.ndarray, params: np.ndarray, reduction: float) -> np.ndarray:
    """Vectorized Dougenik vertex displacement: coords (N,2) vs params
    (F,4) -> new (N,2). O(N*F) numpy, the Cython loop's math verbatim."""
    cx = params[:, 0][None, :]
    cy = params[:, 1][None, :]
    r = params[:, 2][None, :]
    m = params[:, 3][None, :]
    dx = coords[:, 0:1] - cx
    dy = coords[:, 1:2] - cy
    dist = np.sqrt(dx * dx + dy * dy)
    with np.errstate(divide="ignore", invalid="ignore"):
        xf = dist / r
        f_near = m * xf * xf * (4.0 - 3.0 * xf)
        f_far = m * r / dist
        fij = np.where(dist > r, f_far, f_near) * (reduction / dist)
        fij = np.nan_to_num(fij, nan=0.0, posinf=0.0, neginf=0.0)
    out = coords.copy()
    out[:, 0] += (dx * fij).sum(axis=1)
    out[:, 1] += (dy * fij).sum(axis=1)
    return out


def _transform_wkb_batch(
    geoms: pd.Series, params: np.ndarray, reduction: float
) -> pd.Series:
    out = []
    for g in geoms:
        t, payload = W.decode(bytes(g))
        if t == "Polygon":
            rings = [
                _displace(np.asarray(r, float), params, reduction)
                for r in payload
            ]
            out.append(W.polygon_wkb(rings))
        elif t == "MultiPolygon":
            polys = [
                [
                    _displace(np.asarray(r, float), params, reduction)
                    for r in rings
                ]
                for rings in payload
            ]
            out.append(W.multipolygon_wkb(polys))
        else:
            raise ValueError(f"cartogram expects polygons, got {t}")
    return pd.Series(out)


def transform_cartogram(
    gdf: DataFrame,
    field_name: str,
    iterations: int = 5,
    id_col: str = "id",
    geometry: str = "geometry",
) -> DataFrame:
    """Continuous cartogram: returns the input with ``geometry`` replaced
    by the transformed polygons. Validates a strictly positive numeric
    value field (cycartogram.pyx:62-67). The result is persisted and
    tracked: ``release_caches()`` frees it."""
    if iterations <= 0:
        raise ValueError("iterations must be >= 1")
    dtype = dict(gdf.dtypes).get(field_name)
    if dtype not in ("bigint", "double", "int", "float"):
        raise ValueError("value field must be numeric")
    cur = prev = gdf
    for _ in range(iterations):
        # the stats pass materializes cur's cache; once it has, the
        # PREVIOUS iteration's cache is dead — release it so storage
        # holds at most two copies of the layer, not `iterations` copies
        st = _feature_stats(cur, field_name, id_col)
        if prev is not gdf:
            release(prev)
        # not (v > 0).all(), NOT (v <= 0).any(): NaN (a NULL value
        # field cast to double) compares False on BOTH <= and >, and
        # would otherwise slip through, poison every per-iteration
        # statistic, and freeze the whole transform into a silent no-op
        if not (st.value > 0).all():
            raise ValueError(
                "cartogram value field must be > 0 and non-null"
            )
        params, reduction = _dougenik_params(st)

        def mapper(batches, _p=params, _r=reduction, _g=geometry):
            for pdf in batches:
                pdf = pdf.copy()
                pdf[_g] = _transform_wkb_batch(pdf[_g], _p, _r)
                yield pdf

        prev = cur
        cur = tracked_persist(cur.mapInPandas(mapper, schema=cur.schema))
    return cur


def dorling_radius(
    gdf: DataFrame, value_col: str, ratio: float, id_col: str = "id"
) -> DataFrame:
    """Per-feature Dorling circle radius (utils.py:106-124): all-pairs
    scale factor as a cross-join aggregate (never a dense matrix), then
    radius_i = sqrt(v_i/pi) * scale * ratio * l2_normalized_area_i.

    Expects centroid columns cx, cy and an ``area`` column (callers with
    geometry use st_centroid_xy/st_area first).
    """
    base = gdf.select(
        F.col(id_col).alias("id"),
        F.col(value_col).cast("double").alias("v"),
        "cx",
        "cy",
        F.col("area").cast("double").alias("area"),
    )
    a = base.select(
        F.col("id").alias("ia"), F.col("v").alias("va"),
        F.col("cx").alias("xa"), F.col("cy").alias("ya"),
    )
    b = base.select(
        F.col("id").alias("ib"), F.col("v").alias("vb"),
        F.col("cx").alias("xb"), F.col("cy").alias("yb"),
    )
    pi = math.pi
    pairs = a.crossJoin(b).filter(F.col("ia") != F.col("ib"))
    sums = pairs.agg(
        F.sum(
            F.sqrt(
                (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
                + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
            )
        ).alias("cum_dist"),
        F.sum(F.sqrt(F.col("va") / pi) + F.sqrt(F.col("vb") / pi)).alias(
            "cum_rad"
        ),
    )
    norm = base.agg(
        F.sqrt(F.sum(F.col("area") * F.col("area"))).alias("area_l2")
    )
    return (
        base.crossJoin(F.broadcast(sums))
        .crossJoin(F.broadcast(norm))
        .select(
            "id",
            F.round(
                F.sqrt(F.col("v") / pi)
                * (F.col("cum_dist") / F.col("cum_rad"))
                * F.lit(float(ratio))
                * (F.col("area") / F.col("area_l2")),
                6,
            ).alias("radius"),
        )
    )


def dorling_radius2(
    gdf: DataFrame,
    shared: DataFrame,
    value_col: str,
    ratio: float,
    id_col: str = "id",
) -> DataFrame:
    """Shared-border-weighted Dorling radius (utils.py:127-147): the
    all-pairs distance sum is weighted by fp/2 where
    fp = |round(share_ij / share_i_total, 2) - 1| — non-touching pairs
    get fp = 1 (the reference reads uninitialized memory there, an
    np.empty bug; the intended zero-share semantics are implemented).

    ``shared``: (left_id, right_id, shared_border_len) pair table from
    ``l_shared_border``. Same output shape as ``dorling_radius``.
    """
    base = gdf.select(
        F.col(id_col).alias("id"),
        F.col(value_col).cast("double").alias("v"),
        "cx",
        "cy",
        F.col("area").cast("double").alias("area"),
    )
    tot = shared.groupBy("left_id").agg(
        F.sum("shared_border_len").alias("share_tot")
    )
    a = base.select(
        F.col("id").alias("ia"), F.col("v").alias("va"),
        F.col("cx").alias("xa"), F.col("cy").alias("ya"),
    )
    b = base.select(
        F.col("id").alias("ib"), F.col("v").alias("vb"),
        F.col("cx").alias("xb"), F.col("cy").alias("yb"),
    )
    pi = math.pi
    pairs = (
        a.crossJoin(b)
        .filter(F.col("ia") != F.col("ib"))
        .join(
            shared.select(
                F.col("left_id").alias("ia"),
                F.col("right_id").alias("ib"),
                "shared_border_len",
            ),
            ["ia", "ib"],
            "left",
        )
        .join(F.broadcast(tot.withColumnRenamed("left_id", "ia")), "ia", "left")
    )
    share = F.coalesce(F.col("shared_border_len"), F.lit(0.0))
    share_tot = F.coalesce(F.col("share_tot"), F.lit(0.0))
    fp = F.abs(
        F.round(
            F.when(share_tot > 0, share / share_tot).otherwise(F.lit(0.0)), 2
        )
        - 1.0
    )
    dist = F.sqrt(
        (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
        + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
    )
    sums = pairs.agg(
        F.sum(dist * (fp / 2.0)).alias("cum_dist"),
        F.sum(F.sqrt(F.col("va") / pi) + F.sqrt(F.col("vb") / pi)).alias(
            "cum_rad"
        ),
    )
    norm = base.agg(
        F.sqrt(F.sum(F.col("area") * F.col("area"))).alias("area_l2")
    )
    return (
        base.crossJoin(F.broadcast(sums))
        .crossJoin(F.broadcast(norm))
        .select(
            "id",
            F.round(
                F.sqrt(F.col("v") / pi)
                * (F.col("cum_dist") / F.col("cum_rad"))
                * F.lit(float(ratio))
                * (F.col("area") / F.col("area_l2")),
                4,
            ).alias("radius"),
        )
    )


def non_contiguous_cartogram(
    gdf: DataFrame,
    value_col: str,
    ratio: float = 0.8,
    n_iter: int = 4,
    tol: float = 0.0,
    id_col: str = "id",
) -> DataFrame:
    """Dorling relaxation: circles at feature centroids sized by
    ``dorling_radius``, pushed apart until no pair overlaps beyond
    ``tol``. The pairwise relaxation is sequential by nature (reference
    core.py:690-748): it runs on the COLLECTED centroid table — bounded,
    cartogram-sized — while the radius computation stays distributed.

    Output: (id, cx, cy, radius) — final circle placements.

    HASH-GATED since r7 (oracles.DORLING_CARTOGRAM replays the exact
    sequential walk as a recursive CTE with a list_reduce inner fold),
    which pins two arithmetic choices:
    - distances via ``sqrt(dx*dx + dy*dy)``, not ``math.hypot`` —
      hypot's libm result is not the correctly-rounded IEEE op
      sequence SQL's SQRT(+,*) chain computes, and a 1-ulp split
      flips borderline overlap tests and diverges the whole walk;
    - final coordinates through the 1e-9-shifted round
      (numerics-module recipe) so engine rounding agrees at the
      lattice midpoints (coordinate magnitude ~1e5 keeps the shift
      two orders above double ulp).
    """
    rad = dorling_radius(gdf, value_col, ratio, id_col)
    joined = gdf.select(
        F.col(id_col).alias("id"), "cx", "cy"
    ).join(rad, "id")
    pdf = joined.toPandas().sort_values("id", ignore_index=True)
    xs = pdf.cx.to_numpy().copy()
    ys = pdf.cy.to_numpy().copy()
    rs = pdf.radius.to_numpy()
    n = len(pdf)
    for _ in range(n_iter):
        moved = False
        for i in range(n):
            for j in range(n):
                if i == j:
                    continue
                dx = xs[i] - xs[j]
                dy = ys[i] - ys[j]
                d = math.sqrt(dx * dx + dy * dy)
                min_d = rs[i] + rs[j] - tol
                if d < min_d and d > 0:
                    push = (min_d - d) / 2.0
                    xs[i] += dx / d * push
                    ys[i] += dy / d * push
                    moved = True
        if not moved:
            break
    out = pd.DataFrame(
        {
            "id": pdf.id,
            "cx": np.round(xs + 1e-9, 6),
            "cy": np.round(ys + 1e-9, 6),
            "radius": rs,
        }
    )
    spark = gdf.sparkSession
    # ONE partition: the placement table is cartogram-sized by contract
    # and createDataFrame parallelizes to defaultParallelism otherwise —
    # a downstream self-join then runs |p|^2 cartesian TASKS (measured
    # 1024 tasks / ~10 s at sf0.1 for a 100-row table). repartition,
    # NOT coalesce: coalesce(1) makes one task pull every pickled
    # parent slice through sequential Python-runner roundtrips
    # (measured 3.7 s/action); repartition keeps the 32 slice
    # evaluations parallel ahead of the 1-partition exchange (0.05 s).
    return spark.createDataFrame(out).repartition(1)

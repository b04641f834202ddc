"""Product quantization (PQ) for approximate nearest neighbor — the
compressed-domain tier of the ANN family (Jégou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI 2011).

Each vector splits into ``M_SUB`` subspaces; each subspace is vector-
quantized against its own ``K_CODES``-entry codebook, so a 64-dim
float vector compresses to 8 small codes, and query-to-vector L2
distance is approximated by ADC (asymmetric distance computation): a
per-query lookup table of query-subvector-to-centroid distances,
summed at the code positions — no float vector is touched at search
time.

Scale design: encoding is a pure Catalyst projection over literal
codebooks (higher-order folds, never unrolled arithmetic — the
jl_project 64 KB-codegen lesson); the search scans CODES (m bytes per
vector instead of 4·dims), the per-query LUT (m·k doubles) rides a
broadcast, and the top-k is a WindowGroupLimit rank. Training
(``fit_pq``) is relational Lloyd iteration on the subvector table —
per-iteration state is the m·k·sub_dim centroid table (tiny), and the
assignment join fans out k per subvector row, never |corpus|².

Two codebook sources, deliberately:

- ``default_codebooks()`` — md5-derived deterministic codebooks. Not
  trained, but EXACTLY reproducible in any engine, which makes the
  full encode + ADC search path hash-gateable against DuckDB (the
  ann_lsh precedent: gate the algorithm's replay, pin the quality
  separately).
- ``fit_pq()`` — real Lloyd-trained codebooks (data-dependent,
  iterative, not SQL-expressible). Quality is pytest-pinned: trained
  distortion strictly beats the md5 codebooks', and trained ADC
  recall@10 beats untrained on the fixture.

This module holds the codec: the encode and LUT kernels, the
in-memory searches (``ann_pq_topk``, ``ann_ivfpq_topk``) and the
trainers (``fit_pq``, ``fit_ivfpq``). It does no I/O. The persisted
IVF-PQ index is the IVF index of ``vector/ann.py`` written with
``codebooks``: the same router, cell layout, appends, deletes and
compaction as the raw-vector codec.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cache import scoped_release, tracked_persist

M_SUB = 8
K_CODES = 16
DIMS = 64


def default_codebooks(
    m: int = M_SUB, k: int = K_CODES, dims: int = DIMS
) -> list:
    """Deterministic md5-derived codebooks in the fixture's value
    range ([-0.25, 0.25)) — the cross-engine-replayable source the
    hash gate uses; ``fit_pq`` is the quality path."""
    sd = dims // m
    return [
        [
            [
                ((int(hashlib.md5(f"pq_{j}_{c}_{d}".encode())
                      .hexdigest()[:8], 16) % 501) - 250) / 1000.0
                for d in range(sd)
            ]
            for c in range(k)
        ]
        for j in range(m)
    ]


def _lit(x) -> "F.Column":
    """A float, or nested lists of floats (centroids, codebooks), as a
    Spark literal of nested arrays of doubles."""
    if np.ndim(x) == 0:
        return F.lit(float(x))
    return F.array(*[_lit(v) for v in x])


def _sub_d2(sub_vec, cent):
    """L2² between a subvector and one centroid: left-to-right fold
    from 0.0 — the accumulation order the DuckDB oracle unrolls."""
    return F.aggregate(
        F.zip_with(
            sub_vec,
            cent,
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def encode_pq_expr(vec_col, codebooks) -> "F.Column":
    """array<int> of M codes: per subspace, the index of the nearest
    centroid (strict-< fold keeps the FIRST minimum — the same tie
    rule as the oracle's list_position(list_min))."""
    m = len(codebooks)
    k = len(codebooks[0])
    sd = len(codebooks[0][0])
    cb = _lit(codebooks)
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col

    def code_for(j):
        sub = F.slice(vec, (j * sd + 1).cast("int"), sd)
        cbj = F.element_at(cb, (j + 1).cast("int"))
        best = F.aggregate(
            F.sequence(F.lit(0), F.lit(k - 1)),
            F.struct(
                F.lit(float("inf")).alias("d"),
                F.lit(-1).cast("int").alias("c"),
            ),
            lambda acc, c: F.when(
                _sub_d2(sub, F.element_at(cbj, (c + 1).cast("int")))
                < acc["d"],
                F.struct(
                    _sub_d2(
                        sub, F.element_at(cbj, (c + 1).cast("int"))
                    ).alias("d"),
                    c.cast("int").alias("c"),
                ),
            ).otherwise(acc),
        )
        return best["c"]

    return F.transform(F.sequence(F.lit(0), F.lit(m - 1)), code_for)


def query_lut_expr(vec_col, codebooks) -> "F.Column":
    """array<array<double>> LUT: lut[j][c] = L2² from the query's
    j-th subvector to codebook centroid c (the ADC table)."""
    m = len(codebooks)
    k = len(codebooks[0])
    sd = len(codebooks[0][0])
    cb = _lit(codebooks)
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda c: _sub_d2(
                F.slice(vec, (j * sd + 1).cast("int"), sd),
                F.element_at(
                    F.element_at(cb, (j + 1).cast("int")),
                    (c + 1).cast("int"),
                ),
            ),
        ),
    )


def _nearest(X, C):
    """Per row of ``X``, the index of the nearest row of ``C``: L2²
    accumulated dim by dim in order, first minimum on ties — the
    float64 op order of the fold forms and of the DuckDB oracles."""
    d2 = np.zeros((X.shape[0], C.shape[0]))
    for i in range(C.shape[0]):
        acc = np.zeros(X.shape[0])
        for d in range(C.shape[1]):
            t = X[:, d] - C[i, d]
            acc = acc + t * t
        d2[:, i] = acc
    return np.argmin(d2, axis=1).astype(np.int32)


def _pq_codes(X, cb):
    """(n, m) PQ codes of the rows of ``X`` under codebooks (m, k, sd)."""
    sd = cb.shape[2]
    return np.stack(
        [_nearest(X[:, j * sd : (j + 1) * sd], cb[j]) for j in range(len(cb))],
        axis=1,
    )


def _encode_arrow(codebooks):
    """Arrow-vectorized PQ encoder for the HOT corpus side: per
    subspace, distances to all centroids accumulate SEQUENTIALLY over
    the dims axis while vectorizing over rows — the exact operation
    order of ``encode_pq_expr``'s fold (same float64 ops, same order,
    same strict-first argmin), so the two forms are bit-identical and
    the DuckDB gate holds. Why Python: the interpreted fold costs
    m·k·sub_dim lambda steps per row (~2k for 8x16x8), measured 10 s
    for 500 rows; numpy does the same arithmetic as m·k·sub_dim
    column ops per Arrow batch (the _dot_arrow recipe)."""
    from pyspark.sql.functions import pandas_udf

    cb = np.asarray(codebooks, dtype=np.float64)  # (m, k, sd)

    @pandas_udf("array<int>")
    def enc(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        X = np.vstack(v.to_numpy()).astype(np.float64)  # (n, dims)
        return pd.Series(list(_pq_codes(X, cb)))

    # deterministic value; the flag pins a single evaluation (the
    # _dot_arrow recipe)
    return enc.asNondeterministic()


def ann_pq_topk(
    queries: DataFrame,
    vectors: DataFrame,
    codebooks=None,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k: encode the corpus once (codes projection), broadcast
    the queries WITH their lookup tables, score by m table lookups per
    pair, rank with WindowGroupLimit. Ascending approximate L2²
    distance; ties break to the smaller neighbor_id.

    Columns: ``(query_id, neighbor_id, adc_d2, rank)``.
    """
    if codebooks is None:
        codebooks = default_codebooks()
    venc = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        _encode_arrow(codebooks)(F.col(vec_col)).alias("codes"),
    )
    qlut = queries.select(
        F.col(id_col).alias("query_id"),
        query_lut_expr(vec_col, codebooks).alias("_lut"),
    )
    return _adc_topk(venc, qlut, len(codebooks), k)


def fit_pq(
    vectors: DataFrame,
    m: int = M_SUB,
    k: int = K_CODES,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = DIMS,
    seed: int = 0,
) -> list:
    """Lloyd-trained codebooks: relational k-means run JOINTLY over
    all m subspaces (the subvector table groups by sub_id). Each
    iteration: broadcast the m·k centroid table, assign every
    subvector to its nearest centroid (fold argmin — k-fan join
    avoided entirely), update centroids as per-dimension means (the
    only exchanges: one (sub, code, dim) aggregate per iteration, on
    a table bounded by m·k·sub_dim). Initialization is deterministic:
    the k md5-smallest vectors per subspace seed the codebooks, so
    training is reproducible run-to-run. Returns the nested-list
    codebooks ``[m][k][sub_dim]``.
    """
    sd = dims // m
    subs = vectors.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.slice(
                    F.col(vec_col), (j * sd + 1).cast("int"), sd
                ),
            )
        ).alias("sub", "sv"),
    ).select(
        "id", "sub", F.transform("sv", lambda x: x.cast("double")).alias("sv")
    )
    with scoped_release():
        subs = tracked_persist(subs)
        # deterministic seeding: k md5-smallest rows per subspace
        wseed = Window.partitionBy("sub").orderBy("_h")
        seeded = (
            subs.withColumn(
                "_h",
                F.md5(
                    F.concat_ws(
                        "_",
                        F.lit(str(int(seed))),
                        F.col("id").cast("string"),
                        F.col("sub").cast("string"),
                    )
                ),
            )
            .withColumn("_rn", F.row_number().over(wseed))
            .filter(F.col("_rn") <= k)
            .select("sub", (F.col("_rn") - 1).alias("code"), "sv")
            .collect()
        )
        cbs = [[None] * k for _ in range(m)]
        for r in seeded:
            cbs[r["sub"]][r["code"]] = [float(x) for x in r["sv"]]
        fallback = default_codebooks(m, k, dims)
        for j in range(m):
            for c in range(k):
                if cbs[j][c] is None:  # corpus smaller than k: md5 fill
                    cbs[j][c] = fallback[j][c]
        for _ in range(int(iters)):
            cb = _lit(cbs)
            cbj = F.element_at(cb, (F.col("sub") + 1).cast("int"))
            best = F.aggregate(
                F.sequence(F.lit(0), F.lit(k - 1)),
                F.struct(
                    F.lit(float("inf")).alias("d"),
                    F.lit(-1).cast("int").alias("c"),
                ),
                lambda acc, c: F.when(
                    _sub_d2(F.col("sv"), F.element_at(cbj, (c + 1).cast("int")))
                    < acc["d"],
                    F.struct(
                        _sub_d2(
                            F.col("sv"),
                            F.element_at(cbj, (c + 1).cast("int")),
                        ).alias("d"),
                        c.cast("int").alias("c"),
                    ),
                ).otherwise(acc),
            )["c"]
            means = (
                subs.withColumn("code", best)
                .select("sub", "code", F.posexplode("sv").alias("dim", "v"))
                .groupBy("sub", "code", "dim")
                .agg(F.avg("v").alias("mv"))
                .collect()
            )
            for r in means:  # empty clusters keep their old centroid
                cbs[r["sub"]][r["code"]][r["dim"]] = float(r["mv"])
    return cbs


def pq_distortion(vectors: DataFrame, codebooks, vec_col: str = "embedding") -> float:
    """Mean L2² reconstruction error under the codebooks — the
    quantity Lloyd descends; the trained-beats-random pytest pins it."""
    m = len(codebooks)
    sd = len(codebooks[0][0])
    cb = _lit(codebooks)
    err = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + _sub_d2(
            F.slice(F.col(vec_col), (j * sd + 1).cast("int"), sd),
            F.element_at(
                F.element_at(cb, (j + 1).cast("int")),
                (F.element_at(F.col("_codes"), (j + 1).cast("int")) + 1)
                .cast("int"),
            ),
        ),
    )
    row = (
        vectors.withColumn(
            "_codes", _encode_arrow(codebooks)(F.col(vec_col))
        )
        .agg(F.avg(err).alias("d"))
        .collect()[0]
    )
    return float(row["d"])


# ------------------------------------------------------------ IVF+PQ
N_COARSE = 8
N_PROBE = 2


def default_coarse_centroids(c: int = N_COARSE, dims: int = DIMS) -> list:
    """md5-derived deterministic coarse centroids (the IVF routing
    layer of the hash-gated IVFPQ path; ``fit_ivfpq`` is the quality
    path). Range matches the fixture's per-dim spread."""
    return [
        [
            ((int(hashlib.md5(f"ivf_{i}_{d}".encode())
                  .hexdigest()[:8], 16) % 251) - 125) / 1000.0
            for d in range(dims)
        ]
        for i in range(c)
    ]


def _ivfpq_arrow(coarse, codebooks):
    """Arrow kernel for the corpus side of IVFPQ: coarse cell (argmin
    over full-dim L2², sequential accumulation), residual against the
    chosen coarse centroid, then PQ codes of the RESIDUAL — one pass,
    one Python crossing. Same op order as the fold forms / the DuckDB
    oracle (first-min ties throughout)."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(coarse, dtype=np.float64)     # (c, dims)
    cb = np.asarray(codebooks, dtype=np.float64)  # (m, k, sd)

    @pandas_udf("struct<cell: int, codes: array<int>>")
    def enc(v: pd.Series) -> pd.DataFrame:
        if len(v) == 0:
            return pd.DataFrame({"cell": [], "codes": []})
        X = np.vstack(v.to_numpy()).astype(np.float64)
        cells = _nearest(X, C)
        codes = _pq_codes(X - C[cells], cb)
        return pd.DataFrame({"cell": cells, "codes": list(codes)})

    return enc.asNondeterministic()


def ann_ivfpq_topk(
    queries: DataFrame,
    vectors: DataFrame,
    coarse=None,
    codebooks=None,
    k: int = 10,
    n_probe: int = N_PROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF + residual PQ — the production composition at 100 TB: the
    coarse quantizer routes every vector to a cell (the inverted
    file), PQ codes quantize the RESIDUAL (vector minus its coarse
    centroid — residuals are small, so the same code budget buys far
    less distortion than raw-vector PQ), and a query ADC-scans only
    its ``n_probe`` nearest cells instead of the corpus.

    Plan shape: corpus side is one Arrow projection (cell + codes) —
    at scale these rows are persisted partitioned BY cell
    (``write_ivf_index`` with ``codebooks``, searched by
    ``ann_ivf_topk_indexed``); the query side broadcasts (query,
    probed-cell, residual-LUT) rows — |Q|·n_probe of them — and the
    join on ``cell`` touches only probed cells. Top-k ranks across a
    query's probed cells together.

    With the default md5-derived coarse centroids + codebooks the
    whole path is hash-gated in DuckDB (oracles.ANN_IVFPQ_TOPK);
    ``fit_ivfpq`` supplies trained layers, quality pytest-pinned.

    Columns: ``(query_id, neighbor_id, adc_d2, rank)``.
    """
    from .ann import _cells, _probes, _search

    if coarse is None:
        coarse = default_coarse_centroids()
    if codebooks is None:
        codebooks = default_codebooks()
    probes = _probes(queries, coarse, codebooks, n_probe, id_col, vec_col)
    cells = _cells(vectors, coarse, codebooks, id_col, vec_col)
    return _search(probes, cells, codebooks, k, None)


def _adc_topk(venc, luts, m, k, on=None) -> DataFrame:
    """Rank (neighbor_id, codes) rows by ADC distance against the
    broadcast query LUTs — joined ``on`` the cell for IVF, every pair
    otherwise: (query_id, neighbor_id, adc_d2, rank)."""
    score = F.round(
        F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, j: acc
            + F.element_at(
                F.element_at(F.col("_lut"), (j + 1).cast("int")),
                (F.element_at(F.col("codes"), (j + 1).cast("int")) + 1)
                .cast("int"),
            ),
        ),
        6,
    )
    w = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    return (
        venc.join(F.broadcast(luts), on)
        .withColumn("adc_d2", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("query_id", "neighbor_id", "adc_d2", "rank")
    )


def fit_ivfpq(
    vectors: DataFrame,
    n_coarse: int = N_COARSE,
    m: int = M_SUB,
    k: int = K_CODES,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = DIMS,
    seed: int = 0,
):
    """(coarse, codebooks) trained layers: the coarse quantizer via
    ml.KMeans (``_fit_ivf``), then PQ codebooks trained on the
    RESIDUALS against the cells the IVF index assigns (``_cells``) —
    the composition the search assumes."""
    from .ann import _cells, _fit_ivf

    coarse = _fit_ivf(vectors, n_coarse, vec_col, seed, 5)
    residuals = _cells(vectors, coarse, None, id_col, vec_col).select(
        F.col("neighbor_id").alias(id_col),
        F.zip_with(
            F.col("nv"),
            F.element_at(_lit(coarse), F.col("cell") + 1),
            lambda x, y: x.cast("double") - y,
        ).alias(vec_col),
    )
    codebooks = fit_pq(
        residuals, m=m, k=k, iters=iters, id_col=id_col,
        vec_col=vec_col, dims=dims, seed=seed,
    )
    return coarse, codebooks

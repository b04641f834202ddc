"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: exact brute-force top-k — the correctness baseline.
  Dot products are a native ``aggregate(zip_with(...))`` fold (JVM-side,
  no UDF); ranking is a per-query window. Cost is |Q| x |N| — fine when
  |Q| is a bounded query set; the scale path is the LSH variant.
- ``ann_lsh_topk``: random-hyperplane LSH — vectors are bucketed by the
  sign pattern of ``n_planes`` deterministic hyperplanes (md5-derived
  pseudo-random components, reproducible across engines/retries), and
  only same-bucket (or adjacent-probe) pairs are scored. At 100 TB the
  bucket join replaces the all-pairs scan; recall is tunable by
  n_planes and multi-probe.
- ``ann_ivf_topk``: IVF — a coarse quantizer (KMeans-fit or explicit
  centroids) splits the corpus into cells and each query scores only
  its ``n_probe`` nearest cells.
- The IVF index, the package's one persisted vector index:
  ``write_ivf_index``, ``append_to_ivf_index``,
  ``delete_from_ivf_index``, ``compact_ivf_index`` and
  ``ann_ivf_topk_indexed``. Its cells hold raw vectors (cosine
  search) or, when written with PQ codebooks, the residual codes of
  ``vector/pq.py`` (ADC search); both codecs share the router, the
  cell assignment, the partition pruning and the tombstones.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import store
from ..cache import tracked_persist
from .pq import (
    _adc_topk,
    _ivfpq_arrow,
    _lit,
    _nearest,
    _sub_d2,
    query_lut_expr,
)


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    """Dot product fold over two array<double> expressions — the
    SEMANTIC definition (left-to-right accumulation from 0.0), which
    the DuckDB oracles mirror. Interpreted higher-order path: fine for
    per-vector work, too slow for per-candidate-pair scoring (use
    _cosine_col with ``dims`` there).

    Full unrolling into chained arithmetic was tried and rejected: a
    64-term expression blows Janino's 64 KB method limit, killing
    whole-stage codegen for the entire stage (measured 4x SLOWER than
    the fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    """L2 norm fold over an array<double> expression (same
    accumulation order note as _dot)."""
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def _dot_arrow(dims: int):
    """Arrow-vectorized dot product for the HOT per-candidate scoring
    path: a scalar pandas UDF that accumulates SEQUENTIALLY over the
    ``dims`` axis while vectorizing over rows, i.e. per row it computes
    ((0 + x1*y1) + x2*y2) + ... in float64 — the exact operation
    order of the _dot fold and of the DuckDB oracle's list fold, so
    results are bit-identical and the hash gate is unaffected.

    Why Python here at all: Catalyst evaluates higher-order folds on
    the interpreted expression path (~30M lambda steps for 466k
    candidates x 64 dims), and unrolled arithmetic breaks codegen (see
    _dot). numpy does the same arithmetic as 64 SIMD column ops per
    Arrow batch. At 100 TB the scoring input is the pruned candidate
    set, so the Python-boundary cost scales with candidates, not
    |A|x|B|."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def dot(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series(np.zeros(0, dtype=np.float64))
        A = np.vstack(va.to_numpy()).astype(np.float64)
        B = np.vstack(vb.to_numpy()).astype(np.float64)
        acc = np.zeros(len(va), dtype=np.float64)
        for d in range(dims):
            acc += A[:, d] * B[:, d]
        return pd.Series(acc)

    # the value IS deterministic — the flag stops Catalyst pushing a
    # downstream filter below the projection and re-evaluating the UDF
    # once per consumer (same recipe as geometry.functions.st_pair_stats)
    return dot.asNondeterministic()


def _cosine_col(va, vb, na, nb, dims: int | None):
    """Rounded cosine column from raw vector columns + precomputed
    norms: Arrow kernel when ``dims`` is known, fold otherwise. The
    two forms are bit-identical (see _dot_arrow)."""
    if dims is None:
        d = _dot(_as_double(va), _as_double(vb))
    else:
        d = _dot_arrow(dims)(va, vb)
    return F.round(d / (na * nb), 6)


def _norm_col(v, dims: int | None):
    """L2-norm column from a raw vector column: sqrt of the self-dot —
    Arrow kernel when ``dims`` is known (identical accumulation order,
    so bit-identical to the fold)."""
    if dims is None:
        return _norm(_as_double(v))
    return F.sqrt(_dot_arrow(dims)(v, v))


def _query_side(queries, id_col, vec_col, dims):
    """(query_id, qv, qn) projection shared by every search entry."""
    return queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("qn", _norm_col(F.col("qv"), dims))


def _corpus_side(vectors, id_col, vec_col, dims, spread: bool = False):
    """(neighbor_id, nv, nn) projection of the searched corpus.

    ``spread=True`` widens a narrow scan first (parallelism.widen) —
    used by the BRUTE-FORCE path, whose Arrow dot kernel otherwise
    scores every candidate pair on the scan's task count (a one-file
    corpus = one task; measured 0.90 -> 0.57 s at sf0.1). The
    bucketed/inverted paths keep the scan partitioning: their
    downstream bucket exchanges redistribute anyway, and an extra
    exchange before cell assignment measured net-SLOWER."""
    if spread:
        from ..parallelism import widen

        vectors = widen(vectors)
    return vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv")
    ).withColumn("nn", _norm_col(F.col("nv"), dims))


def _score_pairs(pairs, dims):
    """(query_id, neighbor_id, cosine) over candidate pairs carrying
    qv/qn/nv/nn."""
    return pairs.select(
        "query_id",
        "neighbor_id",
        _cosine_col(
            F.col("qv"), F.col("nv"), F.col("qn"), F.col("nn"), dims
        ).alias("cosine"),
    )


def _rank_topk(scored, k):
    """The shared output tail: rank within query by (cosine desc,
    neighbor asc) and keep k — runs as WindowGroupLimit partial
    k-heaps. One definition so the tie-break contract cannot drift
    between the exact/LSH/IVF/indexed paths."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk(
    queries: DataFrame,
    vectors: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_queries: bool = True,
    dims: int | None = None,
    max_pairs: int = 100_000_000,
    force: bool = False,
) -> DataFrame:
    """Exact top-k neighbors by cosine similarity for each query vector.

    Output: (query_id, neighbor_id, cosine, rank); self-matches included
    (rank 1 when the query is drawn from the corpus). Ordering ties are
    broken by neighbor id; cosine is rounded so ordering is reproducible
    across engines and partitionings. Pass ``dims`` to unroll the dot
    products into codegen (bit-identical; see _dot).

    The QUERY side is broadcast by default (the bounded side in a
    brute-force scan); the corpus streams partition-parallel with no
    shuffle.

    This is the EXACT baseline, deliberately O(|queries| x |corpus|):
    calls whose pair count exceeds ``max_pairs`` raise unless
    ``force=True``, steering large-scale callers to ``ann_lsh_topk``
    (same output contract, banded candidates) or ``ann_ivf_topk``
    (probe-limited). The guard runs two count jobs, which re-execute
    the inputs' upstream lineage — noise for base-table scans, but
    callers feeding expensive uncached pipelines should cache the
    inputs first or pass ``force=True`` to stay fully lazy.
    """
    if not force:
        n_q, n_v = queries.count(), vectors.count()
        if n_q * n_v > max_pairs:
            raise ValueError(
                f"cosine_topk is the exact brute-force baseline: "
                f"{n_q} queries x {n_v} corpus rows = {n_q * n_v} pairs "
                f"exceeds max_pairs={max_pairs}. Use ann_lsh_topk / "
                f"ann_ivf_topk at this scale, or pass force=True."
            )
    q = _query_side(queries, id_col, vec_col, dims)
    if broadcast_queries:
        q = F.broadcast(q)
    v = _corpus_side(vectors, id_col, vec_col, dims, spread=True)
    return _rank_topk(_score_pairs(v.crossJoin(q), dims), k)


def _fit_ivf(vectors, n_centroids, vec_col, seed, max_iter):
    """The KMeans coarse quantizer over the corpus, as a list of
    centroids: the one fit ``ann_ivf_topk``, ``write_ivf_index`` and
    ``fit_ivfpq`` share. Cells are assigned by ``_cells``, never by
    the model, so a fitted and an explicit quantizer assign alike and
    an append agrees with the write it extends."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = vectors.select(array_to_vector(vec_col).alias("features"))
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(feat)
    return _floats(model.clusterCenters())


def _floats(x) -> list:
    """Centroids or codebooks as nested lists of Python floats."""
    return np.asarray(x, dtype=np.float64).tolist()


def _coarse_cells_arrow(coarse):
    """Arrow kernel of raw-codec cell assignment: argmin over full-dim
    L2² to the centroid list, SEQUENTIAL per-dim accumulation and
    first-min ties (``_nearest``) — the exact op order of the
    ``_route`` fold and of the DuckDB replay (oracles.ANN_IVF_TOPK),
    so all three forms are bit-identical."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(coarse, dtype=np.float64)

    @pandas_udf("int")
    def cells(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series(np.zeros(0, dtype=np.int32))
        X = np.vstack(v.to_numpy()).astype(np.float64)
        return pd.Series(_nearest(X, C))

    # deterministic value; flag only stops Catalyst re-evaluating the
    # projection per consumer (same recipe as _dot_arrow)
    return cells.asNondeterministic()


def _cells(vectors, centroids, codebooks, id_col, vec_col) -> DataFrame:
    """The cell rows of an IVF index, every vector assigned by the
    ``_nearest`` argmin. The codec follows ``codebooks``: without
    them (neighbor_id, nv, nn, cell), the raw vectors and their norms;
    with them (neighbor_id, cell, codes), the PQ codes of each
    vector's residual against its cell's centroid, in one Arrow pass."""
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv")
    )
    if codebooks is not None:
        s = _ivfpq_arrow(centroids, codebooks)(F.col("nv"))
        return v.select("neighbor_id", s.alias("_s")).select(
            "neighbor_id", "_s.cell", "_s.codes"
        )
    return v.withColumn(
        "nn", _norm_col(F.col("nv"), len(centroids[0]))
    ).withColumn("cell", _coarse_cells_arrow(centroids)(F.col("nv")))


def _route(q, centroids, n_probe):
    """``q``'s rows, once per each query's ``n_probe`` nearest cells:
    L2² from ``qv`` to every centroid (a left-to-right fold over a
    literal, per-element cast so float queries match the double
    centroids), ties broken by cell. The one router of the in-memory
    and indexed IVF searches for both codecs, in the order the DuckDB
    replays unroll (oracles.ANN_IVF_TOPK, ANN_IVFPQ_TOPK)."""
    c = _lit(centroids)
    d2 = F.transform(
        F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
        lambda i: _sub_d2(F.col("qv"), F.element_at(c, i + 1)),
    )
    w = Window.partitionBy("query_id").orderBy("_d2", "cell")
    return (
        q.select("*", F.posexplode(d2).alias("cell", "_d2"))
        .withColumn("_pr", F.row_number().over(w))
        .filter(F.col("_pr") <= int(n_probe))
        .drop("_d2", "_pr")
    )


def _probes(queries, centroids, codebooks, n_probe, id_col, vec_col):
    """(query_id, cell, ...): each query routed to its probed cells,
    carrying what the codec scores with — the query vector and norm
    (raw), or the LUT of the query's residual against the cell's
    centroid (PQ)."""
    if codebooks is None:
        q = _query_side(queries, id_col, vec_col, len(centroids[0]))
        return _route(q, centroids, n_probe)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    residual = F.zip_with(
        F.col("qv"),
        F.element_at(_lit(centroids), F.col("cell") + 1),
        lambda x, y: x.cast("double") - y,
    )
    return (
        _route(q, centroids, n_probe)
        .select("query_id", "cell", residual.alias("_qres"))
        .select(
            "query_id", "cell",
            query_lut_expr(F.col("_qres"), codebooks).alias("_lut"),
        )
    )


def _search(probes, cells, codebooks, k, dims) -> DataFrame:
    """Top-k over the probed cells: (query_id, neighbor_id, cosine,
    rank) for the raw codec, (query_id, neighbor_id, adc_d2, rank)
    for PQ."""
    if codebooks is None:
        return _rank_topk(_score_pairs(probes.join(cells, "cell"), dims), k)
    return _adc_topk(cells, probes, len(codebooks), k, "cell")


def ann_ivf_topk(
    queries: DataFrame,
    vectors: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 5,
    centroids: list | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a KMeans coarse quantizer
    partitions the corpus into ``n_centroids`` cells; each query scores
    only the vectors in its ``n_probe`` nearest cells. Output schema
    matches cosine_topk (rank within scored candidates).

    ``max_iter`` defaults low: a COARSE quantizer needs rough cluster
    structure, not convergence — measured recall@5 was flat from 5 to
    10 iterations on the clustered fixture while fit time halved.

    Pass ``centroids`` (a list of centroid vectors, e.g.
    ``vector.pq.default_coarse_centroids()``) to skip the KMeans fit
    and use an EXPLICIT quantizer: the whole route+score path is
    deterministic and hash-gateable in DuckDB (oracles.ANN_IVF_TOPK) —
    the same recipe that gates ann_ivfpq_topk. ``n_centroids`` is
    ignored in that case. Either way cells are assigned by a map-only
    Arrow argmin (``_cells``), and the vector length is the centroid
    length, so norms and dot products run as the Arrow kernels.

    The 100 TB shape: the centroid list is tiny (a literal on both
    sides), the corpus is shuffled ONCE by cell id — persisted, that
    is ``write_ivf_index``, amortized across query batches — and
    per-query scoring cost is ~|corpus| * n_probe / n_centroids
    instead of |corpus|. Recall is tunable by n_probe (n_probe =
    n_centroids degenerates to exact brute force).
    """
    if centroids is None:
        centroids = _fit_ivf(vectors, n_centroids, vec_col, seed, max_iter)
    probes = _probes(queries, centroids, None, n_probe, id_col, vec_col)
    cells = _cells(vectors, centroids, None, id_col, vec_col)
    return _search(probes, cells, None, k, len(centroids[0]))


# the IVF index's store description: the cell rows (raw vectors or PQ
# codes), the one-row quantizer, and the tombstones of merge-on-read
# deletes
IVF_INDEX = {
    "cells": store.Part(("cell",), id_col="neighbor_id"),
    "quantizer": store.Part(),
    "tombstones": store.Part(tombstones=True),
}


def write_ivf_index(
    vectors: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 5,
    centroids: list | None = None,
    codebooks: list | None = None,
) -> None:
    """Persist the IVF inverted file: the cell-assigned corpus written
    as parquet PARTITIONED BY cell, with its quantizer alongside, so
    the quantizer fit and the corpus shuffle are paid ONCE and every
    later query batch reads only its probed cells via partition
    pruning — the disk-layout analogue of the in-memory inverted list
    (the per-batch KMeans refit in ``ann_ivf_topk`` is the exploratory
    form).

    ``centroids`` (explicit quantizer, same contract as
    ``ann_ivf_topk``) skips the KMeans fit and makes every later read
    of the index deterministic end-to-end — the hash-gateable form.

    The codec follows the inputs: without ``codebooks`` the cells hold
    the raw vectors (cosine search, as ``ann_ivf_topk``); with them
    (e.g. ``default_codebooks()`` or ``fit_ivfpq``'s) they hold the PQ
    codes of each vector's residual, m small codes instead of the
    float vector (ADC search, as ``ann_ivfpq_topk``). Residual codes
    are relative to the centroids they were trained against, so
    ``codebooks`` without ``centroids`` raises ``ValueError``.

    A ``store.py`` store: part ``cells`` partitioned by cell, part
    ``quantizer`` with one row (centroids, codebooks — NULL for the
    raw codec), rewritten whole by every write, and the
    ``tombstones`` part that ``delete_from_ivf_index`` appends to.
    """
    if codebooks is not None and centroids is None:
        raise ValueError(
            "codebooks code residuals against given centroids: pass "
            "the centroids they were trained with"
        )
    if centroids is None:
        centroids = _fit_ivf(vectors, n_centroids, vec_col, seed, max_iter)
    centroids = _floats(centroids)
    codebooks = None if codebooks is None else _floats(codebooks)
    quantizer = vectors.sparkSession.createDataFrame(
        [(centroids, codebooks)],
        "centroids array<array<double>>, "
        "codebooks array<array<array<double>>>",
    )
    store.write(
        path,
        IVF_INDEX,
        {
            "cells": _cells(vectors, centroids, codebooks, id_col, vec_col),
            "quantizer": quantizer.repartition(1),
        },
    )


def _quantizer(spark, path: str):
    """(centroids, codebooks) stored with an IVF index; codebooks is
    None for the raw codec."""
    row = store.read(spark, path, "quantizer").first()
    return row.centroids, row.codebooks


def append_to_ivf_index(
    vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Day-2 ingest for a persisted IVF index: assign (and, for the PQ
    codec, encode) a NEW batch with the index's OWN stored quantizer
    — never refit on append: cells and codes from another quantizer
    cannot share a probe — and append the cell-partitioned rows as
    one store batch. Existing cells' files are untouched, so ingest
    cost scales with the batch, not the index. A retried append of
    the same batch is a no-op; ids another batch already committed
    raise ``ValueError``."""
    centroids, codebooks = _quantizer(vectors.sparkSession, path)
    cells = _cells(vectors, centroids, codebooks, id_col, vec_col)
    store.append(path, IVF_INDEX, vectors, {"cells": cells}, id_col)


def delete_from_ivf_index(spark, path: str, ids) -> None:
    """Logical delete from a persisted IVF index: append the ids to
    the index's ``tombstones`` part instead of rewriting cell files —
    the delete costs O(|batch|) regardless of index size, and
    ``ann_ivf_topk_indexed`` filters tombstoned vectors out of every
    probe. The physical rewrite is deferred to ``compact_ivf_index``
    (run when the tombstone fraction justifies it) — the standard
    merge-on-read contract of every LSM/lakehouse delete.

    ``ids``: a list of vector ids or a single-column DataFrame."""
    if isinstance(ids, DataFrame):
        tdf = ids.select(
            F.col(ids.columns[0]).cast("long").alias("neighbor_id")
        )
    else:
        tdf = spark.createDataFrame(
            [(int(i),) for i in ids], "neighbor_id long"
        )
    store.delete(path, IVF_INDEX, tdf)


def compact_ivf_index(spark, path: str) -> int:
    """Physically apply an IVF index's tombstones: rewrite ONLY the
    cell partitions that contain a tombstoned vector into a new store
    batch, and publish one manifest that drops those cells' old files
    and the tombstones; the dropped files are deleted after it.
    Returns the number of cells rewritten.

    Scale shape: the affected-cell list is a bounded collect (at most
    n_centroids values); the rewrite reads and writes just those
    partitions — the compaction cost tracks the DELETED data's
    locality, not the index size."""
    ts = store.read(spark, path, "tombstones", missing_ok=True)
    if ts is None:
        return 0
    dead = F.broadcast(ts.select("neighbor_id").distinct())
    cells_df = store.read(spark, path, "cells")
    affected = [
        r.cell
        for r in cells_df.join(dead, "neighbor_id")
        .select("cell")
        .distinct()
        .collect()
    ]
    kept = cells_df.filter(F.col("cell").isin(affected)).join(
        dead, "neighbor_id", "left_anti"
    )
    store.compact(spark, path, IVF_INDEX, "cells", affected, kept)
    return len(affected)


def ann_ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k search against a persisted IVF index (``write_ivf_index``):
    routes each query to its ``n_probe`` nearest stored centroids, then
    restricts the cells scan to the probed cell set with a STATIC
    partition filter — the probed set is collected (bounded by
    n_centroids, never by query count) so the parquet scan shows
    ``PartitionFilters`` and reads ~n_probe/n_centroids of the data;
    a join-driven dynamic filter would depend on DPP kicking in.

    The stored codec picks the score: ``cosine`` (schema of
    cosine_topk) for raw vectors, ``adc_d2`` (schema of ann_pq_topk)
    for PQ codes. Results are identical to ``ann_ivf_topk`` or
    ``ann_ivfpq_topk`` run with the same quantizer."""
    centroids, codebooks = _quantizer(spark, path)
    probes = _probes(queries, centroids, codebooks, n_probe, id_col, vec_col)
    # no persist: the routing is |Q| x n_centroids and cheap to
    # recompute for the cells collect — a persist here would leak
    # cached partitions for the session lifetime in a serving loop
    # that calls this per query batch
    cells = [r.cell for r in probes.select("cell").distinct().collect()]
    inverted = store.read(spark, path, "cells").filter(
        F.col("cell").isin(cells)
    )
    # merge-on-read deletes: tombstoned vectors (delete_from_ivf_index)
    # drop out of every probe via a broadcast anti-join until
    # compact_ivf_index rewrites their cells
    ts = store.read(spark, path, "tombstones", missing_ok=True)
    if ts is not None:
        inverted = inverted.join(
            F.broadcast(ts.select("neighbor_id").distinct()),
            "neighbor_id",
            "left_anti",
        )
    return _search(probes, inverted, codebooks, k, len(centroids[0]))


N_PLANES = 16
N_BANDS_V = 4  # 4 bands x 4 planes: candidate if ANY band's bits match
_PLANE_PRIME = 10007


def _plane_component_value(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    md5-derived integer -> affine map. Computed DRIVER-SIDE once and
    shipped as literals — hashing per element row at runtime would cost
    |rows| x dims x planes md5 calls for values that never change."""
    import hashlib

    h = int(hashlib.md5(f"plane{plane}_{dim}".encode()).hexdigest()[:8], 16)
    half = (_PLANE_PRIME - 1) / 2.0
    return ((h % _PLANE_PRIME) - half) / half


def lsh_bands(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    dims: int | None = None, cache: bool = True,
) -> DataFrame:
    """(id, band, bucket): sign pattern of each band's hyperplanes,
    packed per band. Banded like minhash-LSH — a pair is a candidate if
    ANY band's bits agree, which keeps recall high without all-pairs.
    Projections are unrolled products against literal plane components
    — whole-stage codegen, no shuffle.

    ``dims`` is probed from one row when not given: a plane literal
    shorter than the vectors would null out every projection and
    silently collapse all buckets (degenerating LSH to all-pairs).

    The returned table is persisted with ``tracked_persist`` (bands are
    always consumed by both sides of a join; without the cache the
    Arrow projection runs once per side). A long-lived service issuing
    many calls should free each returned frame once consumed, with
    ``release_caches()`` or ``.unpersist()``, or pass ``cache=False``
    and manage reuse itself — Spark's ContextCleaner only reclaims the
    cached partitions when the DataFrame is garbage collected.
    """
    if dims is None:
        # probe a NON-NULL row (an arbitrary first row may carry a
        # NULL vector; len(None) raises)
        first = (
            vectors.select(vec_col)
            .filter(F.col(vec_col).isNotNull())
            .first()
        )
        if first is None:
            dims = 1  # empty input: any plane length yields no rows
        else:
            dims = len(first[0])
    from pyspark.sql.functions import pandas_udf

    # all-planes projection in ONE Arrow kernel: numpy accumulates
    # sequentially over the dims axis (bit-identical to the per-plane
    # SQL fold the oracle mirrors) while vectorizing over rows AND
    # planes. The earlier form — 16 interpreted folds per row — cost
    # ~1 us per element and was re-evaluated once per union branch and
    # join side; this evaluates once, in SIMD.
    plane_mat = np.array(
        [
            [_plane_component_value(p, d) for p in range(N_PLANES)]
            for d in range(dims)
        ]
    )

    @pandas_udf("array<double>")
    def proj(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        A = np.vstack(v.to_numpy()).astype(np.float64)
        acc = np.zeros((len(v), N_PLANES), dtype=np.float64)
        for d in range(dims):
            acc += A[:, d : d + 1] * plane_mat[d]
        return pd.Series(list(acc))

    sums = vectors.select(
        F.col(id_col).alias("id"),
        proj.asNondeterministic()(F.col(vec_col)).alias("ps"),
    )
    # bucket packing stays native: ps is a materialized attribute after
    # ArrowEvalPython, so element_at is cheap; then a single explode
    # emits the B (band, bucket) rows — a B-way union here would
    # re-evaluate the projection once per branch and per join side.
    per_band = N_PLANES // N_BANDS_V
    structs = []
    for b in range(N_BANDS_V):
        bucket = None
        for i in range(per_band):
            p = b * per_band + i
            term = F.when(
                F.element_at(F.col("ps"), p + 1) > 0, F.lit(1 << i)
            ).otherwise(F.lit(0))
            bucket = term if bucket is None else bucket + term
        structs.append(
            F.struct(
                F.lit(b).alias("band"), bucket.cast("bigint").alias("bucket")
            )
        )
    # bands are always consumed by a (self-)join's two sides: persist
    # the |ids| x B-row table so the projection runs once, not per side
    # (lifecycle note in the docstring — callers in a serving loop
    # release or opt out)
    out = sums.select(
        "id", F.explode(F.array(*structs)).alias("_bb")
    ).select("id", "_bb.band", "_bb.bucket")
    return tracked_persist(out) if cache else out


def ann_lsh_topk(
    queries: DataFrame,
    vectors: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
) -> DataFrame:
    """Approximate top-k: score only pairs sharing at least one band
    bucket. Output schema matches cosine_topk (rank within retrieved
    candidates). Pass ``dims`` to skip the one-row schema probe."""
    qb = lsh_bands(queries, id_col, vec_col, dims=dims).withColumnRenamed("id", "query_id")
    vb = lsh_bands(vectors, id_col, vec_col, dims=dims).withColumnRenamed("id", "neighbor_id")
    cand = (
        qb.join(vb, ["band", "bucket"])
        .select("query_id", "neighbor_id")
        .distinct()
    )
    # NOT spread here (unlike text's _pair_overlap): the bucket join
    # already exchanges on (band, bucket), so the kernel inherits real
    # parallelism, and an extra pair rebalance measured net-slower at
    # bench SF (A/B'd round 6)
    q = _query_side(queries, id_col, vec_col, dims)
    v = _corpus_side(vectors, id_col, vec_col, dims)
    pairs = cand.join(q, "query_id").join(v, "neighbor_id")
    return _rank_topk(_score_pairs(pairs, dims), k)

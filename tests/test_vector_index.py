"""The IVF index (vector/ann.py), the one persisted vector index: write,
append, delete, compact and search, for both codecs — raw vectors
(cosine) and residual PQ codes (ADC). The indexed search answers as
the in-memory ``ann_ivf_topk`` / ``ann_ivfpq_topk`` with the same
quantizer, and reads only the probed cells."""

import pytest

from pyspark.sql import functions as F

from gpd_lite_toolbox_spark import fixtures as FX
from gpd_lite_toolbox_spark import store
from gpd_lite_toolbox_spark.vector.ann import (
    ann_ivf_topk,
    ann_ivf_topk_indexed,
    append_to_ivf_index,
    compact_ivf_index,
    delete_from_ivf_index,
    write_ivf_index,
)
from gpd_lite_toolbox_spark.vector.pq import (
    N_PROBE,
    ann_ivfpq_topk,
    default_codebooks,
    default_coarse_centroids,
)

# the codebooks argument of each codec: None stores raw vectors
_CODEBOOKS = {"raw": None, "pq": default_codebooks()}


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    FX.register_base_tables(spark, sf_dir)
    return spark.table("embeddings")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _near(spark, cell, ids):
    """Vectors hugging one default coarse centroid: all in that cell."""
    c = default_coarse_centroids()[cell]
    return spark.createDataFrame(
        [(i, [float(x) + 1e-3 * (i % 7) for x in c]) for i in ids],
        "vec_id bigint, embedding array<float>",
    )


def test_ivf_index_persist_prunes_and_matches_inmemory(spark, sf_dir, tmp_path):
    """write_ivf_index + ann_ivf_topk_indexed: the persisted inverted
    file answers identically to the in-memory IVF path (same seed =>
    same quantizer), and the cells scan carries a static partition
    filter so only the probed cells are read."""
    FX.register_base_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path)
    indexed = ann_ivf_topk_indexed(spark, path, queries, k=5)
    got = {(r.query_id, r.rank): r.neighbor_id for r in indexed.collect()}
    mem = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ann_ivf_topk(queries, emb, k=5).collect()
    }
    assert got == mem and len(got) > 0
    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan


@pytest.mark.slow
def test_indexed_ivfpq_matches_inmemory_and_prunes_partitions(
    spark, emb, tmp_path
):
    path = str(tmp_path / "ivfpq")
    write_ivf_index(
        emb,
        path,
        centroids=default_coarse_centroids(),
        codebooks=default_codebooks(),
    )
    q = emb.filter(F.col("vec_id") % 50 == 0)
    mem = ann_ivfpq_topk(q, emb, k=10)
    idx = ann_ivf_topk_indexed(spark, path, q, k=10, n_probe=N_PROBE)
    a = sorted(map(tuple, mem.collect()))
    b = sorted(map(tuple, idx.collect()))
    assert a == b
    # the probed-cell restriction reaches the scan as a static
    # PartitionFilters entry (not a post-scan filter)
    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan.replace("\n", " "), plan[:2000]


@pytest.mark.parametrize(
    "codec", ["raw", pytest.param("pq", marks=pytest.mark.slow)]
)
def test_append_to_ivf_index_extends_search(spark, emb, tmp_path, codec):
    """Append uses the index's stored quantizer: searching after
    append equals indexing the union corpus in one shot."""
    cbs = _CODEBOOKS[codec]
    coarse = default_coarse_centroids()
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    p1 = str(tmp_path / "incremental")
    p2 = str(tmp_path / "oneshot")
    write_ivf_index(half_a, p1, centroids=coarse, codebooks=cbs)
    append_to_ivf_index(half_b, p1)
    write_ivf_index(emb, p2, centroids=coarse, codebooks=cbs)
    q = emb.filter(F.col("vec_id") % 50 == 0)
    a = _rows(ann_ivf_topk_indexed(spark, p1, q, k=10, n_probe=N_PROBE))
    b = _rows(ann_ivf_topk_indexed(spark, p2, q, k=10, n_probe=N_PROBE))
    assert a == b and len(a) > 0


@pytest.mark.parametrize("codec", ["raw", "pq"])
def test_retried_append_ranks_the_id_once(spark, tmp_path, codec):
    path = str(tmp_path / "ivf")
    write_ivf_index(
        _near(spark, 0, range(4)),
        path,
        centroids=default_coarse_centroids(),
        codebooks=_CODEBOOKS[codec],
    )
    append_to_ivf_index(_near(spark, 0, [100]), path)
    append_to_ivf_index(_near(spark, 0, [100]), path)  # the retried job
    got = [
        r.neighbor_id
        for r in ann_ivf_topk_indexed(
            spark, path, _near(spark, 0, [0]), k=10, n_probe=N_PROBE
        ).collect()
    ]
    assert sorted(got) == [0, 1, 2, 3, 100]


def test_pq_delete_and_compact_equal_a_write_without_the_ids(
    spark, emb, tmp_path
):
    """Tombstones and compaction work on PQ-coded cells: before and
    after compaction the search equals an index written without the
    deleted vectors."""
    coarse, cbs = default_coarse_centroids(), default_codebooks()
    dead = F.col("vec_id") % 25 == 0
    path, ref = str(tmp_path / "idx"), str(tmp_path / "ref")
    write_ivf_index(emb, path, centroids=coarse, codebooks=cbs)
    write_ivf_index(emb.filter(~dead), ref, centroids=coarse, codebooks=cbs)
    delete_from_ivf_index(spark, path, emb.filter(dead).select("vec_id"))
    q = emb.filter(F.col("vec_id") % 50 == 0)  # deleted vectors too
    want = _rows(ann_ivf_topk_indexed(spark, ref, q, k=10, n_probe=N_PROBE))
    before = _rows(ann_ivf_topk_indexed(spark, path, q, k=10, n_probe=N_PROBE))
    assert before == want and len(want) > 0
    assert compact_ivf_index(spark, path) > 0
    after = _rows(ann_ivf_topk_indexed(spark, path, q, k=10, n_probe=N_PROBE))
    assert after == want
    assert "codes" in store.read(spark, path, "cells").columns


def test_raw_write_over_a_pq_index_searches_as_raw(spark, emb, tmp_path):
    """The quantizer is rewritten whole: a raw write over a PQ index at
    the same path leaves no codebooks behind, and search scores cosine
    exactly as the in-memory raw IVF."""
    coarse = default_coarse_centroids()
    path = str(tmp_path / "idx")
    write_ivf_index(emb, path, centroids=coarse, codebooks=default_codebooks())
    write_ivf_index(emb, path, centroids=coarse)
    q = emb.filter(F.col("vec_id") % 50 == 0)
    idx = ann_ivf_topk_indexed(spark, path, q, k=10, n_probe=N_PROBE)
    assert idx.columns == ["query_id", "neighbor_id", "cosine", "rank"]
    mem = ann_ivf_topk(q, emb, k=10, n_probe=N_PROBE, centroids=coarse)
    assert _rows(idx) == _rows(mem)
    assert store.read(spark, path, "quantizer").first().codebooks is None


def test_codebooks_without_centroids_raise(spark, emb, tmp_path):
    path = tmp_path / "idx"
    with pytest.raises(ValueError, match="centroids"):
        write_ivf_index(emb, str(path), codebooks=default_codebooks())
    assert not path.exists()


def test_ivf_delete_filters_probes_and_compact_rewrites(spark, sf_dir, tmp_path):
    FX.register_base_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    path = str(tmp_path / "idx")
    write_ivf_index(emb, path, centroids=default_coarse_centroids())
    queries = emb.filter(F.col("vec_id") % 50 == 0)

    full = ann_ivf_topk_indexed(spark, path, queries, k=5)
    # self-hit at rank 1 before any delete
    r1 = {r.query_id: r.neighbor_id for r in full.collect() if r.rank == 1}
    assert len(r1) > 0 and all(q == n for q, n in r1.items())

    # delete every query vector itself: self-hits must vanish
    delete_from_ivf_index(spark, path, queries.select("vec_id"))
    filt = ann_ivf_topk_indexed(spark, path, queries, k=5)
    deleted = {q for q in r1}
    assert all(
        r.neighbor_id not in deleted for r in filt.collect()
    ), "tombstoned vector surfaced in a probe"

    pre = {(r.query_id, r.rank): r.neighbor_id for r in filt.collect()}
    n_cells = compact_ivf_index(spark, path)
    assert n_cells > 0
    post = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ann_ivf_topk_indexed(spark, path, queries, k=5).collect()
    }
    assert post == pre
    # tombstones cleared: second compaction is a no-op
    assert compact_ivf_index(spark, path) == 0


def test_ivf_compact_removes_emptied_cells(spark, tmp_path):
    """A cell whose members ALL die must disappear: from the committed
    cells and, once compaction's manifest is published, from disk."""
    seed = default_coarse_centroids()
    # vectors hugging centroid 0 and centroid 1: two occupied cells
    rows = [(i, [float(x) + 1e-4 * i for x in seed[0]]) for i in range(3)]
    rows += [(10 + i, [float(x) + 1e-4 * i for x in seed[1]]) for i in range(3)]
    pts = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    path = str(tmp_path / "idx")
    write_ivf_index(pts, path, centroids=seed)
    cells = tmp_path / "idx" / "cells"
    assert list(cells.glob("_b=*/cell=1/*.parquet"))
    delete_from_ivf_index(spark, path, [10, 11, 12])
    compact_ivf_index(spark, path)
    assert not list(cells.glob("_b=*/cell=1"))
    kept = store.read(spark, path, "cells")
    assert {r.neighbor_id for r in kept.collect()} == {0, 1, 2}
    assert {r.cell for r in kept.collect()} == {0}


def test_ivf_compact_leaves_session_conf_untouched(spark, tmp_path):
    """Regression pin: compact_ivf_index once pinned
    spark.sql.sources.partitionOverwriteMode=dynamic on the SESSION
    when the key started unset — every later plain mode("overwrite")
    write then silently stopped truncating.  The rewrite must use a
    per-write option and leave session config byte-identical."""
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(key)  # fresh-default session: key unset -> STATIC
    before = spark.conf.get(key)  # resolves the default, e.g. STATIC

    seed = default_coarse_centroids()
    rows = [(i, [float(x) + 1e-4 * i for x in seed[0]]) for i in range(4)]
    pts = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    path = str(tmp_path / "idx")
    write_ivf_index(pts, path, centroids=seed)
    delete_from_ivf_index(spark, path, [0])
    assert compact_ivf_index(spark, path) > 0
    assert spark.conf.get(key) == before
    assert spark.conf.get(key).upper() == "STATIC"
    # and plain overwrite still truncates (the production hazard)
    tgt = str(tmp_path / "plain")
    spark.range(31).write.mode("overwrite").parquet(tgt)
    spark.range(1).write.mode("overwrite").parquet(tgt)
    assert spark.read.parquet(tgt).count() == 1


def test_ivf_corrupt_tombstones_propagate(spark, tmp_path):
    """A committed tombstone file that cannot be read must RAISE from
    the probe path — 'no deletes' there would resurrect logically
    deleted vectors. A tombstones directory no manifest lists (a
    delete that never committed) is ignored."""
    seed = default_coarse_centroids()
    rows = [(i, [float(x) + 1e-4 * i for x in seed[0]]) for i in range(3)]
    pts = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    path = str(tmp_path / "idx")
    write_ivf_index(pts, path, centroids=seed)
    queries = pts.limit(1)

    def hits():
        return {
            r.neighbor_id
            for r in ann_ivf_topk_indexed(
                spark, path, queries, k=3
            ).collect()
        }

    stray = str(tmp_path / "idx" / "tombstones" / "_b=uncommitted")
    spark.createDataFrame([(0,)], "neighbor_id long").write.parquet(stray)
    assert hits() == {0, 1, 2}

    delete_from_ivf_index(spark, path, [1])
    assert hits() == {0, 2}
    committed = [
        f
        for f in (tmp_path / "idx" / "tombstones").rglob("*.parquet")
        if "_b=uncommitted" not in str(f)
    ]
    assert committed
    for f in committed:
        f.write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        hits()

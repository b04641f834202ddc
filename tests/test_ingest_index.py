"""write_minhash_index + ingest_near_dups: the incremental-ingest form
of near-dup dedup. A batch checked against the persisted index must
report exactly the cross-membership subset of what the one-shot
minhash_lsh_pairs computes on the combined corpus — and must do so
reading only the batch's own (band, bucket) partitions."""

from __future__ import annotations

from pyspark.sql import functions as F

from gpd_lite_toolbox_spark import fixtures as FX
from gpd_lite_toolbox_spark.text.dedup import (
    ingest_near_dups,
    minhash_lsh_pairs,
    write_minhash_index,
)
from tests.util import replay_every_micro_batch


def _corpus(spark, sf_dir):
    FX.register_base_tables(spark, sf_dir)
    return spark.sql(FX.CORPUS_SQL)


def test_ingest_equals_cross_membership_of_oneshot(spark, sf_dir, tmp_path):
    corpus = _corpus(spark, sf_dir)
    batch = corpus.filter(F.col("id") % 13 == 0)
    indexed = corpus.filter(F.col("id") % 13 != 0)
    path = str(tmp_path / "mhidx")
    write_minhash_index(indexed, path)
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in ingest_near_dups(spark, path, batch, threshold=0.5).collect()
    }
    full = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(corpus, threshold=0.5).collect()
    }
    cross = {p for p in full if (p[0] % 13 == 0) != (p[1] % 13 == 0)}
    assert got == cross and got


def test_ingest_scan_is_partition_pruned(spark, sf_dir, tmp_path):
    corpus = _corpus(spark, sf_dir)
    # a tiny batch probes few buckets — the index bands scan must show
    # a static PartitionFilter on (band, bucket), not a full read
    batch = corpus.filter(F.col("id") % 130 == 0)
    indexed = corpus.filter(F.col("id") % 13 != 0)
    path = str(tmp_path / "mhidx")
    write_minhash_index(indexed, path)
    df = ingest_near_dups(spark, path, batch, threshold=0.5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
    df.collect()  # and it still executes


def test_ingest_index_serves_multiple_batches(spark, sf_dir, tmp_path):
    corpus = _corpus(spark, sf_dir)
    indexed = corpus.filter(F.col("id") % 13 != 0)
    path = str(tmp_path / "mhidx")
    write_minhash_index(indexed, path)
    full = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(corpus, threshold=0.5).collect()
    }
    for k in (0, 1):
        batch = corpus.filter(F.col("id") % 26 == k * 13)
        got = {
            (r.id_a, r.id_b, r.jaccard)
            for r in ingest_near_dups(
                spark, path, batch, threshold=0.5
            ).collect()
        }
        in_batch = lambda i: i % 26 == k * 13  # noqa: E731
        in_idx = lambda i: i % 13 != 0  # noqa: E731
        exp = {
            p
            for p in full
            if (in_batch(p[0]) and in_idx(p[1]))
            or (in_batch(p[1]) and in_idx(p[0]))
        }
        assert got == exp


def test_ingest_null_and_empty_batch(spark, sf_dir, tmp_path):
    corpus = _corpus(spark, sf_dir)
    indexed = corpus.filter(F.col("id") % 13 != 0)
    path = str(tmp_path / "mhidx")
    write_minhash_index(indexed, path)
    null_batch = spark.createDataFrame(
        [(9999991, None)], "id long, text string"
    )
    assert ingest_near_dups(spark, path, null_batch).count() == 0
    empty = spark.createDataFrame([], "id long, text string")
    assert ingest_near_dups(spark, path, empty).count() == 0


def test_append_then_ingest_sees_admitted_batch(spark, sf_dir, tmp_path):
    """Day-2 loop: ingest batch1, admit it via append, then batch2's
    ingest must also report pairs against batch1's documents — equal
    to the one-shot computation on (indexed + batch1) vs batch2."""
    from gpd_lite_toolbox_spark.text.dedup import append_to_minhash_index

    corpus = _corpus(spark, sf_dir)
    indexed = corpus.filter(F.col("id") % 13 != 0)
    b1 = corpus.filter(F.col("id") % 26 == 0)
    b2 = corpus.filter(F.col("id") % 26 == 13)
    path = str(tmp_path / "mhidx")
    write_minhash_index(indexed, path)
    append_to_minhash_index(b1, path)
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in ingest_near_dups(spark, path, b2, threshold=0.5).collect()
    }
    full = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(corpus, threshold=0.5).collect()
    }
    in_b2 = lambda i: i % 26 == 13  # noqa: E731
    exp = {p for p in full if in_b2(p[0]) != in_b2(p[1])}
    assert got == exp and got


def test_streaming_ingest_probe_matches_batch(spark, sf_dir, tmp_path):
    """r6 VERDICT item 8: a 2-file stream probing the persisted index
    (probe-only) must report EXACTLY the one-shot batch ingest result —
    each stream doc probes in one micro-batch, so the union over
    micro-batches partitions the batch pairs."""
    from gpd_lite_toolbox_spark.streaming.grid_stream import (
        run_streaming_ingest_near_dups,
    )

    corpus = _corpus(spark, sf_dir)
    batch = corpus.filter(F.col("id") % 13 == 0)
    indexed = corpus.filter(F.col("id") % 13 != 0)
    path = str(tmp_path / "mhidx")
    write_minhash_index(indexed, path)
    bdir = str(tmp_path / "batchdocs")
    batch.repartition(2).write.parquet(bdir)
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in run_streaming_ingest_near_dups(
            spark, path, bdir, threshold=0.5
        ).collect()
    }
    exp = {
        (r.id_a, r.id_b, r.jaccard)
        for r in ingest_near_dups(spark, path, batch, threshold=0.5).collect()
    }
    assert got == exp and got


def test_streaming_ingest_releases_per_batch_caches(spark, sf_dir, tmp_path):
    """Bounded state on an unbounded stream: the per-micro-batch probe
    must not leave its internal persisted signature frames in the
    tracked-cache registry (one leak per batch = unbounded growth)."""
    from gpd_lite_toolbox_spark.cache import _TRACKED
    from gpd_lite_toolbox_spark.streaming.grid_stream import (
        run_streaming_ingest_near_dups,
    )

    corpus = _corpus(spark, sf_dir)
    path = str(tmp_path / "mhidx")
    write_minhash_index(corpus.filter(F.col("id") % 13 != 0), path)
    bdir = str(tmp_path / "batchdocs")
    corpus.filter(F.col("id") % 13 == 0).repartition(2).write.parquet(bdir)
    n0 = len(_TRACKED)
    run_streaming_ingest_near_dups(spark, path, bdir, threshold=0.5).count()
    assert len(_TRACKED) == n0


def test_streaming_ingest_admit_finds_cross_stream_dups(spark, tmp_path):
    """admit=True appends each micro-batch to the index after probing,
    so a near-dup pair SPLIT ACROSS micro-batches is reported (by
    whichever batch runs second) — the end-to-end incremental loop.
    Probe-only on the same stream must NOT see the cross-stream pair."""
    from gpd_lite_toolbox_spark.streaming.grid_stream import (
        run_streaming_ingest_near_dups,
    )

    base = (
        "an utterly distinctive base document about minhash indexes and "
        "streams that shares no words with the indexed corpus rows at all"
    )
    idx_rows = [
        (i, f"indexed corpus filler row number {i} with its own vocabulary")
        for i in range(1, 5)
    ]
    path = str(tmp_path / "mhidx")
    write_minhash_index(
        spark.createDataFrame(idx_rows, "id long, text string"), path
    )
    bdir = str(tmp_path / "streamdocs")
    # one doc per file => one per micro-batch (maxFilesPerTrigger=1)
    spark.createDataFrame(
        [(100, base)], "id long, text string"
    ).coalesce(1).write.mode("append").parquet(bdir)
    spark.createDataFrame(
        [(200, base + " zq extra")], "id long, text string"
    ).coalesce(1).write.mode("append").parquet(bdir)

    probe_only = run_streaming_ingest_near_dups(
        spark, path, bdir, threshold=0.5
    ).collect()
    assert not probe_only  # neither doc matches the index corpus

    path2 = str(tmp_path / "mhidx2")
    write_minhash_index(
        spark.createDataFrame(idx_rows, "id long, text string"), path2
    )
    admitted = {
        (r.id_a, r.id_b)
        for r in run_streaming_ingest_near_dups(
            spark, path2, bdir, threshold=0.5, admit=True
        ).collect()
    }
    assert admitted == {(100, 200)}


def test_bucket_cap_suppresses_degenerate_bucket(spark):
    """A planted swarm of identical docs (the exact_dedup-should-have-
    run case) floods one bucket per band; bucket_cap kills the O(n^2)
    fan-out while a rare pair's bands stay under the cap and survive
    with identical jaccard."""
    t = "a perfectly ordinary sentence that repeats verbatim in every swarm doc"
    rows = [(i, t) for i in range(40)]
    rare = "one rare document with entirely distinct words from the swarm text"
    rows += [(100, rare), (101, rare + " zq extra")]
    df = spark.createDataFrame(rows, "id long, text string")
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(df, threshold=0.5).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(df, threshold=0.5, bucket_cap=5).collect()
    }
    assert (100, 101) in exact
    swarm_exact = {p for p in exact if p[0] < 100}
    assert len(swarm_exact) == 40 * 39 // 2
    assert not {p for p in capped if p[0] < 100}  # swarm suppressed
    assert capped == {(100, 101): exact[(100, 101)]}


def test_widen_semantics(spark, tmp_path):
    """widen restores parallelism on narrow batch inputs, leaves
    already-wide inputs untouched, and passes streaming frames
    through (repartition before a stateful op would be illegal)."""
    from gpd_lite_toolbox_spark.parallelism import widen

    width = spark.sparkContext.defaultParallelism
    narrow = spark.createDataFrame([(1, "x")], "id long, text string").coalesce(1)
    assert widen(narrow).rdd.getNumPartitions() == width

    wide = spark.range(1000).repartition(width + 4)
    assert widen(wide) is wide

    d = str(tmp_path / "widen_stream")
    spark.range(10).selectExpr("id", "CAST(id AS STRING) AS text").write.mode(
        "overwrite"
    ).parquet(d)
    stream = spark.readStream.schema("id long, text string").parquet(d)
    assert widen(stream) is stream


def test_streaming_ingest_admit_is_idempotent_under_replay(
    spark, tmp_path, monkeypatch
):
    """A replayed micro-batch rewrites its own output and re-admits
    nothing: the replayed run's rows equal a single run's."""
    from gpd_lite_toolbox_spark.streaming.grid_stream import (
        run_streaming_ingest_near_dups,
    )

    base = (
        "a replayed micro batch must neither duplicate its output rows "
        "nor admit its documents to the persisted index a second time"
    )
    idx_rows = [(i, f"indexed row {i} with its own words") for i in (1, 2)]
    bdir = str(tmp_path / "streamdocs")
    for row in ((100, base), (200, base + " zq extra")):
        spark.createDataFrame([row], "id long, text string").coalesce(
            1
        ).write.mode("append").parquet(bdir)

    def run(name):
        path = str(tmp_path / name)
        write_minhash_index(
            spark.createDataFrame(idx_rows, "id long, text string"), path
        )
        out = run_streaming_ingest_near_dups(
            spark, path, bdir, threshold=0.5, admit=True
        )
        return sorted((r.id_a, r.id_b, r.jaccard) for r in out.collect())

    once = run("once")
    replayed = replay_every_micro_batch(monkeypatch)
    assert run("replayed") == once
    assert len(replayed) == 2
    assert [(a, b) for a, b, _ in once] == [(100, 200)]

"""Stateful streaming + sink tests."""

import os

import pyspark.sql.functions as F

from gpd_lite_toolbox_spark import fixtures as FX


def test_stateful_session_count_matches_batch(spark, sf_dir):
    from gpd_lite_toolbox_spark.streaming.grid_stream import (
        run_stateful_session_count,
        sessionize,
    )

    FX.register_base_tables(spark, sf_dir)
    batch = (
        sessionize(spark.table("events"))
        .groupBy("user_id")
        .agg(
            F.countDistinct("session_id").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .toPandas()
        .sort_values("user_id", ignore_index=True)
    )
    stateful = (
        run_stateful_session_count(spark, f"{sf_dir}/events.parquet")
        .toPandas()
        .sort_values("user_id", ignore_index=True)
    )
    assert len(batch) == len(stateful)
    assert (batch.n_events.to_numpy() == stateful.n_events.to_numpy()).all()
    assert (batch.n_sessions.to_numpy() == stateful.n_sessions.to_numpy()).all()


def test_session_window_stream_matches_batch_sessionize(spark, sf_dir):
    """Native streaming session_window == batch lag+cumsum sessionize:
    identical session sets (per-user start/end/count/sum), session ids
    aside (the batch numbering is an implementation detail)."""
    from gpd_lite_toolbox_spark.streaming.grid_stream import (
        run_streaming_session_window,
        sessionize,
    )

    FX.register_base_tables(spark, sf_dir)
    batch = {
        (r.user_id, r.t_start_us, r.t_end_us, r.n_events, r.sum_value)
        for r in sessionize(spark.table("events")).collect()
    }
    stream = {
        (r.user_id, r.t_start_us, r.t_end_us, r.n_events, r.sum_value)
        for r in run_streaming_session_window(
            spark, f"{sf_dir}/events.parquet"
        ).collect()
    }
    assert batch == stream, (
        f"{len(batch - stream)} batch-only, {len(stream - batch)} stream-only"
    )


def test_stream_dedup_matches_batch_distinct(spark, sf_dir):
    """dropDuplicatesWithinWatermark's emitted key set on a bounded
    stream == batch SELECT DISTINCT on (user, hour)."""
    import pyspark.sql.functions as F

    from gpd_lite_toolbox_spark.streaming.grid_stream import (
        run_streaming_dedup,
    )

    FX.register_base_tables(spark, sf_dir)
    # register_base_tables exposes ts as a TIMESTAMP column
    ev = spark.table("events").withColumn("us", F.unix_micros("ts"))
    batch = {
        (r.user_id, r.hour_us)
        for r in ev.select(
            "user_id",
            (F.col("us") - F.col("us") % F.lit(3600000000)).alias("hour_us"),
        )
        .distinct()
        .collect()
    }
    stream = {
        (r.user_id, r.hour_us)
        for r in run_streaming_dedup(
            spark, f"{sf_dir}/events.parquet"
        ).collect()
    }
    assert batch == stream, (
        f"{len(batch - stream)} batch-only, {len(stream - batch)} stream-only"
    )


def test_isochrone_auto_levels_matches_reference_rule(spark, sf_dir):
    from gpd_lite_toolbox_spark.operators.isochrone import (
        filter_osrm_times,
        isochrone_bands,
    )

    m = FX.fixture_df(spark, sf_dir, "osrm_matrix")
    auto = isochrone_bands(m, height=8000.0, interval_h=None).toPandas()
    pts = filter_osrm_times(m).toPandas()
    # 15 classes spanning [min, max], indices 0..14, all points banded
    assert auto.band.min() >= 0 and auto.band.max() <= 14
    assert auto.n_pts.sum() == len(pts)
    # the minimum time lands in class 0, the maximum in class 14
    lo, hi = pts.time_h.min(), pts.time_h.max()
    interval = (hi - lo) / 15.0
    assert int((pts.time_h.min() - lo) // interval) == 0
    assert 0 in set(auto.band) and 14 in set(auto.band)


def test_streaming_append_mode_with_watermark(spark, sf_dir):
    """Append-mode windowed agg: with a watermark, finalized windows are
    emitted exactly once and match the batch aggregation for every
    window older than the watermark horizon."""
    import pyspark.sql.functions as F

    from gpd_lite_toolbox_spark.streaming.grid_stream import windowed_grid_agg

    FX.register_base_tables(spark, sf_dir)
    batch = windowed_grid_agg(spark.table("events")).toPandas()

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="append_stream_")
    os.symlink(
        f"{sf_dir}/events.parquet", os.path.join(d, "events.parquet")
    )
    from gpd_lite_toolbox_spark.streaming.grid_stream import _normalize_ts

    stream = _normalize_ts(spark.readStream.schema(schema).parquet(d))
    agg = windowed_grid_agg(stream.withWatermark("ts", "1 hour"))
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("append_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    appended = spark.table("append_out").toPandas()
    # append mode only emits windows the watermark has CLOSED; every
    # emitted row must match the batch result exactly
    merged = appended.merge(
        batch, on=["window_start_us", "cell_id"], suffixes=("_s", "_b")
    )
    assert len(merged) == len(appended), "stream emitted unknown windows"
    assert (merged.n_events_s == merged.n_events_b).all()
    # all but the final (open) window(s) get emitted
    assert len(appended) >= len(batch) * 0.5


def test_partitioned_geoparquet_roundtrip(spark, sf_dir, tmp_path):
    from gpd_lite_toolbox_spark.sources.sinks import write_geoparquet

    pts = FX.points(spark, sf_dir)
    out = str(tmp_path / "pts_part")
    write_geoparquet(pts, out, cell_size=25000.0)
    # per-axis spatial partition dirs exist (negative-cell-safe layout)
    assert any(d.startswith("pcx=") for d in os.listdir(out))
    back = spark.read.parquet(out)
    assert back.count() == pts.count()
    # a bbox filter prunes partitions: read one cell's worth
    one = back.filter(
        (F.col("x") >= 0) & (F.col("x") < 25000)
        & (F.col("y") >= 0) & (F.col("y") < 25000)
    )
    assert 0 < one.count() < pts.count()


def test_stream_static_enrichment_matches_batch(spark, sf_dir):
    """Stream-static join: the streaming micro-batches join a static
    dimension (event_type -> weight) executor-side with no state
    store; the weighted windowed aggregate must equal the batch plan.
    This is the enrichment shape of a production pipeline (stream
    joins a broadcastable dim on every trigger)."""
    import os
    import tempfile

    import pyspark.sql.functions as F

    from gpd_lite_toolbox_spark.streaming.grid_stream import _normalize_ts

    FX.register_base_tables(spark, sf_dir)
    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.5), ("purchase", 10.0),
         ("signup", 5.0), ("error", 0.0)],
        "event_type string, weight double",
    )

    def weighted(ev):
        return (
            ev.join(F.broadcast(dim), "event_type")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.round(F.sum(F.col("value") * F.col("weight")), 6)
                 .alias("wsum"))
            .select(F.unix_micros(F.col("w.start")).alias("us"), "wsum")
        )

    batch = {
        r.us: r.wsum for r in weighted(spark.table("events")).collect()
    }

    d = tempfile.mkdtemp(prefix="enrich_stream_")
    os.symlink(
        f"{sf_dir}/events.parquet", os.path.join(d, "events.parquet")
    )
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = _normalize_ts(spark.readStream.schema(schema).parquet(d))
    q = (
        weighted(stream.withWatermark("ts", "1 day"))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("enrich_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.us: r.wsum for r in spark.table("enrich_out").collect()}
    assert got == batch and len(got) > 0


def test_foreachbatch_incremental_parquet_sink(spark, sf_dir, tmp_path):
    """foreachBatch sink: each micro-batch appends its windowed delta
    to a partitioned parquet table; after the stream drains, the table
    re-aggregates to exactly the batch answer. This is the incremental
    materialization shape (stream -> bronze parquet -> rollup)."""
    import os
    import tempfile

    import pyspark.sql.functions as F

    from gpd_lite_toolbox_spark.streaming.grid_stream import _normalize_ts

    FX.register_base_tables(spark, sf_dir)
    ev = spark.table("events")
    batch = {
        (r.hour_us, r.n)
        for r in ev.groupBy(
            (F.unix_micros("ts") - F.unix_micros("ts") % F.lit(3600000000))
            .alias("hour_us")
        ).agg(F.count("*").alias("n")).collect()
    }

    d = tempfile.mkdtemp(prefix="febatch_stream_")
    os.symlink(f"{sf_dir}/events.parquet", os.path.join(d, "events.parquet"))
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = _normalize_ts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    sink = str(tmp_path / "bronze")

    def write_delta(bdf, epoch_id):
        (
            bdf.withColumn(
                "hour_us",
                F.unix_micros("ts") - F.unix_micros("ts") % F.lit(3600000000),
            )
            .write.mode("append")
            .partitionBy("hour_us")
            .parquet(sink)
        )

    q = stream.writeStream.foreachBatch(write_delta).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.hour_us, r.n)
        for r in spark.read.parquet(sink)
        .groupBy("hour_us")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == batch and len(got) > 0


def test_streaming_checkpoint_recovery_exactly_once(spark, sf_dir, tmp_path):
    """Checkpointed restart: a SECOND query started with the same
    checkpointLocation resumes from the recorded source offsets —
    files processed before the stop are not re-emitted, files that
    arrived while the stream was down are, and the append-mode parquet
    sink ends with every row exactly once (the recovery contract a
    scheduled ingest pipeline leans on)."""
    import glob
    import shutil

    import pyspark.sql.functions as F

    FX.register_base_tables(spark, sf_dir)
    staging = str(tmp_path / "staging")
    spark.table("documents").select("doc_id").repartition(2).write.parquet(
        staging
    )
    parts = sorted(glob.glob(f"{staging}/part-*.parquet"))
    assert len(parts) == 2
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    schema = "doc_id bigint"

    def drain():
        q = (
            spark.readStream.schema(schema)
            .parquet(str(src))
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()

    shutil.copy(parts[0], src / "a.parquet")
    drain()  # first run: file A only
    n_first = spark.read.parquet(sink).count()
    shutil.copy(parts[1], src / "b.parquet")
    drain()  # restart from the same checkpoint: file B only
    got = spark.read.parquet(sink).groupBy("doc_id").count()
    total = spark.table("documents").count()
    assert n_first > 0 and n_first < total
    assert got.count() == total  # every doc present
    assert got.filter(F.col("count") > 1).count() == 0  # exactly once


def test_streaming_decontaminate_equals_batch(spark, sf_dir):
    """Streaming decontamination (row-local shingle arrays ->
    stream-static dictionary join -> update-mode per-doc counts) must
    equal the batch decontaminate operator row-for-row on the same
    train/benchmark split."""
    import pyspark.sql.functions as F

    from gpd_lite_toolbox_spark.streaming.grid_stream import (
        run_streaming_decontaminate,
    )
    from gpd_lite_toolbox_spark.text.dedup import decontaminate

    FX.register_base_tables(spark, sf_dir)
    got = {
        (r.doc_id, r.n_hits)
        for r in run_streaming_decontaminate(
            spark, f"{sf_dir}/documents.parquet"
        ).collect()
    }
    docs = spark.table("documents").select(
        F.col("doc_id").alias("id"), "text"
    )
    batch = {
        (r.id, r.n_hits)
        for r in decontaminate(
            docs.filter(F.col("id") % 13 != 0),
            docs.filter(F.col("id") % 13 == 0),
        ).collect()
    }
    assert got == batch and len(got) > 0


def test_streaming_banded_near_dedup_planted_dups(spark, tmp_path):
    """Banded streaming near-dedup (run_streaming_near_dedup): the
    emitted (band, band_key) set equals the batch distinct LSH band
    keys; a planted EXACT copy claims no new keys (it would be
    suppressed by a first-wins ingest), and a lightly perturbed copy
    still collides with its original in at least one band — the
    near-dup recall banding exists for."""
    import pandas as pd

    from gpd_lite_toolbox_spark.streaming.grid_stream import (
        run_streaming_near_dedup,
    )
    from gpd_lite_toolbox_spark.text.dedup import simhash_band_keys

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    texts = {
        i: f"document {i} " + " ".join([base] * 3) + f" tail {i % 7}"
        for i in range(20)
    }
    texts[20] = texts[3]  # exact copy
    # one-token edit: flips sketch bits only in the LOW band (verified
    # against the reference simhash arithmetic), so the high band still
    # collides — the partial-band near-dup regime banding exists for
    texts[21] = texts[5].replace("river", "creek", 1)
    pdf = pd.DataFrame(
        {"doc_id": list(texts), "text": [texts[k] for k in texts]}
    )
    src = str(tmp_path / "docs")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src)

    got = {
        (r.band, r.band_key)
        for r in run_streaming_near_dedup(spark, src).collect()
    }
    keys = simhash_band_keys(spark.read.parquet(src))
    expect = {
        (r.band, r.band_key)
        for r in keys.select("band", "band_key").distinct().collect()
    }
    assert got == expect and len(got) > 0

    per_doc: dict[int, set] = {}
    for r in keys.select("doc_id", "band", "band_key").collect():
        per_doc.setdefault(r.doc_id, set()).add((r.band, r.band_key))
    # exact copy: every key already claimed by its original
    assert per_doc[20] == per_doc[3]
    # near copy: the sketch changed but one band survives the edit
    assert per_doc[21] != per_doc[5], "edit should alter the low band"
    assert per_doc[21] & per_doc[5], "perturbed copy lost every band"


def test_streaming_near_dedup_via_rowlocal_simhash(spark, sf_dir):
    """Streaming near-dup suppression: the row-LOCAL simhash expression
    (stateless projection — no explode/groupBy, so it can legally
    precede a stateful dedup) + dropDuplicatesWithinWatermark on the
    fingerprint. The emitted fingerprint set must equal the batch
    distinct; row-local and batch-aggregated simhash must agree
    value-for-value."""
    import os
    import tempfile

    import pyspark.sql.functions as F

    from gpd_lite_toolbox_spark.text.dedup import simhash, simhash_expr

    FX.register_base_tables(spark, sf_dir)
    corpus = FX.fixture_df(spark, sf_dir, "corpus")

    # 1. row-local == batch-aggregated fingerprints
    batch_fp = simhash(corpus).toPandas().set_index("id")["simhash"]
    local_fp = (
        corpus.select("id", simhash_expr("text").alias("simhash"))
        .toPandas()
        .set_index("id")["simhash"]
    )
    assert batch_fp.sort_index().equals(local_fp.sort_index())

    # 2. streaming dedup on the sketch
    docs = spark.table("documents")
    d = tempfile.mkdtemp(prefix="neardedup_stream_")
    os.symlink(f"{sf_dir}/documents.parquet", os.path.join(d, "d.parquet"))
    schema = docs.schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(d)
        .withColumn("sh", simhash_expr("text"))
        # offset event times away from epoch 0: a row AT the initial
        # watermark (epoch 0) is discarded as late
        .withColumn(
            "ts",
            F.timestamp_micros(
                F.col("doc_id") * 1000000 + F.lit(10_000_000_000_000)
            ),
        )
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark(["sh"])
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("neardedup_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.sh for r in spark.table("neardedup_out").collect()}
    expect = {
        r.sh
        for r in docs.select(simhash_expr("text").alias("sh")).distinct().collect()
    }
    assert got == expect and len(got) > 0


def test_stream_interval_join_matches_batch_across_microbatches(
    spark, sf_dir, tmp_path
):
    """Stream-stream interval join with the source split into multiple
    files and maxFilesPerTrigger=1: pairs whose two sides arrive in
    DIFFERENT micro-batches must still match via the join state, and
    the final emitted set must equal the batch inequality join."""
    import pyspark.sql.functions as F

    from gpd_lite_toolbox_spark.streaming.grid_stream import (
        interval_join_events,
        run_streaming_interval_join,
    )

    FX.register_base_tables(spark, sf_dir)
    ev = spark.table("events")
    split_dir = str(tmp_path / "events_split")
    ev.repartition(4).write.parquet(split_dir)

    err = ev.filter(F.col("event_type") == "error")
    clk = ev.filter(F.col("event_type") == "click")
    batch = {
        tuple(r)
        for r in interval_join_events(err, clk, max_lag_s=14400).collect()
    }
    # repartition(4) scatters rows across files with no time order, so
    # every micro-batch contains rows from the full time range: the
    # watermark must exceed the data span or later batches' old rows
    # are (correctly) treated as too-late and dropped. Exact batch
    # equivalence therefore needs an out-of-span watermark; the
    # in-span eviction behavior is asserted separately below.
    stream = {
        tuple(r)
        for r in run_streaming_interval_join(
            spark, split_dir, max_lag_s=14400, watermark="400 days",
            max_files_per_trigger=1,
        ).collect()
    }
    assert batch == stream, (
        f"{len(batch - stream)} batch-only, {len(stream - batch)} stream-only"
    )
    assert len(batch) > 0


def test_stream_interval_join_short_watermark_drops_late_rows(
    spark, sf_dir, tmp_path
):
    """With unordered micro-batches and an in-span watermark, rows
    older than the advanced watermark are dropped — emitted pairs are
    a strict subset of the batch join (bounded-state semantics)."""
    import pyspark.sql.functions as F

    from gpd_lite_toolbox_spark.streaming.grid_stream import (
        interval_join_events,
        run_streaming_interval_join,
    )

    FX.register_base_tables(spark, sf_dir)
    ev = spark.table("events")
    split_dir = str(tmp_path / "events_split_wm")
    ev.repartition(4).write.parquet(split_dir)
    batch = {
        tuple(r)
        for r in interval_join_events(
            ev.filter(F.col("event_type") == "error"),
            ev.filter(F.col("event_type") == "click"),
            max_lag_s=14400,
        ).collect()
    }
    stream = {
        tuple(r)
        for r in run_streaming_interval_join(
            spark, split_dir, max_lag_s=14400, watermark="1 day",
            max_files_per_trigger=1,
        ).collect()
    }
    assert stream <= batch
    assert len(stream) < len(batch)  # some cross-batch rows were late


def test_streaming_cdc_matches_batch_across_microbatches(spark, tmp_path):
    """The stateful max_by aggregation must converge to the batch
    apply_changes snapshot even when the feed arrives out of version
    order across micro-batches (maxFilesPerTrigger=1, one file per
    version class)."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.operators.cdc import apply_changes
    from gpd_lite_toolbox_spark.streaming.grid_stream import run_streaming_cdc

    base = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(40)], "id bigint, text string"
    )
    updates = spark.createDataFrame(
        [(i, f"doc {i} v2", 1, "U") for i in range(0, 40, 3)],
        "id bigint, text string, version bigint, op string",
    )
    deletes = spark.createDataFrame(
        [(i, None, 2, "D") for i in range(0, 40, 5)],
        "id bigint, text string, version bigint, op string",
    )
    feed_dir = str(tmp_path / "feed")
    # three separate files -> three micro-batches, LATEST version first
    # (deletes land before the updates they outrank)
    for i, part in enumerate((deletes, updates, base.select(
            "id", "text",
            F.lit(-1).cast("bigint").alias("version"),  # match the feed's
            F.lit("U").alias("op"),                     # bigint schema
    ))):
        part.coalesce(1).write.mode("append").parquet(feed_dir)
    streamed = run_streaming_cdc(spark, feed_dir, max_files_per_trigger=1)
    expected = apply_changes(base, updates.unionByName(deletes))
    got = {r["id"]: r["text"] for r in streamed.collect()}
    exp = {r["id"]: r["text"] for r in expected.collect()}
    assert got == exp
    assert 0 not in got and 3 in got and got[3] == "doc 3 v2"


def test_streaming_quality_gate_equals_batch(spark, sf_dir, tmp_path):
    """The stateless gate equals the batch quality/Gopher projection,
    including when the source arrives across multiple micro-batches."""
    from gpd_lite_toolbox_spark.streaming.grid_stream import (
        run_streaming_quality_gate,
    )
    from gpd_lite_toolbox_spark.text.analysis import (
        gopher_rules,
        quality_score,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # re-lay the source as 3 files and feed one per trigger
    src = str(tmp_path / "docs3")
    docs.repartition(3).write.parquet(src)
    got = {
        r.doc_id: (r.quality, r.passes)
        for r in run_streaming_quality_gate(spark, src).collect()
    }
    base = docs.select(F.col("doc_id").alias("id"), "text")
    q = {r.id: r.quality for r in quality_score(base).collect()}
    g = {r.id: r.passes for r in gopher_rules(base).collect()}
    assert got == {i: (q[i], g[i]) for i in q}
    assert len(got) == docs.count()

"""Structured-Streaming variant of the grid aggregation + event-table
operators (SURVEY.md §7 Phase 3: the reference is batch-only; the
`events` table is the driver-provided hook for the streaming extension).

``windowed_grid_agg`` expresses the SAME logical aggregation for batch
and streaming input: tumbling event-time window x spatial cell ->
count/sum. On a stream it needs only a watermark on top; state size is
bounded by (windows in flight) x (occupied cells).

``run_streaming_grid_agg`` drives the streaming flavor end-to-end from
a parquet directory (file source -> memory sink), which is how the
tests prove batch/stream equivalence without Kafka in the image.

``sessionize`` is the batch sessionization pattern (lag + cumulative
gap-break sum), the same state machine ``session_window`` runs in
streaming mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the event-time column to TIMESTAMP (LTZ): driver
    parquet has shipped it as int64 nanos and as timestamp[us]-no-tz
    (TIMESTAMP_NTZ on Spark 4); watermarks and unix_micros require
    TIMESTAMP. Session tz is pinned to UTC by ``session.ENGINE_CONF``,
    so the NTZ cast preserves the wall-clock value."""
    dt = dict(df.dtypes).get(col)
    if dt == "bigint":
        # integer div, not /1000 via double: ~1.7e18 ns exceeds double
        # precision and would round microseconds off by ±1
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if dt == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


_staged_dirs: dict[str, str] = {}


def _stage_dir(parquet_dir: str, prefix: str) -> str:
    """The file-stream source requires a DIRECTORY; a single-file path
    is staged behind a symlinked tempdir (shared by every runner).
    Staged dirs are memoized per source path (a runner loop would
    otherwise leak one tempdir per invocation) and removed at
    interpreter exit."""
    import atexit
    import os
    import shutil
    import tempfile

    if not os.path.isfile(parquet_dir):
        return parquet_dir
    if parquet_dir not in _staged_dirs:
        d = tempfile.mkdtemp(prefix=prefix)
        os.symlink(parquet_dir, os.path.join(d, os.path.basename(parquet_dir)))
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _staged_dirs[parquet_dir] = d
    return _staged_dirs[parquet_dir]


def _drain_to_memory(
    spark, df: DataFrame, name: str, mode: str, available_now: bool = True
) -> DataFrame:
    """Drive a bounded stream to completion into a memory sink and
    return the sink table (the driver/test harness shape shared by
    every runner)."""
    w = df.writeStream.outputMode(mode).format("memory").queryName(name)
    if available_now:
        q = w.trigger(availableNow=True).start()
        try:
            q.awaitTermination()
        finally:
            q.stop()
    else:
        q = w.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(name)


def event_cells(events: DataFrame, height: float) -> DataFrame:
    """Derive a deterministic spatial cell for each event (events carry
    no coordinates; production pipelines would join a location table —
    the hash derivation keeps the operator self-contained and
    cross-engine checkable).

    user_id is reduced mod 1e5 BEFORE the multiplicative hash: by
    (a*u) mod m == (a*(u mod m)) mod m this changes NO value — it only
    keeps the intermediate product under 2^48 so an id above ~3.47e9
    cannot wrap int64 (a silent wrap in non-ANSI Spark would diverge
    from any exact-integer engine, breaking the cross-engine claim)."""
    u = F.col("user_id") % 100000
    x = (u * 2654435761) % 100000
    y = (u * 2246822519) % 100000
    cell = F.floor(x / F.lit(height)) * F.lit(1000) + F.floor(
        y / F.lit(height)
    )
    return events.withColumn("cell_id", cell.cast("bigint"))


def windowed_grid_agg(
    events: DataFrame, height: float = 8000.0, window: str = "1 hour"
) -> DataFrame:
    """Tumbling-window x grid-cell aggregation; works unchanged on a
    batch DataFrame or a streaming DataFrame (add withWatermark before
    calling for append-mode streams)."""
    cells = event_cells(events, height)
    return (
        cells.groupBy(F.window("ts", window).alias("w"), "cell_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "cell_id",
            "n_events",
            "sum_value",
        )
    )


def run_streaming_grid_agg(
    spark, parquet_dir: str, height: float = 8000.0, window: str = "1 hour"
) -> DataFrame:
    """Drive the streaming flavor to completion over a bounded parquet
    source (file stream -> complete-mode memory sink) and return the
    result as a batch DataFrame."""
    parquet_dir = _stage_dir(parquet_dir, "grid_stream_")
    schema = spark.read.parquet(parquet_dir).schema
    stream = _normalize_ts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(parquet_dir)
    )
    agg = windowed_grid_agg(stream.withWatermark("ts", "1 day"), height, window)
    return _drain_to_memory(
        spark, agg, "grid_stream_out", "complete", available_now=False
    )


def run_stateful_session_count(
    spark, parquet_dir: str, gap_s: int = 1800
) -> "DataFrame":
    """Custom STATEFUL streaming operator via applyInPandasWithState:
    per-user running session count with a gap-timeout state machine —
    the arbitrary-state API the engine exposes for operators windowing
    can't express. Driven to completion over a bounded file stream;
    returns the final per-user (user_id, n_sessions, n_events) table.

    State per user: (last_ts_us, session_count, event_count). On each
    batch of a user's events (sorted by time): any gap > gap_s starts a
    new session. Update mode + processAllAvailable => the memory sink
    holds one final row per user per batch; the last row per user is
    the answer.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    parquet_dir = _stage_dir(parquet_dir, "sess_stream_")
    schema = spark.read.parquet(parquet_dir).schema
    stream = _normalize_ts(spark.readStream.schema(schema).parquet(parquet_dir))
    ev = stream.select(
        "user_id", F.unix_micros("ts").alias("us")
    )

    gap_us = gap_s * 1_000_000

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.exists:
            last_us, sessions, events = state.get
        else:
            last_us, sessions, events = -1, 0, 0
        # gather ALL Arrow chunks before sorting: chunks arrive in
        # shuffle order, and per-chunk sorting would let a late chunk
        # regress last_us and merge sessions. Cross-MICRO-BATCH order
        # still follows arrival order (the streaming contract); the
        # equivalence test feeds time-ordered batches.
        all_us: list[int] = []
        for pdf in pdfs:
            all_us.extend(pdf["us"].tolist())
        for us in sorted(all_us):
            if last_us < 0 or us - last_us >= gap_us:
                sessions += 1
            last_us = us
            events += 1
        state.update((last_us, sessions, events))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_sessions": [sessions],
                "n_events": [events],
            }
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_sessions bigint, n_events bigint",
        stateStructType="last_us bigint, n_sessions bigint, n_events bigint",
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    # update mode appends one row per user per batch; keep the last
    res = _drain_to_memory(
        spark, out, "sess_state_out", "update", available_now=False
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        res.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def run_streaming_session_window(
    spark, parquet_dir: str, gap_s: int = 1800
) -> DataFrame:
    """NATIVE ``session_window`` aggregation on a stream — the built-in
    twin of ``sessionize``'s batch lag+cumsum state machine (and the
    north-star closure: batch window function == streaming session
    state). Output: (user_id, n_events, t_start_us, t_end_us,
    sum_value), one row per finalized session.

    Driven with an availableNow trigger in complete mode (this Spark
    build rejects update mode for session-window aggregations, and
    append mode would hold back every session newer than the
    watermark horizon on a bounded source): the memory sink then holds
    exactly the final merged session rows. Cross-micro-batch state
    evolution is exercised by run_stateful_session_count; the
    stream==batch equivalence test pins this operator's semantics."""
    parquet_dir = _stage_dir(parquet_dir, "sess_win_")
    schema = spark.read.parquet(parquet_dir).schema
    stream = _normalize_ts(spark.readStream.schema(schema).parquet(parquet_dir))
    agg = (
        stream.withWatermark("ts", "1 day")
        .groupBy(
            "user_id",
            F.session_window("ts", f"{gap_s} seconds").alias("sw"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.min(F.unix_micros("ts")).alias("t_start_us"),
            F.max(F.unix_micros("ts")).alias("t_end_us"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select("user_id", "n_events", "t_start_us", "t_end_us", "sum_value")
    )
    return _drain_to_memory(spark, agg, "sess_win_out", "complete")


def run_streaming_dedup(
    spark, parquet_dir: str, watermark: str = "1 day"
) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicatesWithinWatermark`` keyed
    by (user_id, hour bucket) — each user's FIRST event per hour
    passes, replays/retries within the hour are dropped, and the
    dedup state expires at the watermark horizon. That bounded-state
    guarantee is the streaming-ingest shape of ``exact_dedup``: an
    unbounded stream never accumulates unbounded key state.

    Output projects only the deterministic KEY SET (user_id, hour_us):
    which payload row arrives first is racy across partitions, the key
    set is not — on a bounded availableNow source it equals batch
    ``SELECT DISTINCT``, which is the driver-oracle form.
    """
    parquet_dir = _stage_dir(parquet_dir, "dedup_stream_")
    schema = spark.read.parquet(parquet_dir).schema
    stream = _normalize_ts(spark.readStream.schema(schema).parquet(parquet_dir))
    keyed = stream.withColumn(
        "hour_us",
        (F.unix_micros("ts") - F.unix_micros("ts") % F.lit(3600000000))
        .cast("bigint"),
    )
    dedup = (
        keyed.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["user_id", "hour_us"])
        .select("user_id", "hour_us")
    )
    return _drain_to_memory(spark, dedup, "dedup_stream_out", "append")


def run_streaming_near_dedup(
    spark,
    parquet_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bands: int = 2,
    band_bits: int = 16,
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming NEAR-dup suppression index: each document's row-local
    SimHash (``simhash_expr`` — a stateless projection, legal before a
    stateful operator) is split into LSH band keys, and
    ``dropDuplicatesWithinWatermark`` on (band, band_key) emits each
    key exactly once. That emitted set IS the first-seen index an
    ingest pipeline consults: a document whose every band key was
    already emitted is a near-dup candidate and gets dropped; the
    watermark expires band-key state so an unbounded stream holds
    bounded state (the near-dup sibling of ``run_streaming_dedup``).

    Output projects only the deterministic KEY SET (band, band_key):
    which document first claims a key is racy across partitions, the
    key set is not — on a bounded availableNow source it equals the
    batch distinct band keys, the driver-oracle form. Event time is
    derived from the id column (documents carry no timestamp;
    offset away from epoch 0 so no row sits at the initial watermark).
    """
    from ..text.dedup import simhash_band_keys

    parquet_dir = _stage_dir(parquet_dir, "neardedup_stream_")
    schema = spark.read.parquet(parquet_dir).schema
    stream = spark.readStream.schema(schema).parquet(parquet_dir)
    # event time = id MICROseconds (+ offset away from the epoch-0
    # initial watermark): the whole corpus spans |docs| microseconds,
    # orders of magnitude inside any watermark delay — so dedup state
    # for early keys can never expire mid-run and re-emit a duplicate
    # when the source splits into multiple micro-batches (id SECONDS
    # would cross a "1 day" watermark at ~86k docs and silently break
    # the key-set == batch-distinct contract).
    keyed = simhash_band_keys(
        stream, text_col, n_bands=n_bands, band_bits=band_bits
    ).withColumn(
        "ts",
        F.timestamp_micros(F.col(id_col) + F.lit(10_000_000_000_000)),
    )
    dedup = (
        keyed.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["band", "band_key"])
        .select("band", "band_key")
    )
    return _drain_to_memory(spark, dedup, "neardedup_band_out", "append")


def run_streaming_ingest_near_dups(
    spark,
    index_path: str,
    parquet_dir: str,
    threshold: float = 0.5,
    id_col: str = "id",
    text_col: str = "text",
    admit: bool = False,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming ingest against the PERSISTED minhash index
    (``write_minhash_index`` layout) — the end-to-end incremental
    near-dup story (round-6 VERDICT item 8): documents stream in, and
    each micro-batch runs the BATCH ``ingest_near_dups`` probe via
    ``foreachBatch`` — the idiomatic Structured Streaming shape for
    per-batch logic that needs a driver step, here the collect of the
    batch's (band, bucket) set into the static partition filter that
    keeps the bands scan pruned. A declarative stream-static join
    would re-scan the whole bands table per micro-batch; routing
    through ``foreachBatch`` keeps the day-2 cost = the micro-batch,
    not the corpus, exactly like the batch path.

    ``admit=True`` additionally appends each micro-batch to the index
    (``append_to_minhash_index``) once its probe is built; the probe
    never pairs a batch with its own admitted documents, so later
    micro-batches collide with earlier stream documents — the full
    incremental pipeline. With ``admit=False`` (the oracle-checkable
    form) the result set is EXACTLY the batch ``ingest_near_dups`` of
    the whole stream: each stream doc probes in exactly one
    micro-batch, so the union over micro-batches partitions the batch
    result (stream==batch pytest-pinned on a 2-batch fixture).

    Output: (id_a, id_b, jaccard), same contract and same driver
    oracle as ``ingest_near_dups``. ``max_files_per_trigger`` bounds
    each micro-batch so a multi-file source genuinely exercises
    multiple batches.
    """
    from ..cache import scoped_release
    from ..text.dedup import append_to_minhash_index, ingest_near_dups

    parquet_dir = _stage_dir(parquet_dir, "ingest_stream_")
    schema = spark.read.parquet(parquet_dir).schema
    # the result schema is the empty batch's result schema (scoped:
    # the probe persists its batch-side tables)
    with scoped_release():
        out_schema = ingest_near_dups(
            spark,
            index_path,
            spark.createDataFrame([], schema),
            threshold,
            id_col,
            text_col,
        ).schema

    def _probe(mb):
        # the probe ignores index documents that carry a batch id, so
        # a replayed micro-batch (foreachBatch is at-least-once) finds
        # the same pairs after its first admit, and the admit itself
        # is then a no-op store append
        pairs = ingest_near_dups(
            spark, index_path, mb, threshold, id_col, text_col
        )
        if admit:
            append_to_minhash_index(mb, index_path, id_col, text_col)
        return pairs

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", int(max_files_per_trigger))
        .parquet(parquet_dir)
    )
    return _foreach_batch_to_dir(
        spark,
        ("ingest", index_path, parquet_dir, threshold, id_col, text_col,
         admit, max_files_per_trigger),
        stream,
        out_schema,
        _probe,
    )


def run_streaming_decontaminate(
    spark,
    parquet_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_mod: int = 13,
) -> DataFrame:
    """Streaming benchmark decontamination: documents stream in, each
    row projects its DISTINCT hashed shingles ROW-LOCALLY
    (``shingle_array_expr`` — stateless, so it legally precedes the
    stateful aggregation), explodes, inner-joins the STATIC benchmark
    shingle dictionary (a stream-static join, broadcast at this size),
    and a per-doc update-mode aggregation accumulates the
    contamination hit count across micro-batches. The final count per
    doc is deterministic on a bounded availableNow source (update mode
    appends a row per doc per batch; the max is the completed total).

    The benchmark split mirrors the batch ``decontaminate`` query
    (``id % bench_mod == 0`` = held-out slice); output (doc_id,
    n_hits) equals the batch operator row-for-row — the stream==batch
    test and the DuckDB hash gate both pin it.
    """
    from ..text.dedup import shingle_array_expr, shingles

    parquet_dir = _stage_dir(parquet_dir, "decontam_stream_")
    batch = spark.read.parquet(parquet_dir)
    bench = batch.filter(F.col(id_col) % bench_mod == 0).select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    )
    dictionary = shingles(bench, hashed=True).select("shingle").distinct()
    stream = (
        spark.readStream.schema(batch.schema)
        .parquet(parquet_dir)
        .filter(F.col(id_col) % bench_mod != 0)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(shingle_array_expr(text_col)).alias("shingle"),
        )
        .join(F.broadcast(dictionary), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    res = _drain_to_memory(spark, stream, "decontam_stream_out", "update")
    return res.groupBy("doc_id").agg(F.max("n_hits").alias("n_hits"))


def run_streaming_curation_ledger(
    spark,
    flags_path: str,
    parquet_dir: str,
    id_col: str = "id",
    text_col: str = "text",
    benchmark_mod: int = 13,
    min_hits: int = 1,
    max_files_per_trigger: int = 1,
    n_buckets: int = 16,
) -> DataFrame:
    """END-TO-END streaming curation ledger (round-8 stretch, r7
    VERDICT item 8): documents stream in and every micro-batch
    resolves each document's final disposition under the FULL curation
    stack — the streaming composition of the three existing stage
    runners:

    - quality gate + Gopher rules: ROW-LOCAL expressions, evaluated
      in-batch (``run_streaming_quality_gate``'s shape);
    - benchmark decontamination: the batch's train-side shingles
      joined to the STATIC benchmark dictionary built once from the
      corpus (``run_streaming_decontaminate``'s shape);
    - exact/near dedup: the two GLOBAL decisions probe the persisted
      ``write_curation_flags_index`` artifact, with the batch's id
      buckets collapsed into a static partition filter
      (``run_streaming_ingest_near_dups``'s index-probing shape) —
      per-batch cost is the batch, never the corpus.

    Each document is decided in exactly ONE micro-batch against global
    static state, so the union over micro-batches EQUALS the batch
    ``curation_ledger`` of the whole stream — the query shares
    CURATION_LEDGER's oracle verbatim (stream==batch pytest-pinned on
    a 2-batch fixture).  Output: ``(id, status)``, the batch
    contract.  Per-batch caches are released inside the probe
    (the ``17d3130`` discipline), so a long-running stream holds no
    accumulated state beyond the sink.
    """
    from .. import store
    from ..cache import scoped_release, tracked_persist
    from ..text.analysis import (
        gopher_passes_cond,
        gopher_stat_exprs,
        quality_points_expr,
    )
    from ..text.dedup import shingles

    parquet_dir = _stage_dir(parquet_dir, "ledger_stream_")
    batch_all = spark.read.parquet(parquet_dir)
    schema = batch_all.schema
    c_all = batch_all.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    )

    def _decide(mb):
        c = mb.select(
            F.col(id_col).alias("id"), F.col(text_col).alias("text")
        )
        bks = sorted(
            r.bk
            for r in c.select(
                (F.col("id") % int(n_buckets)).alias("bk")
            )
            .distinct()
            .collect()
        )
        if not bks:
            return None
        flags = (
            store.read(spark, flags_path, "flags")
            .filter(F.col("bk").isin(bks))
            .select("id", "exact", "near")
        )
        train = c.filter(F.col("id") % benchmark_mod != 0)
        hits = (
            shingles(train, hashed=True)
            .join(dictionary, "shingle")
            .groupBy("id")
            .agg(F.count("*").alias("n_hits"))
            .filter(F.col("n_hits") >= int(min_hits))
            .select("id", F.lit(True).alias("_cont"))
        )
        staged = c.select(
            "id",
            "text",
            quality_points_expr("text").alias("_pts"),
            *[col.alias(n) for n, col in gopher_stat_exprs("text")],
        ).withColumn("_pass", gopher_passes_cond())
        ledger = staged.join(flags, "id", "left").join(
            hits, "id", "left"
        )
        status = (
            F.when(F.col("text").isNull(), F.lit("null_text"))
            .when(
                F.col("id") % benchmark_mod == 0, F.lit("benchmark")
            )
            .when(F.coalesce("exact", F.lit(False)), F.lit("exact_dup"))
            .when(F.coalesce("near", F.lit(False)), F.lit("near_dup"))
            .when(
                F.coalesce("_cont", F.lit(False)), F.lit("contaminated")
            )
            .when(
                ~F.coalesce(F.col("_pass"), F.lit(False)),
                F.lit("gopher_fail"),
            )
            .when(F.col("_pts") < 2, F.lit("low_quality"))
            .otherwise(F.lit("kept"))
        )
        return ledger.select("id", status.alias("status"))

    # the run-scoped dictionary releases AND deregisters on exit
    # (tracked_persist + bare unpersist would leak its registry entry
    # — one per run; the per-batch probes have their own inner scopes)
    with scoped_release():
        dictionary = tracked_persist(
            shingles(
                c_all.filter(F.col("id") % benchmark_mod == 0),
                hashed=True,
            )
            .select("shingle")
            .distinct()
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", int(max_files_per_trigger))
            .parquet(parquet_dir)
        )
        return _foreach_batch_to_dir(
            spark,
            ("ledger", flags_path, parquet_dir, id_col, text_col,
             benchmark_mod, min_hits, max_files_per_trigger, n_buckets),
            stream,
            "id bigint, status string",
            _decide,
        )


def run_streaming_quality_gate(
    spark,
    parquet_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Streaming document-quality gate: documents stream in and each
    row is scored ROW-LOCALLY with the shared quality points and
    Gopher rule expressions (text/analysis.py) — a fully STATELESS
    append-mode query, so the streaming form is exactly the batch
    projection executed per micro-batch: no watermark, no state store,
    and the output is deterministic on any micro-batch partitioning
    of the source. This is the shape a live ingest pipeline scores
    arriving crawl data with before routing keep/drop.

    Output: ``(doc_id, quality, passes)`` — equals the batch
    ``quality_score`` + ``gopher_rules`` views row-for-row (DuckDB
    hash gate + stream==batch pytest).
    """
    from ..text.analysis import (
        gopher_passes_cond,
        gopher_stat_exprs,
        quality_points_expr,
    )

    parquet_dir = _stage_dir(parquet_dir, "quality_stream_")
    schema = spark.read.parquet(parquet_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(parquet_dir)
        .select(
            F.col(id_col).alias("doc_id"),
            F.round(quality_points_expr(text_col) / 3.0, 6).alias(
                "quality"
            ),
            *[c.alias(n) for n, c in gopher_stat_exprs(text_col)],
        )
        .withColumn("passes", gopher_passes_cond())
        .select("doc_id", "quality", "passes")
    )
    return _drain_to_memory(spark, stream, "quality_stream_out", "append")


def interval_join_events(
    errors: DataFrame, clicks: DataFrame, max_lag_s: int = 600
) -> DataFrame:
    """Per-error lookback join: every (error, click) pair for the same
    user with the click inside ``[error.ts - max_lag_s, error.ts]`` —
    the "what did the user click before it broke" shape. One logical
    plan for batch and streaming frames: the join is an EQUI-join on
    user_id with a time-range residual, which batch executes as a hash
    join and streaming as a symmetric hash join whose per-user state
    the range bound lets the watermark evict (the canonical Spark
    stream-stream interval join — state is bounded by users active
    within the lag window, never by stream length).

    Output: ``(err_id, click_id, lag_us)``.
    """
    e = errors.select(
        F.col("event_id").alias("err_id"),
        F.col("user_id").alias("_euid"),
        F.col("ts").alias("_ets"),
    )
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("_cuid"),
        F.col("ts").alias("_cts"),
    )
    cond = (
        (e["_euid"] == c["_cuid"])
        & (c["_cts"] <= e["_ets"])
        & (c["_cts"] >= e["_ets"] - F.expr(f"INTERVAL {int(max_lag_s)} SECONDS"))
    )
    return e.join(c, cond).select(
        "err_id",
        "click_id",
        (F.unix_micros("_ets") - F.unix_micros("_cts")).alias("lag_us"),
    )


def run_streaming_interval_join(
    spark,
    parquet_dir: str,
    max_lag_s: int = 600,
    watermark: str = "1 day",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drive the stream-stream interval join end-to-end: two file
    streams over the same bounded source (errors / clicks), watermarked
    on both sides (Spark requires event-time bounds on each input of a
    stream-stream join to reason about state eviction), append-mode
    memory sink. On a bounded availableNow source the emitted set
    equals the batch join — the driver-oracle form."""
    parquet_dir = _stage_dir(parquet_dir, "ivjoin_stream_")
    schema = spark.read.parquet(parquet_dir).schema

    def _side(event_type: str) -> DataFrame:
        reader = spark.readStream.schema(schema)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        s = _normalize_ts(reader.parquet(parquet_dir))
        return s.withWatermark("ts", watermark).filter(
            F.col("event_type") == event_type
        )

    joined = interval_join_events(
        _side("error"), _side("click"), max_lag_s=max_lag_s
    )
    return _drain_to_memory(spark, joined, "ivjoin_stream_out", "append")


def run_streaming_cdc(
    spark,
    feed_dir: str,
    key: str = "id",
    version_col: str = "version",
    op_col: str = "op",
    payload_cols: "list[str] | None" = None,
    delete_ops: tuple = ("D",),
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of ``operators.cdc.apply_changes``: the change
    feed (initial snapshot load as version -1 upserts + incremental
    deltas — the standard CDC bootstrap shape) arrives as a file
    stream, and the latest-wins merge runs as a NATIVE stateful
    streaming aggregation — the same ``max_by(struct(payload),
    version)`` the batch operator plans, in complete output mode, with
    the delete filter applied to the aggregated state. No foreachBatch
    loop, no external table rewrite per micro-batch: Spark's
    aggregation state IS the snapshot, keyed by ``key`` and updated
    incrementally as deltas stream in.

    State is bounded by live-key cardinality (the snapshot size), the
    same bound any materialized view pays; this is the
    complete-mode/memory-sink harness shape — a production deployment
    writes the same aggregate to a key-value sink in update mode.

    On a bounded availableNow source the final sink content equals the
    batch ``apply_changes`` over the same feed — the driver-oracle
    form (``stream_cdc`` shares the batch query's CDC_SNAPSHOT
    oracle).
    """
    from ..operators.cdc import latest_wins

    feed_dir = _stage_dir(feed_dir, "cdc_stream_")
    schema = spark.read.parquet(feed_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(feed_dir)
    if payload_cols is None:
        payload_cols = [
            c for c in stream.columns if c not in (key, version_col, op_col)
        ]
    merged = latest_wins(
        stream, key, version_col, op_col, payload_cols, delete_ops
    )
    return _drain_to_memory(spark, merged, "cdc_stream_out", "complete")


SESSION_GAP_S = 1800


def sessionize(events: DataFrame, gap_s: int = SESSION_GAP_S) -> DataFrame:
    """Per-user sessions: a session breaks at ``gap_s`` or more of
    silence (the half-open-window convention of native
    ``session_window``, whose batch twin this lag + cumulative
    break-sum is).

    Output: (user_id, session_id, n_events, t_start_us, t_end_us,
    sum_value).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    # >= (not >): native session windows are half-open [t, t+gap) merged
    # on overlap, so an event at EXACTLY prev+gap starts a new session —
    # the batch rule matches that boundary convention
    gap_break = (
        F.when(
            (us - F.lag(us).over(w)) >= gap_s * 1_000_000, 1
        )
        .otherwise(0)
    )
    with_sess = events.withColumn(
        "session_id",
        F.sum(gap_break).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return with_sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min(F.unix_micros("ts")).alias("t_start_us"),
        F.max(F.unix_micros("ts")).alias("t_end_us"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


# run_streaming_blocklist_gate's (source, dictionary) -> out-dir
# memo: bounds the output-tempdir footprint to one live dir per key
def _run_foreach_batch(stream, fn) -> None:
    """Drive a foreachBatch stream to completion (availableNow
    trigger, await, stop) — the one lifecycle definition shared by the
    foreachBatch runners, as _drain_to_memory is for memory-sink
    streams."""
    q = (
        stream.writeStream.foreachBatch(fn)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()


_sink_dirs: dict = {}


def _foreach_batch_to_dir(
    spark, key, stream, schema, batch_result
) -> DataFrame:
    """Run ``stream`` to completion with each micro-batch's result
    written to a directory, and read all results back as one frame —
    the sink shared by the foreachBatch runners.

    - ``schema``: the result schema. An empty ``seed`` directory of it
      is written first, so an empty stream still reads back with the
      right dtypes.
    - ``batch_result(mb)``: the micro-batch's result frame, or None for
      nothing to write. It is built and written inside one
      ``scoped_release``, so a long-running stream holds no persisted
      frame per batch.
    - Each batch overwrites its own ``batch_<id>`` directory:
      foreachBatch is at-least-once, and a replayed micro-batch then
      rewrites the same rows instead of appending them twice.
    - One output directory per ``key`` (the runner's arguments),
      replaced when the runner is called again with the same key; a
      fresh directory per call would keep one result-sized directory
      per call until interpreter exit."""
    import atexit
    import shutil
    import tempfile

    from ..cache import scoped_release

    prior = _sink_dirs.pop(key, None)
    if prior is not None:
        shutil.rmtree(prior, ignore_errors=True)
    out_dir = tempfile.mkdtemp(prefix="foreach_batch_out_")
    atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
    _sink_dirs[key] = out_dir
    spark.createDataFrame([], schema).write.parquet(f"{out_dir}/seed")

    def _write(mb, bid):
        with scoped_release():
            out = batch_result(mb)
            if out is not None:
                out.write.mode("overwrite").parquet(f"{out_dir}/batch_{bid}")

    _run_foreach_batch(stream, _write)
    return spark.read.option("recursiveFileLookup", "true").parquet(out_dir)


def run_streaming_blocklist_gate(
    spark,
    parquet_dir: str,
    phrases,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming blocklist gate: each micro-batch runs the batch
    Aho-Corasick scan (text/analysis.py ``banned_phrase_hits``) via
    ``foreachBatch``. The dictionary rides one broadcast automaton, so
    the stream plan stays constant-size however long the list is, and
    phrases never enter a generated expression (quotes, newlines and
    other SQL-significant characters are plain automaton input). The
    scan is row-local per document and every stream doc lands in
    exactly one micro-batch, so the union over micro-batches is
    EXACTLY the batch output — same ``(id, phrase, n_hits)`` contract,
    matched case-insensitively, checked against the raw-documents
    per-position oracle (stream==batch pytest-pinned).

    ``max_files_per_trigger`` bounds each micro-batch so a multi-file
    source genuinely exercises multiple batches.
    """
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..text.analysis import (
        _aho_corasick,
        _banned_phrase_hits_ac,
        _normalize_phrases,
    )

    parquet_dir = _stage_dir(parquet_dir, "blocklist_stream_")
    schema = spark.read.parquet(parquet_dir).schema
    plist = _normalize_phrases(phrases, case_insensitive=True)
    # ONE automaton build + broadcast for the whole stream (not one
    # per micro-batch — a 100k-entry dictionary on a many-file source
    # would otherwise accumulate 2N dictionary-sized broadcasts)
    shared_bc = (
        spark.sparkContext.broadcast(_aho_corasick(plist)),
        spark.sparkContext.broadcast(plist),
    )
    # the statically known output schema — no Spark job needed to
    # learn (id, phrase, n_hits) dtypes
    id_field = schema[id_col]
    out_schema = StructType(
        [
            StructField("id", id_field.dataType, id_field.nullable),
            StructField("phrase", StringType(), False),
            StructField("n_hits", LongType(), False),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", int(max_files_per_trigger))
        .parquet(parquet_dir)
    )
    return _foreach_batch_to_dir(
        spark,
        ("blocklist", parquet_dir, tuple(plist), id_col, text_col,
         max_files_per_trigger),
        stream,
        out_schema,
        lambda mb: _banned_phrase_hits_ac(
            mb, plist, id_col, text_col, True, shared_bc=shared_bc
        ),
    )

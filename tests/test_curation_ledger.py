"""End-to-end curation ledger (text/pipeline.py curation_ledger).

The DuckDB gate (oracles.CURATION_LEDGER) pins cross-engine agreement
on the fixture; these tests pin the PRIORITY SEMANTICS on a crafted
corpus where each rule demonstrably fires — and fires in order.
"""

import pytest

from pyspark.sql import functions as F

from gpd_lite_toolbox_spark.text.pipeline import curation_ledger
from tests.util import replay_every_micro_batch

_GOOD = (
    "the quick brown fox jumps over the lazy dog and then walks home "
    "through the quiet evening streets while people watch from their "
    "windows and the city slowly settles into night as lamps come on "
    "one by one along the avenue and a train passes in the distance "
    "carrying travelers toward other towns and other stories entirely"
)


def _crafted(spark):
    rows = [
        # ids chosen NOT divisible by 13 unless benchmark intended
        (1, None),                      # null_text
        (26, _GOOD + " benchmark"),     # benchmark (26 % 13 == 0)
        (2, _GOOD),                     # kept (canonical of md5 group)
        (3, _GOOD),                     # exact_dup of 2
        (4, _GOOD + " tail"),           # near_dup of 2 (same cluster)
        (5, _GOOD.replace("quick", "QUICK") + " benchmark"),
        # 5: shares shingles with benchmark doc 26 -> contaminated
        # (case change breaks exact/near-dup linkage far enough? no:
        # near-dup may still catch it; the assertion below derives the
        # EXPECTED status from the operator contract, not hardcoding)
        (6, "short"),                   # gopher_fail (too few words)
    ]
    return spark.createDataFrame(rows, "id bigint, text string")


def test_priority_statuses_on_crafted_corpus(spark):
    out = {
        r.id: r.status
        for r in curation_ledger(_crafted(spark)).collect()
    }
    assert out[1] == "null_text"
    assert out[26] == "benchmark"
    assert out[3] == "exact_dup"       # not min-id of its md5 group
    assert out[4] == "near_dup"        # cluster member, not retained
    assert out[6] == "gopher_fail"
    # doc 2 is the min-id exact copy AND the cluster's retained member
    assert out[2] in ("kept", "contaminated")
    # every doc has exactly one status
    assert len(out) == 7


def test_ledger_statuses_are_closed_set(spark, sf_dir):
    from gpd_lite_toolbox_spark import fixtures as FX

    corpus = FX.fixture_df(spark, sf_dir, "corpus")
    out = curation_ledger(corpus)
    allowed = {
        "null_text",
        "benchmark",
        "exact_dup",
        "near_dup",
        "contaminated",
        "gopher_fail",
        "low_quality",
        "kept",
    }
    got = {r.status for r in out.select("status").distinct().collect()}
    assert got <= allowed
    # the fixture corpus is dense in planted duplicates and benchmark
    # overlap (every dedup gate exercises it), so 'kept' may be empty
    # at tiny SF — require the stages to have actually fired instead
    assert {"benchmark", "exact_dup", "near_dup"} <= got
    assert out.count() == corpus.count()  # one row per input doc


def test_ledger_kept_docs_pass_every_gate(spark, sf_dir):
    """A doc the ledger keeps must individually pass each detector —
    the integration can't keep something a stage would drop."""
    from gpd_lite_toolbox_spark import fixtures as FX
    from gpd_lite_toolbox_spark.text.analysis import (
        gopher_passes_cond,
        gopher_stat_exprs,
        quality_points_expr,
    )
    from gpd_lite_toolbox_spark.text.dedup import decontaminate

    corpus = FX.fixture_df(spark, sf_dir, "corpus")
    led = curation_ledger(corpus)
    kept = corpus.join(
        led.filter(F.col("status") == "kept").select("id"), "id"
    )
    # row-local gates
    checked = kept.select(
        "id",
        quality_points_expr("text").alias("_pts"),
        *[c.alias(n) for n, c in gopher_stat_exprs("text")],
    ).withColumn("_pass", gopher_passes_cond())
    bad = checked.filter(
        (~F.col("_pass")) | (F.col("_pts") < 2)
    ).count()
    assert bad == 0
    # decontamination: no kept doc overlaps the benchmark side
    bench = corpus.filter(F.col("id") % 13 == 0)
    cont = decontaminate(kept, bench)
    assert cont.join(kept.select("id"), "id").count() == 0
    # no kept doc is a non-minimal exact copy
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5("text"))
    dup = (
        kept.withColumn("_m", F.min("id").over(w))
        .filter(F.col("id") != F.col("_m"))
        .count()
    )
    assert dup == 0


def test_streaming_ledger_is_idempotent_under_replay(
    spark, tmp_path, monkeypatch
):
    """Each micro-batch run twice with the same id (foreachBatch is
    at-least-once) leaves the same ledger rows as one run."""
    from gpd_lite_toolbox_spark.streaming import grid_stream as G
    from gpd_lite_toolbox_spark.text.pipeline import (
        write_curation_flags_index,
    )
    corpus = _crafted(spark)
    flags, src = str(tmp_path / "flags"), str(tmp_path / "src")
    write_curation_flags_index(corpus, flags)
    corpus.repartition(2).write.parquet(src)

    def run():
        out = G.run_streaming_curation_ledger(spark, flags, src)
        return sorted((r.id, r.status) for r in out.collect())

    once = run()
    replayed = replay_every_micro_batch(monkeypatch)
    assert run() == once
    assert len(replayed) == 2  # the ledger runs through _run_foreach_batch
    assert len(once) == 7


def test_streaming_sinks_replace_their_output_dir_per_call(
    spark, tmp_path, monkeypatch
):
    """The foreachBatch runners write micro-batch results under one
    temp dir per call. Called again with the same arguments, the ingest
    and ledger runners replace that dir, so one per runner remains
    instead of one result-sized dir per call until interpreter exit."""
    import tempfile

    from gpd_lite_toolbox_spark.streaming import grid_stream as G
    from gpd_lite_toolbox_spark.text.dedup import write_minhash_index
    from gpd_lite_toolbox_spark.text.pipeline import (
        write_curation_flags_index,
    )

    corpus = _crafted(spark)
    flags, idx, src, odd = (
        str(tmp_path / d) for d in ("flags", "idx", "src", "odd")
    )
    write_curation_flags_index(corpus, flags)
    write_minhash_index(corpus.filter(F.col("id") % 2 == 0), idx)
    corpus.repartition(2).write.parquet(src)
    corpus.filter(F.col("id") % 2 == 1).write.parquet(odd)
    sinks = tmp_path / "sinks"
    sinks.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(sinks))

    results = []
    for _ in range(2):
        ingest = G.run_streaming_ingest_near_dups(spark, idx, odd)
        ledger = G.run_streaming_curation_ledger(spark, flags, src)
        results.append((sorted(ingest.collect()), sorted(ledger.collect())))
    assert results[0] == results[1]
    assert (2, 3, 1.0) in results[1][0]  # exact copies are near-dups
    assert len(results[1][1]) == 7
    assert len(list(sinks.iterdir())) == 2

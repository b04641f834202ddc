"""Shared test helpers: the driver-style Spark-vs-DuckDB comparison,
a tiny near-duplicate corpus, the repo source walk the structural
guards share, a foreachBatch replay and the stash of widen's reads
the oracle sweep reports."""

from __future__ import annotations

import math
import uuid
from contextlib import contextmanager
from pathlib import Path

import duckdb
import pandas as pd
import pytest

from gpd_lite_toolbox_spark.fixtures import TPCH_TABLES

_REPO = Path(__file__).resolve().parents[1]

# (test id, planned partitions) of every widen call the oracle sweep
# makes; the planned value is the blocking node's name on a fallback
WIDEN_READS = pytest.StashKey[list]()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Driver-style canonicalization: columns sorted by name, rows sorted
    by all columns, index dropped."""
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def assert_parity(spark_df, sql: str, sf_dir: str, rel_tol: float = 1e-9):
    """Compare a Spark DataFrame against DuckDB oracle output."""
    left = canon(spark_df.toPandas())
    con = duck_con(sf_dir)
    right = canon(con.execute(sql).fetchdf())
    con.close()
    assert list(left.columns) == list(right.columns), (
        f"column mismatch: {list(left.columns)} vs {list(right.columns)}"
    )
    for c in left.columns:
        lk, rk = left[c].dtype.kind, right[c].dtype.kind
        # catch DecimalType leakage (arrives as object) and int/float
        # divergence — the driver compares schemas, we must too
        assert lk == rk or {lk, rk} <= {"i", "u"}, (
            f"dtype mismatch on {c}: {left[c].dtype} vs {right[c].dtype}"
        )
    assert len(left) == len(right), f"row count {len(left)} vs {len(right)}"
    for c in left.columns:
        lv, rv = left[c].to_numpy(), right[c].to_numpy()
        if left[c].dtype.kind in "fc":
            for i, (a, b) in enumerate(zip(lv, rv)):
                if not (
                    (pd.isna(a) and pd.isna(b))
                    or math.isclose(a, b, rel_tol=rel_tol, abs_tol=1e-9)
                ):
                    raise AssertionError(f"{c}[{i}]: {a!r} != {b!r}")
        else:
            mism = [
                (i, a, b) for i, (a, b) in enumerate(zip(lv, rv)) if a != b
            ]
            assert not mism, f"{c}: first mismatches {mism[:5]}"


def corpus_body(spark):
    """Tiny corpus whose text column is NOT named 'text' — the shape
    that used to break dup_groups/dedup_canonical/split_leakage's
    default-pairs path (they hardcoded text_col='text')."""
    base = "the quick brown fox jumps over the lazy dog " * 4
    rows = [
        (1, base),
        (2, base + "tail"),  # near-dup of 1
        (3, "completely different content with its own words " * 4),
    ]
    return spark.createDataFrame(rows, "id bigint, body string")


def repo_sources():
    """(repo-relative posix path, text) of every ``.py`` in the repo."""
    for path in sorted(_REPO.rglob("*.py")):
        rel = path.relative_to(_REPO)
        # plans/ holds captured plan dumps; hidden dirs are tool state
        if rel.parts[0] == "plans" or any(p.startswith(".") for p in rel.parts):
            continue
        yield rel.as_posix(), path.read_text(encoding="utf-8")


def replay_every_micro_batch(monkeypatch) -> list:
    """foreachBatch is at-least-once: run each micro-batch function
    twice with the same batch id, as a restarted query would. Returns
    the ids of the replayed micro-batches."""
    from gpd_lite_toolbox_spark.streaming import grid_stream as G

    real, replayed = G._run_foreach_batch, []

    def replaying(stream, fn):
        def twice(mb, bid):
            fn(mb, bid)
            fn(mb, bid)
            replayed.append(bid)

        real(stream, twice)

    monkeypatch.setattr(G, "_run_foreach_batch", replaying)
    return replayed


@contextmanager
def jobs_started(sc):
    """Yield a list that holds, after the block, the ids of the Spark
    jobs the block started (read from the status tracker under a job
    group of its own)."""
    group = f"tests-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs started by one test block")
    ids: list[int] = []
    try:
        yield ids
    finally:
        for key in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(key, None)
        # job-start events reach the tracker through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))

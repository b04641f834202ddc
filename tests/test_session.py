"""session.py tests: the one session configuration and its guards."""

from __future__ import annotations

import os
import re
from pathlib import Path

import pytest

from gpd_lite_toolbox_spark import deploy
from gpd_lite_toolbox_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    ENGINE_CONF,
    configure,
)

_REPO = Path(__file__).resolve().parents[1]


def _engine_conf(session) -> dict:
    return {key: session.conf.get(key) for key in ENGINE_CONF}


def test_new_session_inherits_engine_conf(spark):
    """get_spark sets ENGINE_CONF at build time, so a newSession()
    carries it before any query has run on either session."""
    assert _engine_conf(spark.newSession()) == ENGINE_CONF


def test_configure_sets_unset_keys_and_is_idempotent(spark):
    new = spark.newSession()
    for key in ENGINE_CONF:
        new.conf.unset(key)
    assert _engine_conf(new) != ENGINE_CONF
    configure(new)
    assert _engine_conf(new) == ENGINE_CONF
    before = new.conf.getAll
    configure(new)
    assert new.conf.getAll == before


def test_declared_query_leaves_session_conf_unchanged(spark, sf_dir):
    import __spark_entry__ as E

    new = spark.newSession()
    before = new.conf.getAll
    assert E.queries()["make_grid"](new, sf_dir).count() > 0
    assert new.conf.getAll == before


def test_get_spark_sizes_codegen_cache(spark):
    """The cache size is a static conf: get_spark's builder sets it,
    and a runtime set (what configure does with ENGINE_CONF) raises."""
    key = "spark.sql.codegen.cache.maxEntries"
    assert spark.conf.get(key) == str(CODEGEN_CACHE_ENTRIES)
    with pytest.raises(Exception, match="static"):
        spark.conf.set(key, str(CODEGEN_CACHE_ENTRIES))


def test_warm_text_chain_reuses_compiled_classes(spark, sf_dir):
    """A second run of the dedup -> trigram-gate chain finds its
    generated classes in the codegen cache instead of Janino-compiling
    them again. At Spark's default 100-entry cache the chain evicts its
    own classes and every run recompiles about as much as the first."""
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark import (
        dup_groups_star,
        perplexity_buckets,
        release_caches,
        trigram_logprob,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        F.col("doc_id").alias("id"), "text"
    )
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()

    def run_chain() -> int:
        n0 = compiles.getCount()
        dup_groups_star(docs).localCheckpoint()
        perplexity_buckets(docs, scorer=trigram_logprob).localCheckpoint()
        return compiles.getCount() - n0

    first = run_chain()
    release_caches()
    second = run_chain()
    # Measured at sf0.001: first 178, second 8-16 (each `limit` stage's
    # generated code carries a JVM-wide counter, so those never hit the
    # cache); at 100 entries, 178 then 173. The floor covers a first run
    # that found the chain's classes cached by earlier tests.
    assert second <= max(32, first // 4), (first, second)


def test_package_shipped_once_per_application_id(monkeypatch):
    """A new context can reuse a stopped context's id(); keyed on the
    application id it is still shipped the package."""
    calls = []

    class _Context:
        applicationId = "local-1"

        def addPyFile(self, path):
            calls.append(path)

    class _Conf(dict):
        set = dict.__setitem__

    class _Session:
        sparkContext = _Context()
        conf = _Conf()

    monkeypatch.setattr(deploy, "_shipped", set())
    monkeypatch.setattr(deploy, "_build_zip", lambda: "pkg.zip")
    session = _Session()
    configure(session)
    configure(session)
    assert len(calls) == 1
    session.sparkContext.applicationId = "local-2"
    configure(session)
    assert calls == ["pkg.zip", "pkg.zip"]


_BUILDER = re.compile(r"SparkSession\s*\.\s*builder")
_SHIP_CALL = re.compile(r"(?<!def )\bship_package\(")
_ENGINE_CONF_SET = re.compile(
    r"conf\.set\(\s*[\"'](" + "|".join(map(re.escape, ENGINE_CONF)) + r")[\"']"
)
_SESSION = "gpd_lite_toolbox_spark/session.py"


def _repo_sources():
    for path in sorted(_REPO.rglob("*.py")):
        rel = path.relative_to(_REPO)
        # plans/ holds captured plan dumps; hidden dirs are tool state
        if rel.parts[0] == "plans" or any(p.startswith(".") for p in rel.parts):
            continue
        yield rel.as_posix(), path.read_text(encoding="utf-8")


def test_only_session_py_builds_or_configures_sessions():
    """One place builds sessions and sets engine confs, so no script
    forks the configuration again."""
    offenders = []
    for rel, text in _repo_sources():
        if rel == _SESSION:
            continue
        if _BUILDER.search(text):
            offenders.append(f"{rel}: session builder")
        if _SHIP_CALL.search(text):
            offenders.append(f"{rel}: ship_package call")
        if _ENGINE_CONF_SET.search(text):
            offenders.append(f"{rel}: conf.set of an ENGINE_CONF key")
    assert offenders == []

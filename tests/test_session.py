"""session.py tests: the one session configuration and its guards."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

from gpd_lite_toolbox_spark import deploy
from gpd_lite_toolbox_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    ENGINE_CONF,
    configure,
)
from tests.util import repo_sources as _repo_sources

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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


_READ_SIZE = """
import json
from gpd_lite_toolbox_spark.session import get_spark
spark = get_spark("size-probe")
print(json.dumps([
    spark.sparkContext.master,
    spark.conf.get("spark.sql.shuffle.partitions"),
    spark.sparkContext.getConf().get("spark.driver.memory"),
]))
spark.stop()
"""


def _session_size(**env) -> list:
    """master, shuffle partitions and driver heap of a get_spark session
    started in a fresh process (the heap is fixed at JVM launch) with
    ``env`` as its only session-size settings."""
    base = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM")
    }
    out = subprocess.run(
        [sys.executable, "-c", _READ_SIZE],
        cwd=_REPO,
        env={**base, **env},
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def test_get_spark_sizes_the_session_from_the_host():
    """Unset, cores are what ``nproc`` prints and the heap is a quarter
    of MemTotal; the two env vars override them."""
    nproc = int(
        subprocess.run(
            ["nproc"],
            env={k: v for k, v in os.environ.items() if not k.startswith("OMP_")},
            capture_output=True,
            text=True,
            check=True,
        ).stdout
    )
    with open("/proc/meminfo") as fh:
        mem_kib = int(re.search(r"^MemTotal:\s+(\d+) kB", fh.read(), re.M)[1])
    assert _session_size() == [
        f"local[{nproc}]",
        str(nproc),
        f"{mem_kib // 4 // 1024}m",
    ]
    assert _session_size(SPARK_GRAFT_CPUS="3", SPARK_DRIVER_MEM="1g") == [
        "local[3]",
        "3",
        "1g",
    ]


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
_SIZE_DEFAULT = re.compile(
    r"(environ\.get|getenv|setdefault)\(\s*[\"'](SPARK_GRAFT_CPUS|SPARK_DRIVER_MEM)[\"']"
)
_SESSION = "gpd_lite_toolbox_spark/session.py"


def test_only_session_py_builds_or_configures_sessions():
    """One place builds sessions, sets engine confs and sizes them from
    the host, so no script forks the configuration or copies a core or
    heap default again (a harness reads the width from its session)."""
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
        offenders += [
            f"{rel}: reads or defaults {m[2]}" for m in _SIZE_DEFAULT.finditer(text)
        ]
    assert offenders == []

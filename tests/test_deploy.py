"""deploy.py tests: the worker import guard and its structural guard."""

from __future__ import annotations

import importlib
import re
import sys
import uuid
import zipfile

from gpd_lite_toolbox_spark import deploy
from tests.util import repo_sources

_TASKS = 8


def _probe_package_tasks(sc) -> list[tuple[int, bool, int]]:
    """Run package-UDF tasks; each returns (worker pid, guard installed,
    real invalidations on that worker since its first probe)."""

    def probe(_rows):
        import importlib
        import os
        import sys

        import gpd_lite_toolbox_spark  # noqa: F401  (installs the guard)

        class RealInvalidations:
            # a meta path finder only importlib's real function calls
            calls = 0

            def find_spec(self, *_args):
                return None

            def invalidate_caches(self):
                self.calls += 1

        counter = next(
            (f for f in sys.meta_path if type(f).__name__ == "RealInvalidations"),
            None,
        )
        if counter is None:
            counter = RealInvalidations()
            sys.meta_path.append(counter)
        guarded = hasattr(importlib.invalidate_caches, "__wrapped__")
        yield os.getpid(), guarded, counter.calls

    return sc.parallelize(range(_TASKS), _TASKS).mapPartitions(probe).collect()


def test_guard_calls_real_function_only_when_sys_path_changes(monkeypatch):
    calls = []
    guarded = deploy._skip_unchanged_path(lambda: calls.append(1))
    guarded()
    assert calls == []
    monkeypatch.setattr(sys, "path", [*sys.path, "/nonexistent/added.zip"])
    guarded()
    assert calls == [1]
    guarded()
    guarded()
    assert calls == [1]


def test_reused_worker_runs_no_real_invalidation(spark):
    sc = spark.sparkContext
    first = _probe_package_tasks(sc)
    second = _probe_package_tasks(sc)
    reused = {pid for pid, _, _ in first} & {pid for pid, _, _ in second}
    assert reused, "no worker was reused between the two jobs"
    on_reused = {(g, calls) for pid, g, calls in second if pid in reused}
    assert on_reused == {(True, 0)}


def test_py_file_added_after_package_udfs_imports_on_seen_workers(
    spark, tmp_path
):
    sc = spark.sparkContext
    seen = {pid for pid, _, _ in _probe_package_tasks(sc)}
    name = f"deploy_probe_{uuid.uuid4().hex}"
    zpath = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 42\n")
    sc.addPyFile(str(zpath))

    def use(_rows):
        import importlib
        import os

        yield os.getpid(), importlib.import_module(name).VALUE

    got = sc.parallelize(range(_TASKS), _TASKS).mapPartitions(use).collect()
    assert [value for _, value in got] == [42] * _TASKS
    assert seen & {pid for pid, _ in got}, "no already-seen worker ran"


def test_driver_keeps_stdlib_invalidate_caches():
    import gpd_lite_toolbox_spark  # noqa: F401

    deploy.guard_worker_imports()
    fn = importlib.invalidate_caches
    assert (fn.__module__, fn.__qualname__) == ("importlib", "invalidate_caches")
    assert not hasattr(fn, "__wrapped__")


_WORKER_INTERNALS = re.compile(
    r"invalidate_caches|pyspark\.worker|worker_util|_is_running_on_worker"
)


def test_only_deploy_py_touches_worker_import_internals():
    """One module owns the worker's import set-up, so no second guard
    or worker-side patch appears elsewhere."""
    allowed = {"gpd_lite_toolbox_spark/deploy.py", "tests/test_deploy.py"}
    offenders = [
        rel
        for rel, text in repo_sources()
        if rel not in allowed and _WORKER_INTERNALS.search(text)
    ]
    assert offenders == []

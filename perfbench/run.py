"""Benchmark entry point.

    python3 perfbench/run.py --workload geo_reference --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It generates the workload's inputs from
the seed (untimed), starts the engine with ``get_spark()`` on
``local[nproc]`` in this one driver process, runs the workload pipeline
once cold, then warm in a closed loop of one client until ``--seconds``
have passed (at least ``WARM_PASSES`` of them), checks every output, sets
the session up twice more to time set-up again, and prints the result
as one JSON line, last on stdout. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` reports the per-layer
metrics of a separate traced session (spans, job groups, Spark event
log) and the tracing overhead. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import probe  # noqa: E402
from spans import HOT_CALLS, LAYERS, Tracer, fold_event_log, self_times  # noqa: E402

WORKLOAD_NAMES = ("geo_reference", "curation")
# input tables whose rows rows_per_s counts
INPUT_TABLES = {
    "geo_reference": ("customer", "supplier"),
    "curation": ("documents",),
}
# warm passes per run however short --seconds is. A fixed count keeps
# the JIT compiler's progress alike across runs and commits; the counts
# are what the run budget affords (see README.md, "Time budget")
WARM_PASSES = {"geo_reference": 3, "curation": 2}
# set-ups per untraced run: the fresh one, then session restarts
SETUPS = 3

E2E_UNITS = {"setup_s": "s", "run_s": "s", "rows_per_s": "rows/s", "cpu_s": "s"}

_LAYER_MEASURES = {
    "s": ("self_s", "construct_s", "plan_s", "exec_s", "cpu_s",
          "py_worker_s", "gc_s"),
    "count": ("exchanges", "rows_in", "rows_out", "tasks"),
    "bytes": ("py_bytes", "shuffle_bytes", "spill_bytes"),
    "ratio": ("task_skew",),
}
_WORK_LAYERS = ("sources", "geometry", "operators", "text", "vector")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name the traced run prints, with its unit."""
    out = {}
    for layer in _WORK_LAYERS:
        for unit, names in _LAYER_MEASURES.items():
            out.update({f"{layer}.{m}": unit for m in names})
    out.update({f"session.{m}": "s" for m in ("self_s", "cpu_s", "py_worker_s", "gc_s")})
    out["session.tasks"] = "count"
    out.update({"cache.self_s": "s", "cache.cpu_s": "s",
                "cache.cached_mb": "MB", "cache.leftover_frames": "count"})
    out.update({
        "text.minhash_lsh_pairs.useful_ratio": "ratio",
        "operators.bbox_join.useful_ratio": "ratio",
    })
    for call, layer in HOT_CALLS.items():
        for m in ("self_s", "cpu_s", "py_worker_s"):
            out[f"{layer}.{call}.{m}"] = "s"
    out.update({
        "bench.run_s_traced": "s", "bench.run_s_untraced": "s",
        "bench.trace_overhead_s": "s", "bench.run_s_tail": "s",
        "bench.self_sum_s": "s", "bench.op_fail_ratio": "ratio",
        "bench.first_run_s": "s", "bench.fresh_setup_s": "s",
        "bench.peak_pss_mb": "MB",
        "host.load1_end": "load", "host.steal_iowait_share": "ratio",
    })
    return out


def tail(values: list[float]) -> float:
    """The highest percentile with at least ten samples above it, or the
    maximum when there are too few samples."""
    vals = sorted(values)
    return vals[-1] if len(vals) <= 10 else vals[-11]


# ------------------------------------------------------------ environment
def prepare_env(root: str, work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(os.cpu_count()),
        "PYSPARK_SUBMIT_ARGS": shlex.join([
            # -XX:-UsePerfData: HotSpot writes hsperfdata under /tmp
            # regardless of java.io.tmpdir
            "--driver-java-options",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "--conf", f"spark.local.dir={local}",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]),
    })
    sys.path.insert(0, root)


def setup_session(tracer: Tracer, sf_dir: str, app: str):
    """get_spark (which ships the package), a Python-worker pool warm-up
    on every core, and table registration."""
    import gpd_lite_toolbox_spark as G
    from gpd_lite_toolbox_spark import fixtures as FX
    from gpd_lite_toolbox_spark.geometry.functions import st_point
    from pyspark.sql import functions as F

    spark = G.get_spark(app)
    tracer.sc = spark.sparkContext
    span = tracer.open("warm_workers", "session")
    n = os.cpu_count()
    x = F.col("id").cast("double")
    # aggregate the UDF's output: a bare count() would prune the UDF away
    spark.range(0, 64 * n, numPartitions=n).agg(
        F.max(F.length(st_point(x, x)))).collect()
    tracer.close(span)
    span = tracer.open("register_base_tables", "session")
    FX.register_base_tables(spark, sf_dir)
    tracer.close(span)
    return spark


def restart_setup(runner) -> float:
    """Stop the session and set it up again in the same JVM; returns the
    set-up seconds (stopping is not set-up)."""
    # keep the old context alive: ship_package keys on id(SparkContext)
    runner.old_contexts.append(runner.spark.sparkContext)
    runner.spark.stop()
    t0 = time.perf_counter()
    runner.spark = setup_session(Tracer(), runner.sf_dir, "perfbench-restart")
    return time.perf_counter() - t0


def stop_engine() -> None:
    """Stop Spark, then the JVM, and wait until every process this run
    started has ended."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while len(probe.tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)


def cleanup_caches(spark) -> int:
    """Clear every cache the run left behind, so the next run starts
    from the same state; returns how many persisted frames were left."""
    n = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    return n


# --------------------------------------------------------------- running
class Runner:
    """Runs one workload's pipeline repeatedly in one session and keeps
    the count of attempted and failed operations across all runs."""

    def __init__(self, spark, workload, sf_dir, work, rows, tracer):
        from workloads import WORKLOADS

        self.spark, self.sf_dir, self.work, self.rows = spark, sf_dir, work, rows
        self.pipeline, self.oracles = WORKLOADS[workload]
        self.tracer = tracer
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.reference: dict[str, str] | None = None
        self.old_contexts: list = []

    def run(self, label: str, check: bool = False) -> dict:
        """One pass. ``check`` adds the untimed checks that need extra
        Spark jobs; their CPU time counts in this pass's ``cpu_s``."""
        from workloads import Ctx, StageFailed

        # start every pass from a collected heap in the driver and the
        # JVM, so a pass does not pay for the garbage of the one before
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        self.tracer.run = label
        ctx = Ctx(self.spark, self.sf_dir, os.path.join(self.work, "out"),
                  self.tracer, self.rows, check)
        host0 = probe.cpu_fields()
        cpu0 = probe.tree_cpu_s()
        t0 = time.perf_counter()
        try:
            self.pipeline(ctx)
        except StageFailed:
            pass
        wall = time.perf_counter() - t0 - ctx.untimed_s
        cpu = probe.tree_cpu_s() - cpu0
        steal = probe.steal_share(host0, probe.cpu_fields())
        leftover = cleanup_caches(self.spark)
        if self.reference is None:
            self.reference = dict(ctx.digests)
        elif ctx.digests != self.reference:
            bad = sorted(k for k in self.reference.keys() | ctx.digests.keys()
                         if ctx.digests.get(k) != self.reference.get(k))
            ctx.failures.append(f"digest changed between runs: {bad}")
        self.attempted += ctx.attempted
        self.failed += len(ctx.failures)
        self.failures += [f"{label}: {f}" for f in ctx.failures]
        parts = dict(ctx.call_s)
        parts["between_calls"] = wall - sum(parts.values())
        return {"label": label, "wall_s": wall, "cpu_s": cpu, "parts": parts,
                "steal_share": steal, "leftover_frames": leftover, "ctx": ctx}

    def repeat(self, seconds: float, label: str, min_runs: int) -> list[dict]:
        """Warm passes until ``seconds`` have passed, at least ``min_runs``."""
        out, t_end = [], time.perf_counter() + seconds
        while len(out) < min_runs or time.perf_counter() < t_end:
            out.append(self.run(f"{label}{len(out)}"))
        return out

    def check_oracles(self, digests: dict[str, str], plant: str | None) -> None:
        """Cross-check the cold run's stages against the DuckDB mirrors."""
        from check import duckdb_digests

        expected = duckdb_digests(self.sf_dir, self.oracles)
        if plant:
            expected[plant] = "planted:0000000000000000"
        for stage, want in expected.items():
            self.attempted += 1
            if digests.get(stage) != want:
                self.failed += 1
                self.failures.append(
                    f"oracle mismatch {stage}: spark={digests.get(stage)} "
                    f"duckdb={want}")


# ------------------------------------------------------------------ main
def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sizes", default=None, choices=sorted(gen.SIZES),
                    help="input size set (default: the workload's own)")
    ap.add_argument("--plant-digest", default=None, metavar="STAGE",
                    help="expect a wrong digest for STAGE (self-test)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "gpd_lite_toolbox_spark", "__init__.py")):
        print("perfbench: run from a checkout root holding gpd_lite_toolbox_spark/",
              file=sys.stderr)
        return 2
    host = probe.HostState()
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    sf_dir = os.path.join(work, "inputs")
    rows = gen.generate(args.sizes or args.workload, args.seed, sf_dir)
    print(f"inputs {gen.inputs_digest(sf_dir)} rows={rows}", flush=True)
    prepare_env(root, work)
    try:
        result = measure(args, work, sf_dir, rows, host)
    finally:
        stop_engine()
        for d in ("tmp", "spark-local", "out", "inputs", "eventlog"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(json.dumps(result))
    return 0


def median_run_s(passes: list[dict]) -> float:
    """A warm pass's wall time, as the sum over its public calls (and
    the time between them) of each one's median over ``passes``: a burst
    of host load that slows one call in one pass is outvoted."""
    return sum(statistics.median(p["parts"][k] for p in passes)
               for k in passes[0]["parts"])


def measure(args, work, sf_dir, rows, host) -> dict:
    t0 = time.perf_counter()
    spark = setup_session(Tracer(), sf_dir, f"perfbench-{args.workload}")
    fresh_setup_s = time.perf_counter() - t0
    mem = probe.MemSampler().start()
    runner = Runner(spark, args.workload, sf_dir, work, rows, Tracer())
    cold = runner.run("cold", check=True)
    warm = runner.repeat(args.seconds, "warm", WARM_PASSES[args.workload])
    peak_mb = mem.stop()
    runner.check_oracles(cold["ctx"].digests, args.plant_digest)
    run_s = median_run_s(warm)
    n_rows = sum(rows.get(t, 0) for t in INPUT_TABLES[args.workload])
    record = {
        "workload": args.workload, "seed": args.seed, "rows": rows,
        "fresh_setup_s": fresh_setup_s, "first_run_s": cold["wall_s"],
        "warm_wall_s": [r["wall_s"] for r in warm],
        "warm_cpu_s": [r["cpu_s"] for r in warm],
        "warm_parts_s": [r["parts"] for r in warm],
        "warm_steal_share": [r["steal_share"] for r in warm],
        "peak_pss_mb": peak_mb,
        "digests": cold["ctx"].digests,
    }
    print("digests " + json.dumps(cold["ctx"].digests, sort_keys=True), flush=True)
    if args.trace:
        metrics = traced_session(args, runner, work, warm)
        metrics["bench.fresh_setup_s"] = fresh_setup_s
        units = per_layer_units()
    else:
        setups = [fresh_setup_s] + [restart_setup(runner)
                                    for _ in range(SETUPS - 1)]
        record["setup_s"] = setups
        metrics = {
            "setup_s": statistics.median(setups),
            "run_s": run_s,
            "rows_per_s": n_rows / run_s,
            "cpu_s": statistics.median(r["cpu_s"] for r in warm),
        }
        units = E2E_UNITS
    record["host"] = host.record()
    record["failures"] = runner.failures[:50]
    attempted = max(runner.attempted, 1)
    if args.trace:
        metrics["host.load1_end"] = record["host"]["load1_end"]
        metrics["host.steal_iowait_share"] = (
            record["host"]["iowait_share"] + record["host"]["steal_share"])
        metrics["bench.op_fail_ratio"] = runner.failed / attempted
        metrics["bench.first_run_s"] = cold["wall_s"]
        metrics["bench.peak_pss_mb"] = peak_mb
        record["per_layer"] = metrics
    with open(os.path.join(work, "record.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print("host " + json.dumps(record["host"]), flush=True)
    for f in runner.failures[:20]:
        print("FAIL " + f, flush=True)
    return {
        "correct": runner.failed == 0,
        "attempted": attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u}
                    for k, u in units.items()},
    }


# --------------------------------------------------------------- tracing
def traced_session(args, runner, work, untraced) -> dict:
    """Restart Spark with the event log on, rerun the pipeline with spans
    and job groups, fold the log onto the spans, and report the traced
    run against the untraced warm passes before it."""
    from pyspark import SparkConf, SparkContext

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    runner.old_contexts.append(runner.spark.sparkContext)
    runner.spark.stop()
    tracer = Tracer(enabled=True)
    conf = (SparkConf()
            .setMaster(f"local[{os.cpu_count()}]")
            .set("spark.eventLog.enabled", "true")
            .set("spark.eventLog.dir", "file://" + log_dir)
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "true"))
    t0 = time.perf_counter()
    tracer.sc = SparkContext(conf=conf)
    top = tracer.open("get_spark", "session")
    top.start = t0  # the context start above is part of set-up
    spark = setup_session(tracer, runner.sf_dir, f"perfbench-{args.workload}-traced")
    tracer.close(top)
    runner.spark, runner.tracer = spark, tracer
    traced = runner.repeat(0, "traced", 1)
    ratios = useful_ratios(args.workload, runner, traced[-1]["ctx"])
    spark.stop()
    tracer.write(os.path.join(work, "spans.jsonl"))
    labels = [r["label"] for r in traced]
    out = layer_metrics(tracer, fold_event_log(log_dir), labels)
    out.update(ratios)
    untraced_s = [r["wall_s"] for r in untraced]
    out["bench.run_s_traced"] = statistics.median(r["wall_s"] for r in traced)
    out["bench.run_s_untraced"] = median_run_s(untraced)
    out["bench.trace_overhead_s"] = (
        out["bench.run_s_traced"] - out["bench.run_s_untraced"])
    out["bench.run_s_tail"] = tail(untraced_s)
    out["cache.cached_mb"] = statistics.median(
        r["ctx"].extra.get("cached_mb", 0.0) for r in traced)
    out["cache.leftover_frames"] = statistics.median(
        r["leftover_frames"] for r in traced)
    return out


def layer_metrics(tracer: Tracer, groups: dict, runs: list[str]) -> dict:
    """Sums per layer and per hot call within each traced run, median
    over ``runs``; session metrics come from the traced set-up."""
    selfs = self_times(tracer.spans)
    per_run: dict[str, dict[str, float]] = {r: {} for r in runs}
    setup: dict[str, float] = {}

    def add(acc, key, v):
        acc[key] = acc.get(key, 0.0) + v

    for span in tracer.spans:
        acc = setup if span.run == "setup" else per_run.get(span.run)
        if acc is None:
            continue
        g = groups.get(span.id, {})
        vals = {k: g.get(k, 0.0) for k in (
            "cpu_s", "py_worker_s", "gc_s", "tasks", "py_bytes",
            "shuffle_bytes", "spill_bytes", "skew_w", "busy_ms")}
        vals["self_s"] = selfs[span.id]
        for k in ("construct_s", "plan_s", "exec_s", "exchanges", "rows_in",
                  "rows_out"):
            vals[k] = float(span.attrs.get(k, 0.0))
        for k, v in vals.items():
            add(acc, f"{span.layer}.{k}", v)
        if span.name in HOT_CALLS:
            for k in ("self_s", "cpu_s", "py_worker_s"):
                add(acc, f"{span.layer}.{span.name}.{k}", vals[k])
        add(acc, "bench.self_sum_s", selfs[span.id])
    for acc in [*per_run.values(), setup]:
        for layer in LAYERS:
            busy = acc.pop(f"{layer}.busy_ms", 0.0)
            skew_w = acc.pop(f"{layer}.skew_w", 0.0)
            acc[f"{layer}.task_skew"] = skew_w / busy if busy else 1.0
    keys = set().union(*per_run.values())
    out = {k: statistics.median(r.get(k, 0.0) for r in per_run.values())
           for k in keys}
    out.update({k: v for k, v in setup.items() if k.startswith("session.")})
    return out


def useful_ratios(workload, runner, ctx) -> dict:
    """Useful work over candidates where the public API exposes the
    candidate set; computed untraced, after the traced runs."""
    import gpd_lite_toolbox_spark as G
    from gpd_lite_toolbox_spark import fixtures as FX
    from pyspark.sql import functions as F

    spark, sf_dir = runner.spark, runner.sf_dir
    runner.tracer.enabled = False
    if workload == "geo_reference":
        cols = ("id", "x0", "y0", "x1", "y1")
        cand = G.bbox_join(FX.cpolys(spark, sf_dir).select(*cols),
                           FX.cpolys_b(spark, sf_dir).select(*cols),
                           cell_size=3125.0).count()
        return {"operators.bbox_join.useful_ratio":
                ctx.extra["concave_pairs"] / max(cand, 1)}
    if workload == "curation":
        from gpd_lite_toolbox_spark.text.dedup import (
            minhash_band_keys,
            minhash_signatures,
        )

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
            F.col("doc_id").alias("id"), "text")
        bands = minhash_band_keys(minhash_signatures(docs))
        a, b = bands.alias("a"), bands.alias("b")
        cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                       & (F.col("a.band_key") == F.col("b.band_key"))
                       & (F.col("a.id") < F.col("b.id")))
                .select("a.id", "b.id").distinct().count())
        kept = G.minhash_lsh_pairs(docs).count()
        G.release_caches()
        return {"text.minhash_lsh_pairs.useful_ratio": kept / max(cand, 1)}
    return {}


if __name__ == "__main__":
    sys.exit(main())

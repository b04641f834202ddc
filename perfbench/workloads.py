"""The workload pipelines, written against the package's public
functions the way a user calls them.

Each pipeline takes a ``Ctx`` and routes every public call through
``ctx.op``, which consumes its result (collect + digest, local
checkpoint, or nothing for a write), records the call's wall time and,
in a traced run, wraps it in a span whose id tags the call's Spark
jobs. The calls and their arguments mirror the package's declared
queries wherever a DuckDB mirror exists, so each workload's oracle map
can cross-check the same stage by name. Checks that need extra Spark
jobs run inside ``ctx.untimed()`` and only on passes with
``ctx.check`` set, so they never weigh on a timed pass.
"""

from __future__ import annotations

import contextlib
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import gpd_lite_toolbox_spark as G
from gpd_lite_toolbox_spark import fixtures as FX
from gpd_lite_toolbox_spark import oracles as OR

from check import digest
from spans import force_plan

POLY_CELL = 3125.0


class StageFailed(Exception):
    pass


class Ctx:
    """State of one pipeline run."""

    def __init__(self, spark, sf_dir, out_dir, tracer, rows, check=False):
        self.spark, self.sf_dir, self.out_dir = spark, sf_dir, out_dir
        self.tracer, self.rows, self.check = tracer, rows, check
        self.digests: dict[str, str] = {}
        self.failures: list[str] = []
        self.attempted = 0
        self.call_s: dict[str, float] = {}  # public call -> wall seconds
        self.untimed_s = 0.0
        self.extra: dict = {}  # untimed by-products for traced metrics

    @contextlib.contextmanager
    def untimed(self):
        """Time spent inside is taken off the pass's wall time."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.untimed_s += time.perf_counter() - t0

    def op(self, layer, name, build, consume="digest", rows_in=0, stage=None):
        """Run one public call. ``consume``: "digest" collects the result
        and records its digest under ``stage`` (default ``name``);
        "checkpoint" pins it with an eager localCheckpoint (as
        examples/star_trigram_pipeline.py does, so the next stage's plan
        starts from the pinned rows) and counts it; None means the call
        does its own work (a write) and returns no frame."""
        span = self.tracer.open(name, layer)
        self.attempted += 1
        attrs = {"rows_in": rows_in}
        t0 = time.perf_counter()
        try:
            out = build()
            t1 = time.perf_counter()
            if isinstance(out, DataFrame):
                attrs["construct_s"] = t1 - t0
                if span is not None:
                    attrs.update(force_plan(out))
                t2 = time.perf_counter()
                if consume == "digest":
                    out = out.toPandas()
                    self.digests[stage or name] = digest(out)
                    attrs["rows_out"] = len(out)
                elif consume == "checkpoint":
                    out = out.localCheckpoint()
                    attrs["rows_out"] = out.count()
                attrs["exec_s"] = time.perf_counter() - t2
            else:
                attrs["exec_s"] = t1 - t0
        except Exception as exc:  # noqa: BLE001 - any raise is a failed op
            self.failures.append(f"{layer}.{name}: {type(exc).__name__}: {exc}"[:500])
            raise StageFailed(name) from exc
        finally:
            self.call_s[name] = time.perf_counter() - t0
            if span is not None:
                span.attrs.update(attrs)
            self.tracer.close(span)
        return out

    def expect(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(f"check failed: {what}")


# ---------------------------------------------------------- geo_reference
def geo_reference(ctx: Ctx) -> None:
    """The paper's surface in sequence: decode a layer, reproject, bin
    points, exact concave pair statistics, then k-means regions of the
    points. Every frame comes from the fixtures the package's declared
    queries use, so the DuckDB mirrors apply."""
    from gpd_lite_toolbox_spark.geometry.functions import st_area
    from gpd_lite_toolbox_spark.sources.wkt import st_aswkt, st_fromwkt

    s, d, n = ctx.spark, ctx.sf_dir, ctx.rows
    n_pts, n_polys = n["customer"], n["supplier"]
    cpolys = FX.cpolys(s, d)

    ctx.op("sources", "st_fromwkt", lambda: cpolys.select(
        "id", "has_hole",
        st_fromwkt(st_aswkt(F.col("geometry"))).alias("geometry"),
    ).select("id", "has_hole", F.round(st_area("geometry"), 6).alias("area")),
        rows_in=n_polys, stage="wkt_roundtrip")

    def reproject():
        pts = G.set_crs(FX.points(s, d), "EPSG:3857")
        there = G.to_crs(pts, "EPSG:4326", x_col="x", y_col="y")
        back = G.to_crs(there, "EPSG:3857", x_col="x", y_col="y")
        return back.select(
            F.max(F.abs(F.col("x") - F.round("x"))).alias("dx"),
            F.max(F.abs(F.col("y") - F.round("y"))).alias("dy"),
        )

    rt = ctx.op("geometry", "to_crs", reproject, rows_in=n_pts)
    ctx.expect("to_crs round trip within 1e-6 m",
               float(rt.dx[0]) < 1e-6 and float(rt.dy[0]) < 1e-6)

    ctx.op("operators", "gridify_data", lambda: G.gridify_data(
        FX.points(s, d, with_geometry=False), OR.GRID_H, "t_obs",
        methods=("min", "mean", "max", "sum", "std"),
    ), rows_in=n_pts, stage="gridify_stats")
    pairs = ctx.op("operators", "intersection_stats_table",
                   lambda: G.intersection_stats_table(
                       cpolys, FX.cpolys_b(s, d), cell_size=POLY_CELL),
                   rows_in=2 * n_polys, stage="concave_pairs")
    ctx.extra["concave_pairs"] = len(pairs)

    def regions():
        # k-means regionalisation of the points, seeded at the centres
        # of a 4 x 4 grid over the frame
        centres = [[(i + 0.5) * 25_000.0, (j + 0.5) * 25_000.0]
                   for i in range(4) for j in range(4)]
        vecs = FX.points(s, d, with_geometry=False).select(
            F.col("id").alias("vec_id"), F.array("x", "y").alias("embedding"))
        return G.kmeans_assign(vecs, centres, n_iter=1)

    cells = ctx.op("vector", "kmeans_assign", regions, rows_in=n_pts)
    ctx.expect("every point gets one of the 16 regions",
               len(cells) == n_pts and cells.cell.between(0, 15).all())
    release(ctx)


GEO_ORACLES = {
    "wkt_roundtrip": OR.WKT_ROUNDTRIP,
    "gridify_stats": OR.GRIDIFY_STATS,
    "concave_pairs": OR.CONCAVE_PAIRS,
}


# --------------------------------------------------------------- curation
def curation(ctx: Ctx) -> None:
    """examples/star_trigram_pipeline.py's chain, trimmed to its hot
    stages: ingest, near-dup clustering keeping one document per group,
    the Aho-Corasick blocklist gate, the trigram quality gate (the tail
    tercile is dropped), then the training-shard write. Each stage is
    pinned with a local checkpoint, as in the example.

    On checking passes, untimed: at least one near-duplicate group
    collapses; the blocklist gate removes exactly the survivors whose
    text holds a banned phrase (matched in Python, case-insensitively,
    against the input table); the quality gate keeps a subset of about
    two thirds; the shards hold exactly the final documents."""
    from gpd_lite_toolbox_spark.text.analysis import BANNED_FIXTURE_PHRASES

    s, n_docs = ctx.spark, ctx.rows["documents"]
    phrases = list(BANNED_FIXTURE_PHRASES)
    docs = ctx.op("sources", "read_parquet", lambda: s.read.parquet(
        os.path.join(ctx.sf_dir, "documents.parquet")
    ).select(F.col("doc_id").alias("id"), "text", "source"),
        consume="checkpoint", rows_in=n_docs)
    deduped = ctx.op("text", "dup_groups_star", lambda: docs.join(
        G.dup_groups_star(docs).filter(F.col("id") == F.col("group_id"))
        .select("id"), "id"),
        consume="checkpoint", rows_in=n_docs)
    clean = ctx.op("text", "banned_phrase_hits", lambda: deduped.join(
        G.banned_phrase_hits(deduped, phrases, mode="ac")
        .select("id").distinct(), "id", "left_anti"),
        consume="checkpoint", rows_in=n_docs)
    train = ctx.op("text", "perplexity_buckets", lambda: clean.join(
        G.perplexity_buckets(clean, scorer=G.trigram_logprob)
        .filter(F.col("bucket") != "tail").select("id"), "id"),
        consume="checkpoint", rows_in=n_docs)
    path = os.path.join(ctx.out_dir, "training_shards")
    ctx.op("sources", "write_training_shards", lambda: G.write_training_shards(
        train, path, n_shards=8, seed=0), consume=None, rows_in=n_docs)

    final = train.select("id").toPandas()
    ctx.digests["final_ids"] = digest(final)
    if ctx.check:
        with ctx.untimed():
            ids = {name: set(frame.select("id").toPandas().id)
                   for name, frame in (("deduped", deduped), ("clean", clean))}
            shard_ids = s.read.parquet(path).select("id").toPandas().id
            check_curation(ctx, phrases, ids["deduped"], ids["clean"],
                           set(final.id), shard_ids)
    release(ctx)


def check_curation(ctx, phrases, deduped, clean, final, shard_ids) -> None:
    import pyarrow.parquet as pq

    table = pq.read_table(os.path.join(ctx.sf_dir, "documents.parquet"),
                          columns=["doc_id", "text"]).to_pydict()
    text = dict(zip(table["doc_id"], table["text"]))
    low = [p.lower() for p in phrases]
    banned = {i for i in deduped if any(p in text[i].lower() for p in low)}
    ctx.expect("near-duplicate groups collapse: fewer docs after dedup",
               0 < len(deduped) < len(text))
    ctx.expect("some dedup survivors hold a banned phrase", bool(banned))
    ctx.expect("blocklist gate drops exactly the docs holding a banned phrase",
               clean == deduped - banned)
    ctx.expect("quality gate keeps about two thirds of its input",
               final <= clean and 0.6 <= len(final) / max(len(clean), 1) <= 0.7)
    ctx.expect("shards hold every final doc once",
               len(shard_ids) == len(final) and set(shard_ids) == final)


def release(ctx: Ctx) -> None:
    if ctx.tracer.enabled:
        infos = ctx.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        ctx.extra["cached_mb"] = sum(
            i.memSize() + i.diskSize() for i in infos) / 2**20
    ctx.op("cache", "release_caches", G.release_caches, consume=None)


WORKLOADS = {
    "geo_reference": (geo_reference, GEO_ORACLES),
    "curation": (curation, {}),
}

"""SF1 A/B for the k-means ASSIGNMENT-PASS design (r10 VERDICT item 2).

Round 10 kept the Arrow argmin kernel, whose one-row broadcast
crossJoin ships the flat k x dims center array ACROSS THE PYTHON
BOUNDARY ONCE PER ROW (~32 KB/row at match_line_cluster's k~1100) —
measured a dead heat at sf0.1 against the fully-native
k-row-crossJoin + min(struct(d2, cell)) form, which moves no per-row
centers but materializes N x k join rows into a hash aggregate.  The
sf0.1 verdict was "stage-latency-bound, cannot distinguish"; this
script settles it one decade up, on the exact inputs the two board
queries feed the kernel:

- ``emb``: the sf1 embeddings table (rows ~133k, k=8, dims=64 — the
  ``embedding_clusters`` shape);
- ``mlc``: side-B line descriptors from the sf1 part-derived road
  fixture pooled with the sf0.1 A side (k ~ |A| ~ 1100, dims=4 — the
  ``match_line_cluster_fixed_k`` shape, where the per-row center
  payload is ~35 KB).

Each variant times ONE assignment pass (noop sink, warm + min-of-3,
cache cleared — bench.py's discipline), interleaved A/B/A/B within
one session, and the two variants' assignments are verified EQUAL
row-for-row before any timing is trusted.

Run at SPARK_GRAFT_CPUS=32 and 8 (the driver's scaling dimension):

    python scripts/ab_kmeans_assign_sf1.py
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(REPO, "benchdata", "sf1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def native_assign(vectors_d, ctr_one_row, dims: int, k: int):
    """The round-10 'fully-native' assignment candidate: centers
    exploded to a broadcast k-row relation, d2 as the Catalyst fold
    PER (row, center) PAIR (dims steps each — the k factor is rows,
    not expression size), argmin via min(struct(d2, cell)) — ties
    resolve to the smallest cell, i.e. the first minimum, exactly the
    kernel's np.argmin rule.  No Python boundary, no per-row center
    payload; the cost is hashing N x k join rows through the
    aggregate."""
    from pyspark.sql import functions as F

    ctrk = ctr_one_row.select(
        F.explode(
            F.expr(
                f"transform(sequence(0, {k - 1}), i -> struct("
                f"CAST(i AS INT) AS cell,"
                f" slice(_ctr, i * {dims} + 1, {dims}) AS cv))"
            )
        ).alias("s")
    ).select("s.cell", "s.cv")
    d2 = F.expr(
        "aggregate(zip_with(_vv, cv, (x, y) -> (x - y) * (x - y)),"
        " 0.0D, (acc, x) -> acc + x)"
    )
    return (
        vectors_d.crossJoin(F.broadcast(ctrk))
        .withColumn("_d2", d2)
        .groupBy("id")
        .agg(F.min(F.struct("_d2", "cell")).alias("_m"))
        .select("id", F.col("_m.cell").alias("cell"))
    )


def main() -> None:
    from pyspark.sql import functions as F

    from gpd_lite_toolbox_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEM", "16g")
    spark = get_spark("ab_kmeans_assign_sf1")
    spark.sparkContext.setLogLevel("ERROR")

    from gpd_lite_toolbox_spark import fixtures as FX
    from gpd_lite_toolbox_spark.operators.lines import line_params
    from gpd_lite_toolbox_spark.vector.kmeans import _assign
    from gpd_lite_toolbox_spark.vector.pq import default_coarse_centroids

    if not os.path.exists(os.path.join(SF1, "_GENERATED_V3")):
        raise SystemExit("run bench_sf1.py once first to generate sf1 data")

    def descriptors(verts):
        p = line_params(verts)
        return p.select(
            "id",
            *[F.round(F.col(c), 6).alias(c) for c in
              ("cx", "cy", "length", "bearing")],
        )

    # --- inputs ------------------------------------------------------
    emb = spark.read.parquet(f"{SF1}/embeddings.parquet")
    emb_vd = emb.select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("_vv"),
    ).localCheckpoint()  # isolate the PASS, not the upstream lineage
    emb_seeds = default_coarse_centroids()

    va = descriptors(
        FX.road_verts(spark, SF01).filter(F.col("id") % 20 == 7)
        .drop("road_class")
    )
    vb = descriptors(
        FX.road_b_verts(spark, SF1).filter(F.col("id") % 20 == 7)
    )
    vec = F.array("cx", "cy", "length", "bearing")
    mlc_seeds = [
        [r.cx, r.cy, r.length, r.bearing] for r in va.orderBy("id").collect()
    ]
    pooled = (
        va.select((F.col("id") * 2).alias("id"), vec.alias("_vv"))
        .unionByName(
            vb.select((F.col("id") * 2 + 1).alias("id"), vec.alias("_vv"))
        )
        .localCheckpoint()
    )

    cases = {
        "emb_sf1": (emb_vd, emb_seeds),
        "mlc_sf1": (pooled, mlc_seeds),
    }
    out: dict = {"cpus": int(CPUS), "passes": {}}
    for name, (vd, seeds) in cases.items():
        dims, k = len(seeds[0]), len(seeds)
        ctr = spark.createDataFrame(
            [([float(x) for c in seeds for x in c],)], "_ctr array<double>"
        )
        kernel_df = _assign(vd, ctr, dims).select("id", "cell")
        native_df = native_assign(vd, ctr, dims, k)
        a = {r.id: r.cell for r in kernel_df.collect()}
        b = {r.id: r.cell for r in native_df.collect()}
        assert a == b, f"{name}: assignment mismatch ({len(a)} rows)"

        def t3(df):
            df.write.mode("overwrite").format("noop").save()  # warm
            best = float("inf")
            for _ in range(3):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
                best = min(best, time.perf_counter() - t0)
            return round(best, 3)

        # interleaved: kernel, native, kernel, native
        ks, ns = [], []
        for _ in range(2):
            ks.append(t3(kernel_df))
            ns.append(t3(native_df))
        out["passes"][name] = {
            "rows": vd.count(),
            "k": k,
            "dims": dims,
            "per_row_center_bytes": k * dims * 8,
            "kernel_sec": ks,
            "native_sec": ns,
            "equal_assignments": True,
            "loadavg1": round(os.getloadavg()[0], 1),
        }
        print(name, out["passes"][name], flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

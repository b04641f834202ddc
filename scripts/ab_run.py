"""Interleaved A/B bench runner (round-7 VERDICT item 2).

    python scripts/ab_run.py TREE_DIR QUERY [QUERY ...]

Runs the named queries from TREE_DIR's __spark_entry__ exactly the way
bench.py does (noop sink, warm run, min-of-3 with cache cleared) and
prints ONE JSON line with per-query seconds plus host loadavg, so two
trees can be alternated within the same wall-clock session and the
"noise or regression?" question settled from interleaved numbers.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    tree = os.path.abspath(sys.argv[1])
    names = sys.argv[2:]
    sys.path.insert(0, tree)
    os.chdir(tree)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import functions as F

    # imported after TREE_DIR is on sys.path: the session comes from it
    from gpd_lite_toolbox_spark.session import get_spark

    spark = get_spark("ab_run")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism

    import __spark_entry__ as E

    @F.pandas_udf("double")
    def _warm(v):
        return v

    spark.range(0, cpus * 4, 1, cpus).select(
        _warm(F.col("id").cast("double"))
    ).write.mode("overwrite").format("noop").save()

    qs = E.queries()
    timings: dict[str, float] = {}
    for name in names:
        df = qs[name](spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        best = float("inf")
        for _ in range(3):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
    print(
        json.dumps(
            {
                "tree": tree,
                "queries": timings,
                "total": round(sum(timings.values()), 3),
                "loadavg": list(os.getloadavg()),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

"""SF1 proof of the round-10 trigram scorer restructure (r10 VERDICT
item 5).

Round 10 moved the per-type NLL assembly onto the trigram-TYPE side
so the corpus-sized per-doc table joins ONCE on (w1,w2,w3) instead of
riding five joins on five different keys.  At sf0.1 every model join
is broadcast, so the change was (honestly) measured neutral; the
claim it was made for — five corpus-sized exchanges collapse to one
when the model tables outgrow the broadcast threshold — is exactly
what ``spark.sql.autoBroadcastJoinThreshold=-1`` simulates.  This
script runs the CURRENT tree against the pre-restructure tree
(f6825c3~1) at SF1 with broadcast disabled, dumps both physical
plans, counts the exchanges the per-doc table rides, and records the
wall delta.

    python scripts/ab_trigram_sf1.py LABEL TREE

One tree per process (a second tree's ship_package / fixture
memoization conflicts inside one JVM); run it once per tree and
compare the two printed JSON lines.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1 = os.path.join(REPO, "benchdata", "sf1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
QUERIES = ["trigram_logprob", "kn_trigram_logprob"]


def main() -> None:
    label, tree = sys.argv[1], os.path.abspath(sys.argv[2])
    from pyspark.sql import functions as F

    if not os.path.exists(os.path.join(SF1, "_GENERATED_V3")):
        raise SystemExit("run bench_sf1.py once first to generate sf1 data")

    sys.path.insert(0, tree)
    import __spark_entry__ as E

    assert E.__file__.startswith(tree + os.sep)
    # imported after TREE is on sys.path: the session comes from it
    from gpd_lite_toolbox_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEM", "16g")
    spark = get_spark("ab_trigram_sf1")
    spark.sparkContext.setLogLevel("ERROR")
    # the experiment variable: simulate model tables past the broadcast cap
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    qs = E.queries()

    out: dict = {
        "label": label,
        "tree": tree,
        "cpus": int(CPUS),
        "broadcast": "disabled",
        "runs": {},
    }
    for name in QUERIES:
        df = qs[name](spark, SF1)
        df.write.mode("overwrite").format("noop").save()  # warm
        best = float("inf")
        for _ in range(3):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        plan = df._jdf.queryExecution().executedPlan().toString()
        pp = os.path.join(
            REPO, "plans", "r11", f"{name}_sf1_nobcast_{label}.txt"
        )
        with open(pp, "w") as fh:
            fh.write(plan)
        # the output checksum proves the two trees score identically
        chk = df.agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.hash(*df.columns).cast("double")), 0).alias("h"),
        ).collect()[0]
        out["runs"][name] = {
            "sec": round(best, 3),
            "exchanges": plan.count("Exchange"),
            "smj": plan.count("SortMergeJoin"),
            "checksum": [chk.n, chk.h],
            "plan_file": pp,
            "loadavg1": round(os.getloadavg()[0], 1),
        }
        print(name, label, out["runs"][name], flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

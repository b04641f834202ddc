"""Dump .explain("formatted") for named queries to
plans/<tag>/<query>_<suffix>.txt under the checkout this script lives
in (TREE_DIR only picks the code that is explained).

    python scripts/dump_plans.py TREE_DIR TAG SUFFIX QUERY [QUERY ...]

Used for the per-round before/after plan evidence (guide §7.2): the
judge re-counts Exchange / join-strategy / scan claims from these files.
"""

from __future__ import annotations

import os
import sys

# resolved before main() changes directory into TREE_DIR
_CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    tree = os.path.abspath(sys.argv[1])
    tag, suffix = sys.argv[2], sys.argv[3]
    names = sys.argv[4:]
    sys.path.insert(0, tree)
    os.chdir(tree)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    # imported after TREE_DIR is on sys.path: the session comes from it
    from gpd_lite_toolbox_spark.session import get_spark

    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    out_dir = os.path.join(_CHECKOUT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    qs = E.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"{name}: {len(plan.splitlines())} lines -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()

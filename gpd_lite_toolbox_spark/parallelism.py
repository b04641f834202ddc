"""Shared task-parallelism helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame

# Physical nodes that run once per partition of their only child, so
# their RDD has as many partitions as the child's.
_PASS_THROUGH = frozenset(
    {
        "WholeStageCodegenExec",
        "InputAdapter",
        "ProjectExec",
        "FilterExec",
        "ColumnarToRowExec",
        "GenerateExec",
        "ExpandExec",
        "SampleExec",
        "SortExec",
        "LocalLimitExec",
        "WindowExec",
        "HashAggregateExec",
        "ObjectHashAggregateExec",
        "SortAggregateExec",
        "ArrowEvalPythonExec",
        "BatchEvalPythonExec",
        "MapInPandasExec",
        "MapInArrowExec",
        # an adaptive plan's result stage and an in-memory scan's stage
        "ResultQueryStageExec",
        "TableCacheQueryStageExec",
    }
)
# Nodes that gather their input into one partition whatever its width.
_SINGLE = frozenset({"CollectLimitExec", "TakeOrderedAndProjectExec"})
# Leaves whose input RDD (file splits, an existing or checkpointed RDD,
# range slices, local rows) can be sized without running anything.
_INPUT_RDD_LEAVES = frozenset(
    {"FileSourceScanExec", "RDDScanExec", "RangeExec", "LocalTableScanExec"}
)


def _count(node) -> int | str:
    """Partitions of ``node``'s RDD, or the class name of the node that
    only a run can size (an exchange's with its shuffle origin)."""
    name = node.getClass().getSimpleName()
    if name in _PASS_THROUGH:
        # a query stage wraps its plan rather than holding it as a child
        stage = name.endswith("QueryStageExec")
        return _count(node.plan() if stage else node.child())
    if name in _SINGLE:
        return 1
    if name == "AdaptiveSparkPlanExec":
        return _count(node.executedPlan())
    if name == "ShuffleExchangeExec":
        # AQE coalesces every shuffle but a fixed-count repartition
        origin = node.shuffleOrigin().toString()
        if origin == "REPARTITION_BY_NUM":
            return node.numPartitions()
        return f"{name}({origin})"
    if name == "CoalesceExec":
        k = node.numPartitions()
        if k == 1:  # one partition even over an empty child
            return 1
        n = _count(node.child())
        return min(k, n) if isinstance(n, int) else n
    if name == "BroadcastHashJoinExec":
        build = node.buildSide().toString()
        return _count(node.right() if build == "BuildLeft" else node.left())
    if name == "UnionExec":
        seq = node.children()
        counts = [_count(seq.apply(i)) for i in range(seq.size())]
        blocked = [n for n in counts if isinstance(n, str)]
        if blocked:
            return blocked[0]
        # children partitioned alike are zipped partition by partition
        zipped = node.outputPartitioning().getClass().getSimpleName() != (
            "UnknownPartitioning"
        )
        return counts[0] if zipped else sum(counts)
    if name == "InMemoryTableScanExec":
        relation = node.relation()
        builder = relation.cacheBuilder()
        if builder.isCachedColumnBuffersLoaded():
            return builder.cachedColumnBuffers().getNumPartitions()
        return _count(relation.cachedPlan())
    if name in _INPUT_RDD_LEAVES:
        # dynamic partition pruning would run its subquery to list splits
        if name == "FileSourceScanExec" and "dynamicpruning" in (
            node.partitionFilters().toString().lower()
        ):
            return name
        return node.inputRDDs().head().getNumPartitions()
    return name


def planned_partitions(df: DataFrame) -> int | str:
    """The partition count ``df`` will run with, read from its physical
    plan without running anything; or, where only a run can size it,
    the class name of the plan node that decides (of the error, if the
    plan could not be read)."""
    try:
        return _count(df._jdf.queryExecution().executedPlan())
    except Exception as exc:  # pragma: no cover - exotic plans
        return type(exc).__name__


def widen(df: DataFrame) -> DataFrame:
    """Restore task parallelism ahead of heavy per-row work when the
    input scan has fewer partitions than cores: expression-pinned
    folds (md5 shingling, WKB geometry derivation) and Arrow kernels
    execute on the SCAN side of the first exchange, so an input that
    arrives as a handful of files runs them on a handful of tasks
    (measured 4-6x slower than the same work spread wide). A row-sized
    round-robin exchange is far cheaper than the work it unblocks;
    already-wide inputs (the 100 TB case — thousands of scan
    partitions) and streaming frames pass through untouched.

    The width is read from the physical plan before anything runs
    (``planned_partitions``): walking from the root down the stage
    that will run the per-row work, a leaf gives its own count (file
    splits, an existing or checkpointed RDD, range slices, local rows,
    or a cached relation's buffers or plan), a fixed-count repartition
    or a coalesce gives its n, a broadcast join follows its stream
    side, a union sums its children, and per-partition nodes pass
    through. Only where a shuffle AQE may coalesce (a join or
    aggregate exchange, a repartition by column, a rebalance) or an
    unrecognised node decides the width does ``widen`` fall back to
    ``df.rdd.getNumPartitions()``, which under AQE runs every stage
    below the frame."""
    if df.isStreaming:
        return df
    width = df.sparkSession.sparkContext.defaultParallelism
    n = planned_partitions(df)
    if isinstance(n, str):
        try:
            n = df.rdd.getNumPartitions()
        except Exception:  # pragma: no cover - exotic plans; keep as-is
            return df
    return df.repartition(width) if n < width else df

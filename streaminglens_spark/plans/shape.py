"""Plan-shaping helpers for compute-dense map stages.

``scan_parallel`` exists because compute-dense projections (argmax folds
over broadcast centroid arrays, k x dim multiply-adds per row; bigram
explodes; PQ encode folds) run at SCAN parallelism: Spark assigns one task
per file split, and a small single-row-group parquet file -- the local
fixture shape -- yields 1-2 splits no matter how
``spark.sql.files.maxPartitionBytes`` / ``openCostInBytes`` are tuned
(row groups are the unit of parquet splitting).  The stage's cost is CPU,
not IO, so it serializes on one core while 31 idle: measured at sf1,
``ivf_topk`` 5.9 s -> 1.9 s from this guard alone.  (``kmeans_fit``
needs no guard: its Lloyd iterations run in one Python worker.)

On a real cluster a 100 TB table has thousands of splits, the guard's
predicate (scan partitions < default parallelism) is false, and this is a
no-op -- it never adds a shuffle at scale; it only fixes the small-file
degenerate case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


# logical operators that imply an exchange somewhere below: their output
# already runs at shuffle parallelism, AND probing `.rdd` on such a plan
# under AQE would EXECUTE the upstream query stages at plan-build time
# (AdaptiveSparkPlanExec materializes stages to report partitioning) --
# the real action would then recompute them (r7 review finding).
# Matched against node CLASS names from a logical-plan tree walk, never
# the rendered plan string (r7 ADVICE: a literal containing 'Sort ' in a
# filter must not disable the fix, and Expand/FlatMapGroupsInPandas/
# CoGroup-shaped plans must not slip past it and re-trigger the AQE
# probe).  Python-grouping nodes (FlatMapGroupsInPandas, FlatMapCoGroups
# InPandas, FlatMapGroupsWithState) are included: they only appear above
# a hash-clustered child.  Distinct/GroupingSets never reach the analyzed
# plan (they analyze into Deduplicate / Aggregate+Expand).
_SHUFFLE_NODES = frozenset(
    {
        "Aggregate",
        "Join",
        "Window",
        "WindowGroupLimit",
        "Sort",
        "Deduplicate",
        "DeduplicateWithinWatermark",
        "Repartition",
        "RepartitionByExpression",
        "RebalancePartitions",
        "Intersect",
        "Except",
        "Expand",
        "CoGroup",
        "FlatMapGroupsInPandas",
        "FlatMapCoGroupsInPandas",
        "FlatMapGroupsWithState",
        "FlatMapGroupsInPandasWithState",
        "GlobalLimit",
    }
)


def _has_shuffle_below(df: DataFrame) -> bool:
    """Walk the ANALYZED logical plan tree (including subquery
    expressions' plans via innerChildren) and test node class names
    against ``_SHUFFLE_NODES`` -- exact matches on the tree, immune to
    node-name lookalikes inside string literals or aliases."""
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() in _SHUFFLE_NODES:
            return True
        for seq_name in ("children", "innerChildren"):
            try:
                seq = getattr(node, seq_name)()
            except Exception:
                continue
            for i in range(seq.length()):
                stack.append(seq.apply(i))
    return False


def scan_parallel(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` up to cluster-default parallelism iff its scan
    yields fewer partitions -- use UNDER a compute-dense projection whose
    per-row cost dwarfs one extra (tiny) shuffle of its input.

    Result-neutral by construction: callers' downstream aggregates are
    order-independent (integer-quantized sums) and their rankings carry
    total tie-breaks, so row placement never changes values.  Streaming
    DataFrames are returned unchanged (micro-batch sizing governs their
    parallelism; ``.rdd`` is illegal on them).  Inputs whose ANALYZED
    plan already contains a shuffle-inducing operator are also returned
    unchanged: their output runs at shuffle parallelism anyway, and the
    ``.rdd`` partition probe on such a plan would execute the upstream
    AQE query stages at plan-build time only for the action to recompute
    them."""
    if df.isStreaming:
        return df
    if _has_shuffle_below(df):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)

"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def local_frame(spark, columns: dict, schema) -> DataFrame:
    """A small driver-built table (``columns``: name → list of values)
    as a ``LocalRelation``, through Arrow. ``createDataFrame`` of a
    Python list plans a ``PythonRDD`` instead, and the first one in a
    JVM starts a second ``pyspark.daemon``: about 1 s and three more
    Python processes."""
    import pyarrow as pa
    return spark.createDataFrame(pa.table(columns), schema)


def planned_partitions(df: DataFrame) -> int | None:
    """Partition count of ``df``'s physical plan, read without running
    a job, or None when adaptive execution decides it. Asking
    ``df.rdd`` under AQE runs every upstream shuffle stage at call time
    and throws the result away, so an AQE plan is read instead: its
    output count is fixed by the nearest exchange on the plan's spine
    when that is an explicit ``repartition(n)`` / ``repartitionByRange(
    n, …)`` (AQE never coalesces those), by a single-partition node, or
    by a leaf that reports its count (a range, a finished query stage);
    a shuffle AQE may still coalesce (joins, aggregates,
    ``repartition(cols)``), a file scan or a multi-child node leaves it
    None. A plan without AQE (scans,
    checkpointed RDDs) reports its split count for free."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    if plan.getClass().getSimpleName() != "AdaptiveSparkPlanExec":
        return qe.toRdd().getNumPartitions()
    return _spine_partitions(plan.executedPlan())


def _spine_partitions(node) -> int | None:
    cap = 0  # lowest count a unary node above has set (coalesce(n))
    while True:
        own = node.outputPartitioning().numPartitions()
        if own == 1:
            return 1
        if node.getClass().getSimpleName() == "ShuffleExchangeExec":
            # (not node.numPartitions(): that builds the shuffle
            # dependency, and a range partitioner samples its input)
            fixed = node.shuffleOrigin().toString() == "REPARTITION_BY_NUM"
            n = own if fixed else None
            break
        n_children = node.children().size()
        if n_children != 1:
            n = own if n_children == 0 and own else None
            break
        if own:
            cap = min(cap, own) if cap else own
        node = node.children().apply(0)
    return min(n, cap) if n and cap else n


def widen(df: DataFrame, factor: int = 1) -> DataFrame:
    """Ensure at least defaultParallelism·factor partitions before a
    map-heavy stage (hashing, shingling, pandas UDFs, cross joins).

    Small benchmark tables arrive as 1-2 parquet splits, which would pin
    all map-side work to 1-2 cores; a frame whose planned count is known
    (see :func:`planned_partitions`: scans, explicit ``repartition(n)``)
    and already reaches the target is returned as is, so at production
    split counts the guard is a no-op. A frame whose count AQE decides
    (the output of a join, an aggregate or ``repartition(cols)``) is
    always repartitioned to the target — it pays one extra round-robin
    shuffle at every scale, because measuring it would run the plan.
    """
    target = df.sparkSession.sparkContext.defaultParallelism * factor
    n = planned_partitions(df)
    if n is None or n < target:
        return df.repartition(target)
    return df


def cascade_aggs(aggs):
    """(leaf_aggs, re_aggs) Column lists for a cascaded (hypertable)
    rollup: the leaf table is aggregated once at the finest level and
    every coarser level re-aggregates the previous PARTIAL. Only
    re-aggregable kinds are accepted — count cascades as sum-of-counts,
    sum as sum-of-sums, min/max as themselves. Float sums are not
    cascade-exact (fp addition is non-associative): pass an integral
    column when bit-exact parity matters. Shared by the S2 multires
    rollup (spatial_join.s2_multires_rollup) and the slippy tile
    pyramid (tiles.tile_pyramid_rollup)."""
    from pyspark.sql import functions as F

    leaf_aggs, re_aggs = [], []
    for alias, (kind, col) in aggs.items():
        col = F.col(col) if isinstance(col, str) else col
        if kind == "count":
            leaf_aggs.append(F.count(F.lit(1)).alias(alias))
            re_aggs.append(F.sum(alias).alias(alias))
        elif kind == "sum":
            leaf_aggs.append(F.sum(col).alias(alias))
            re_aggs.append(F.sum(alias).alias(alias))
        elif kind in ("min", "max"):
            fn = getattr(F, kind)
            leaf_aggs.append(fn(col).alias(alias))
            re_aggs.append(fn(alias).alias(alias))
        else:
            raise ValueError(f"non-re-aggregable agg kind: {kind!r}")
    return leaf_aggs, re_aggs

"""O2 global-order contract, scale-safe (element.rs:207-318).

The reference requires a total order (Node < Way < Relation, then id,
version) and realizes it single-threaded; round-1 demonstrated it with
``Window.orderBy`` — a single-task funnel at planet scale. This is the
fully parallel version, the same design the PBF writer uses
(sources/pbf/encode.py:_encode_partitions):

  1. ``repartitionByRange(keys)`` + ``sortWithinPartitions(keys)`` —
     range partitions tile the total order, each sorted locally.
  2. Pin the layout (lazy ``localCheckpoint``): every later action must
     see the SAME range boundaries and partition contents (AQE replans
     per action otherwise, which would desynchronize the offset pass
     from the final pass).
  3. One bounded action: per-partition row counts (≤ n_partitions rows
     collected) → exclusive prefix-sum offsets on the driver.
  4. ``mapInPandas``: position = partition offset + local arange — no
     second shuffle, no window, Arrow-vectorized.

Cost at 100 TB: exactly one range shuffle (the unavoidable cost of a
global order) + one cached pass; every stage is N-way parallel. N is
``num_partitions`` when given, else the larger of defaultParallelism
and the input's planned count (``operators.util.planned_partitions``);
an input whose count AQE still decides (a join or aggregate output)
gets defaultParallelism — pass ``num_partitions`` for such inputs at
scale.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .util import planned_partitions


def with_global_position(df: DataFrame, keys: list[str],
                         pos_col: str = "pos",
                         num_partitions: int | None = None) -> DataFrame:
    """Append a 1-based global position column under ORDER BY *keys*.

    Keys must be a total order (no ties) for the position to be
    deterministic — same contract as the reference's Ord impl.
    """
    spark = df.sparkSession
    parts = num_partitions or max(spark.sparkContext.defaultParallelism,
                                  planned_partitions(df) or 0)
    parted = (df.repartitionByRange(parts, *keys)
              .sortWithinPartitions(*keys)
              .withColumn("_pid", F.spark_partition_id())
              .localCheckpoint(eager=False))

    counts = {int(r["_pid"]): int(r["n"])
              for r in parted.groupBy("_pid").agg(
                  F.count("*").alias("n")).collect()}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    out_schema = T.StructType(
        [f for f in parted.schema.fields if f.name != "_pid"]
        + [T.StructField(pos_col, T.LongType(), False)])
    out_cols = [f.name for f in out_schema.fields]

    def _assign(batches):
        seen = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            base = offsets[int(pdf["_pid"].iloc[0])]
            pdf = pdf.drop(columns=["_pid"])
            pdf[pos_col] = np.arange(seen + base + 1,
                                     seen + base + 1 + len(pdf),
                                     dtype=np.int64)
            seen += len(pdf)
            yield pdf[out_cols]

    return parted.mapInPandas(_assign, schema=out_schema)


def with_running_total(df: DataFrame, keys: list[str], val_col: str,
                       out_col: str = "run_before",
                       num_partitions: int | None = None) -> DataFrame:
    """Append the EXCLUSIVE global prefix sum of ``val_col`` under
    ORDER BY *keys*: out = Σ val over all rows strictly before this one.

    Same two-pass design as :func:`with_global_position` (range shuffle
    + pinned layout + one bounded per-partition aggregate + Arrow
    cumsum) — the scale-safe replacement for
    ``SUM(val) OVER (ORDER BY keys ROWS UNBOUNDED PRECEDING)``, which
    Spark executes as a single-task window. Keys must be a total order
    (no ties); ``val_col`` must be integral (sums stay exact in int64).
    """
    spark = df.sparkSession
    parts = num_partitions or max(spark.sparkContext.defaultParallelism,
                                  planned_partitions(df) or 0)
    parted = (df.repartitionByRange(parts, *keys)
              .sortWithinPartitions(*keys)
              .withColumn("_pid", F.spark_partition_id())
              .localCheckpoint(eager=False))

    sums = {int(r["_pid"]): int(r["s"])
            for r in parted.groupBy("_pid").agg(
                F.sum(val_col).alias("s")).collect()}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(sums):
        offsets[pid] = acc
        acc += sums[pid]

    out_schema = T.StructType(
        [f for f in parted.schema.fields if f.name != "_pid"]
        + [T.StructField(out_col, T.LongType(), False)])
    out_cols = [f.name for f in out_schema.fields]

    def _assign(batches):
        base = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if base is None:
                base = offsets[int(pdf["_pid"].iloc[0])]
            pdf = pdf.drop(columns=["_pid"])
            vals = pdf[val_col].to_numpy(dtype=np.int64)
            pdf[out_col] = base + np.cumsum(vals) - vals
            base += int(vals.sum())
            yield pdf[out_cols]

    return parted.mapInPandas(_assign, schema=out_schema)

"""Scan-parallelism floor for CPU-heavy narrow stages over small inputs.

A small parquet file reads as 1-2 scan partitions (``maxPartitionBytes``
packing), so any narrow CPU-heavy pipeline on top of it — token explodes,
higher-order-function expressions, Arrow/Python passes — runs on one core
while the rest of the cluster idles. The floor repartitions the rows to
2× cores, but ONLY when the optimizer's size estimate says the input is
small enough that the scan could have under-split (< cores × 128 MB, the
default ``maxPartitionBytes`` — below it the extra shuffle is trivially
cheap). A LARGE input already splits to >= cores partitions at the scan,
and repartitioning it would exchange the full payload corpus-wide for
zero parallelism gain — a multi-TB shuffle per pass at the 100 TB design
point. (Deciding via pre-AQE ``df.rdd.getNumPartitions()`` was rejected
earlier: it reports ``spark.sql.shuffle.partitions`` for any shuffled
input and forces a plan-to-RDD conversion; the plan-stats probe costs
neither.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def maybe_broadcast(df: DataFrame, n_rows: int | None,
                    row_bytes: int = 24) -> DataFrame:
    """Broadcast-hint ``df`` when a KNOWN row count proves it fits in the
    session's 64 MB broadcast budget; identity otherwise. For iterative
    operators whose per-round state is a checkpointed ExistingRDD with
    unknown stats, the planner otherwise falls back to sort-merge and
    re-shuffles + re-sorts the big side every round — the caller usually
    has (or can count, near-free on a materialized frame) the exact state
    size, which makes this decision precise where stats cannot be."""
    if n_rows is not None and n_rows * row_bytes <= 64 * 1024 * 1024:
        return F.broadcast(df)
    return df


def parallel_floor(df: DataFrame, key_col: str) -> DataFrame:
    """Repartition ``df`` to 2× cores hashed on ``key_col`` iff its
    optimizer size estimate is below cores × 128 MB; identity otherwise.
    With no usable estimate, the partition count decides instead."""
    sc = df.sparkSession.sparkContext
    try:
        # py4j converts the BigInt to a Python int
        size_bytes = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        size_bytes = None
    if size_bytes is not None and size_bytes < (1 << 62):
        if size_bytes >= sc.defaultParallelism * 128 * 1024 * 1024:
            return df
    else:
        # Stats UNKNOWN, not large: the probe raised, or a localCheckpoint
        # scan (LogicalRDD) reported Long.MaxValue — which a size
        # threshold misreads as "huge — skip" (that skip serialized
        # k_truss's round-1 support pass onto the peeled round state's
        # single cached partition: 38.8s vs 7.5s for round 0 at sf0.1),
        # and which "assume small" would answer with a full-payload
        # shuffle of a possibly huge input. Fall back to the concrete
        # partition count: exact and cheap for a materialized RDD scan;
        # for a shuffled plan it reports the shuffle partition count,
        # which is exactly the parallelism the stage would get.
        try:
            if df.rdd.getNumPartitions() >= sc.defaultParallelism:
                return df
        except Exception:
            return df
    return df.repartition(2 * sc.defaultParallelism, F.col(key_col))

"""Scale-safe global scans: prefix sums and ranks.

A bare ``Window.orderBy(...)`` (no partitionBy) computes a global
running aggregate by sorting the ENTIRE frame in one task — fine on
10^4 aggregated rows, serial on 10^9.  ``global_prefix_sums`` produces
identical exclusive prefix sums from fully distributed stages:

1. a range repartition on the order key (one shuffle; the range
   partitioner gives ascending, non-overlapping key ranges per
   ascending partition id),
2. partition-local exclusive prefix sums via a JVM-side window
   partitioned by the partition id — one more hash shuffle on it, but
   every stage stays inside whole-stage codegen (an Arrow
   ``mapInPandas`` counter avoids that shuffle yet pays a Python
   worker round-trip for the whole frame: ~6 s of fixed overhead at
   32 partitions on a 4.5k-row frame),
3. per-partition totals -> prefix-sum offsets (a ``num_partitions``-row
   frame; the only single-partition work in the plan),
4. broadcast join of the offsets back: ``prefix = offset + local``.

A rank is the exclusive prefix sum of ones, plus one (Blelloch,
"Prefix Sums and Their Applications", 1990), so ``global_rank`` and
``global_percent_rank`` ride the same scan; the tiny offsets frame also
carries the grand total that ``percent_rank`` divides by.

Requires the composite order key to be unique (ties would make the
result partition-boundary-dependent); callers append a tiebreaker
column — exactly what a deterministic global order needs anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_PID = "_gr_pid"
_ONE = "_gr_one"


def _default_partitions(df: DataFrame) -> int:
    """Session shuffle parallelism, robust to AQE-managed deployments
    where ``spark.sql.shuffle.partitions`` is the string ``'auto'``
    (e.g. Databricks) rather than a number."""
    spark = df.sparkSession
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def _prefix_scan(
    df: DataFrame,
    order_cols: list[str],
    value_cols: list[str],
    out_cols: list[str],
    total_cols: list[str],
    num_partitions: int | None,
) -> DataFrame:
    """The two-pass scan (module docstring): ``out_cols[i]`` is the
    exclusive prefix sum of ``value_cols[i]``; ``total_cols[i]``, for
    as many channels as names are given, is the channel's grand total."""
    if len(value_cols) != len(out_cols):
        raise ValueError("value_cols and out_cols must align")
    if num_partitions is None:
        num_partitions = _default_partitions(df)
    ranged = df.repartitionByRange(num_partitions, *order_cols)
    w_local = (
        Window.partitionBy(_PID)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lps = [f"_lps{i}" for i in range(len(value_cols))]
    local = ranged.withColumn(_PID, F.spark_partition_id()).withColumns(
        {
            l: F.coalesce(F.sum(v).over(w_local), F.lit(0))
            for l, v in zip(lps, value_cols)
        }
    )
    # pin ONE evaluation: `local` feeds BOTH the offsets aggregate and
    # the join's probe side, and the partition id is only meaningful
    # within a single execution — the range partitioner samples its
    # boundaries from the input, so a nondeterministically ordered
    # upstream (an aggregate, a union of joins) can produce DIFFERENT
    # boundaries when the two branches re-execute the subtree,
    # silently misaligning the offsets against the local sums (caught
    # by sliding_range_sum at sf0.1).  localCheckpoint materializes the
    # partitioning once; both branches read it.
    local = local.localCheckpoint(eager=False)
    # tiny: one row per non-empty partition (local is already hash-
    # partitioned on pid, so this aggregation adds no exchange)
    tots = [f"_tot{i}" for i in range(len(value_cols))]
    totals = local.groupBy(_PID).agg(
        *[F.sum(v).alias(t) for t, v in zip(tots, value_cols)]
    )
    w_prev = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    offs = [f"_off{i}" for i in range(len(value_cols))]
    offsets = totals.select(
        _PID,
        *[
            F.coalesce(F.sum(t).over(w_prev), F.lit(0)).alias(o)
            for t, o in zip(tots, offs)
        ],
        *[
            F.sum(t).over(Window.partitionBy()).alias(g)
            for t, g in zip(tots, total_cols)
        ],
    )
    out = local.join(F.broadcast(offsets), _PID).withColumns(
        {oc: F.col(o) + F.col(l) for oc, o, l in zip(out_cols, offs, lps)}
    )
    return out.drop(_PID, *lps, *offs)


def global_prefix_sums(
    df: DataFrame,
    order_cols: list[str],
    value_cols: list[str],
    out_cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Exclusive prefix sums of ``value_cols`` over the global
    ``order_cols`` order — ``sum(v) OVER (ORDER BY order_cols ROWS
    UNBOUNDED PRECEDING TO -1)``, 0 for the first row — as
    ``out_cols``, without a single-partition global sort.  Every
    channel rides ONE range exchange / one local window stage / one
    broadcast-offset join, so callers needing several synchronized
    channels (e.g. a sum and its non-null count for window-NULL
    semantics, as ``timeseries.sliding_range_sum`` does) pay the
    machinery once.  The composite order key must be unique.

    Each output's type is ``sum(value)``'s natural result type (long
    for integral inputs, double/decimal for fractional).  For
    long/decimal inputs results equal a plain windowed sum exactly;
    for float/double the two-pass association can differ from the
    sequential window in the last ulps (inherent to any distributed
    float sum)."""
    return _prefix_scan(df, order_cols, value_cols, out_cols, [], num_partitions)


def global_rank(
    df: DataFrame,
    order_cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense global 1-based rank (column ``global_rank``) over a UNIQUE
    composite order key, without a single-partition global sort.  Equivalent to
    ``row_number() OVER (ORDER BY order_cols)`` (== rank(), since the
    key is unique)."""
    ones = df.withColumn(_ONE, F.lit(1))
    return (
        global_prefix_sums(ones, order_cols, [_ONE], ["global_rank"], num_partitions)
        .withColumn("global_rank", F.col("global_rank") + F.lit(1))
        .drop(_ONE)
    )


def global_percent_rank(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "percent_rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """``percent_rank() OVER (ORDER BY order_cols)`` — (rank-1)/(n-1),
    0.0 for a single row — scale-safely (see module docstring).  The
    order key must be unique."""
    ones = df.withColumn(_ONE, F.lit(1))
    ranked = _prefix_scan(ones, order_cols, [_ONE], ["_r0"], ["_n"], num_partitions)
    pct = F.col("_r0").cast("double") / F.greatest(F.col("_n") - F.lit(1), F.lit(1))
    return ranked.withColumn(out_col, pct).drop(_ONE, "_r0", "_n")

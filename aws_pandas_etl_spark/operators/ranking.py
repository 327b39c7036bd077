"""Scale-safe global ranking.

A bare ``Window.orderBy(...)`` (no partitionBy) computes a global rank
by sorting the ENTIRE frame in one task — fine on 10^4 aggregated rows,
serial on 10^9.  ``global_rank`` produces identical ranks from fully
distributed stages:

1. ``repartitionByRange`` on the order key (one shuffle; the range
   partitioner gives ascending, non-overlapping key ranges per
   ascending partition id),
2. partition-local row numbers via JVM-side ``row_number() OVER
   (PARTITION BY spark_partition_id() ORDER BY keys)`` — one more
   hash shuffle on the partition id, but every stage stays inside
   whole-stage codegen (the previous Arrow ``mapInPandas`` counter
   avoided that shuffle yet paid a Python worker round-trip for the
   whole frame: ~6 s of fixed overhead at 32 partitions on a 4.5k-row
   frame; the JVM window is ~20x cheaper locally and wins at every
   scale),
3. per-partition counts -> prefix-sum offsets (a ``num_partitions``-row
   frame; the only single-partition work in the plan),
4. broadcast join of the offsets back: ``rank = offset + local_rn``.

Requires the composite order key to be unique (ties would make rank
partition-boundary-dependent); callers append a tiebreaker column —
exactly what a deterministic global rank needs anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_PID = "_gr_pid"
_LRN = "_gr_lrn"


def _with_local_row_numbers(ranged: DataFrame, order_cols: list[str]) -> DataFrame:
    """Partition-local 1-based row numbers, all JVM-side.

    The range partitioner put ascending, non-overlapping key ranges in
    ascending partition ids, so ``row_number`` partitioned by the
    captured partition id IS the partition-local rank.  The window's
    hash exchange on the pid keeps every pid-group in one task — still
    fully distributed (``num_partitions``-way), never a global sort.
    """
    pid_tagged = ranged.withColumn(_PID, F.spark_partition_id())
    w = Window.partitionBy(_PID).orderBy(*[F.col(c) for c in order_cols])
    return pid_tagged.withColumn(_LRN, F.row_number().over(w).cast("long"))


def _default_partitions(df: DataFrame) -> int:
    """Session shuffle parallelism, robust to AQE-managed deployments
    where ``spark.sql.shuffle.partitions`` is the string ``'auto'``
    (e.g. Databricks) rather than a number."""
    spark = df.sparkSession
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def _global_rank_with_total(
    df: DataFrame,
    order_cols: list[str],
    out_col: str,
    num_partitions: int | None,
) -> DataFrame:
    if num_partitions is None:
        num_partitions = _default_partitions(df)
    ranged = df.repartitionByRange(num_partitions, *order_cols)
    local = _with_local_row_numbers(ranged, order_cols)
    # pin ONE evaluation: `local` feeds BOTH the offsets aggregate and
    # the join's probe side, and spark_partition_id() is only
    # meaningful within a single execution — repartitionByRange samples
    # its range boundaries from the input, so a nondeterministically
    # ordered upstream (an aggregate, a union of joins) can produce
    # DIFFERENT boundaries when the two branches re-execute the
    # subtree, silently misaligning _off against _lrn.  localCheckpoint
    # materializes the partitioning once; both branches read the same
    # partitions (the rare-token artifact fan-out precedent).
    local = local.localCheckpoint(eager=False)
    # tiny: one row per non-empty partition (local already hash-
    # partitioned on pid, so this aggregation adds no exchange)
    counts = local.groupBy(_PID).agg(F.count(F.lit(1)).alias("_cnt"))
    w_prev = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        _PID,
        F.coalesce(F.sum("_cnt").over(w_prev), F.lit(0)).alias("_off"),
        F.sum("_cnt").over(Window.partitionBy()).alias("_n_total"),
    )
    return (
        local.join(F.broadcast(offsets), _PID)
        .withColumn(out_col, (F.col("_off") + F.col(_LRN)).cast("long"))
        .drop(_PID, _LRN, "_off")
    )


def global_rank(
    df: DataFrame,
    order_cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense global 1-based rank (column ``global_rank``) over a UNIQUE
    composite order key, without a single-partition global sort.  Equivalent to
    ``row_number() OVER (ORDER BY order_cols)`` (== rank(), since the
    key is unique)."""
    return _global_rank_with_total(df, order_cols, "global_rank", num_partitions).drop(
        "_n_total"
    )


def global_prefix_sums(
    df: DataFrame,
    order_cols: list[str],
    value_cols: list[str],
    out_cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Multi-column ``global_prefix_sum``: all ``value_cols`` prefix-
    summed over ONE range exchange / one local window stage / one
    broadcast-offset join — callers needing several synchronized
    channels (e.g. a sum and its non-null count for window-NULL
    semantics, as ``timeseries.sliding_range_sum`` does) pay the
    machinery once instead of per channel."""
    if len(value_cols) != len(out_cols):
        raise ValueError("value_cols and out_cols must align")
    if num_partitions is None:
        num_partitions = _default_partitions(df)
    ranged = df.repartitionByRange(num_partitions, *order_cols)
    pid_tagged = ranged.withColumn(_PID, F.spark_partition_id())
    w_local = (
        Window.partitionBy(_PID)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lps = [f"_lps{i}" for i in range(len(value_cols))]
    local = pid_tagged.withColumns(
        {
            l: F.coalesce(F.sum(v).over(w_local), F.lit(0))
            for l, v in zip(lps, value_cols)
        }
    )
    # pin ONE evaluation of the pid-tagged partitioning — see the
    # cross-branch re-execution hazard comment in _global_rank_with_total
    local = local.localCheckpoint(eager=False)
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
    )
    out = local.join(F.broadcast(offsets), _PID).withColumns(
        {
            oc: F.col(o) + F.col(l)
            for oc, o, l in zip(out_cols, offs, lps)
        }
    )
    return out.drop(_PID, *lps, *offs)


def global_prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "prefix_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exclusive prefix sum of ``value_col`` over the global
    ``order_cols`` order — ``sum(value) OVER (ORDER BY order_cols ROWS
    UNBOUNDED PRECEDING TO -1)`` — without a single-partition global
    sort.  Same two-pass scheme as ``global_rank`` (module docstring):
    range-repartition on the order key, partition-local prefix sums,
    then a broadcast join of the per-partition running offsets.  The
    composite order key must be unique (callers append a tiebreaker).

    ``out_col``'s type is ``sum(value_col)``'s natural result type
    (long for integral inputs, double/decimal for fractional) — both
    the partition-local and the cross-partition component carry that
    same type.  For long/decimal inputs results equal a plain windowed
    sum exactly; for float/double the two-pass association can differ
    from the sequential window in the last ulps (inherent to any
    distributed float sum)."""
    if num_partitions is None:
        num_partitions = _default_partitions(df)
    ranged = df.repartitionByRange(num_partitions, *order_cols)
    pid_tagged = ranged.withColumn(_PID, F.spark_partition_id())
    w_local = (
        Window.partitionBy(_PID)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = pid_tagged.withColumn(
        "_lps", F.coalesce(F.sum(value_col).over(w_local), F.lit(0))
    )
    # pin ONE evaluation of the pid-tagged partitioning — same
    # cross-branch re-execution hazard as _global_rank_with_total
    # (see comment there): without this, a nondeterministically
    # ordered upstream makes the offsets branch and the join branch
    # disagree on range boundaries and the prefix silently corrupts
    # (caught by sliding_range_sum at sf0.1, r11).
    local = local.localCheckpoint(eager=False)
    # tiny: one row per non-empty partition (already hash-partitioned
    # on pid, so the aggregation adds no exchange)
    totals = local.groupBy(_PID).agg(F.sum(value_col).alias("_tot"))
    w_prev = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        _PID, F.coalesce(F.sum("_tot").over(w_prev), F.lit(0)).alias("_off")
    )
    return (
        local.join(F.broadcast(offsets), _PID)
        .withColumn(out_col, F.col("_off") + F.col("_lps"))
        .drop(_PID, "_lps", "_off")
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
    ranked = _global_rank_with_total(df, order_cols, "_grank", num_partitions)
    pct = (F.col("_grank") - F.lit(1)).cast("double") / F.greatest(
        F.col("_n_total") - F.lit(1), F.lit(1)
    )
    return ranked.withColumn(out_col, pct).drop("_grank", "_n_total")

"""Relational operators Spark's API lacks as primitives.

as-of join (backward): for each left row, the most recent right row
with ``right.ts <= left.ts`` per key — the time-series join (trades ×
quotes, events × slowly-changing state).

Scalable shape: instead of a per-row correlated lookup (O(n·m) or an
index), tag both sides, UNION them, and carry the right payload
forward with ``last(..., ignorenulls=True)`` over a (key, time)-ordered
window.  One shuffle on the key; both inputs stream through a single
window pass — this is the plan a 100 TB as-of join wants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def tolerance_bin(ts: str, tolerance_us: int) -> F.Column:
    """Exact integer index of the ``tolerance_us``-wide bin holding
    timestamp column ``ts``: (x - x%tol)/tol — the subtraction makes
    the dividend an exact multiple, so the double division is exact
    (plain x/tol can round across the bin edge at 2^53-scale µs).  Two
    instants within ``tolerance_us`` of each other always sit in the
    same or adjacent bins — the batch and streaming range joins both
    meet on it."""
    ux = F.unix_micros(F.col(ts))
    return ((ux - F.pmod(ux, F.lit(tolerance_us))) / F.lit(tolerance_us)).cast(
        "bigint"
    )


def range_join_binned(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    tolerance_us: int,
) -> DataFrame:
    """All (left, right) pairs with ``|left_ts - right_ts| <= tolerance``.

    Without an equi-key, Spark plans a range predicate as a broadcast
    nested-loop join — O(n·m) comparisons.  Binning restores an
    equi-join: bucket timestamps into ``tolerance``-wide bins, join on
    bin with the left side exploded to {b-1, b, b+1}, then apply the
    exact predicate.  Candidate volume is bounded by true temporal
    locality, not n·m."""
    lbin = tolerance_bin(left_ts, tolerance_us)
    rbin = tolerance_bin(right_ts, tolerance_us)
    l = left.withColumn(
        "_bin", F.explode(F.array(lbin - 1, lbin, lbin + 1))
    )
    r = right.withColumn("_bin", rbin)
    joined = l.join(r, "_bin")
    gap = F.unix_micros(F.col(left_ts)) - F.unix_micros(F.col(right_ts))
    return (
        joined.filter(F.abs(gap) <= tolerance_us)
        .drop("_bin")
        .withColumn("gap_us", gap)
    )


def _as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    ts_col: str,
    payload_cols: list[str],
    tiebreak_col: str,
    payload_prefix: str,
    forward: bool,
) -> DataFrame:
    """Shared as-of machinery: tag sides, UNION, carry the right
    payload across a (key, time)-ordered window, keep left rows.

    Both directions run the same RUNNING frame (UNBOUNDED PRECEDING ..
    CURRENT ROW) with ``last(ignorenulls)`` as the carry; "forward" is
    the backward scan of the fully REVERSED (DESC) total order, so the
    matching right row is always in the visible history — never an
    O(rows^2) following frame.  At equal ts the right row sorts into
    the left row's history via ``_is_right DESC`` in either direction,
    and ties resolve to the smallest tiebreak.  One shuffle on the key
    either way."""
    l_cols = left.columns
    tagged_left = left.select(
        *l_cols,
        F.lit(0).alias("_is_right"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_p_{c}") for c in payload_cols],
    )
    tagged_right = right.select(
        *[
            F.col(c) if c in (on + [ts_col, tiebreak_col]) else F.lit(None).cast(
                left.schema[c].dataType
            ).alias(c)
            for c in l_cols
        ],
        F.lit(1).alias("_is_right"),
        *[F.col(c).alias(f"_p_{c}") for c in payload_cols],
    )
    u = tagged_left.unionByName(tagged_right)
    # Both directions run as RUNNING frames (UNBOUNDED PRECEDING ..
    # CURRENT ROW): Spark evaluates a CURRENT ROW .. UNBOUNDED
    # FOLLOWING frame by recomputing the aggregate per row — O(rows^2)
    # per key partition, a cliff on hot keys at scale — so "forward"
    # is expressed as the backward scan of the REVERSED total order
    # (ts/_is_right/tiebreak all DESC), which keeps the identical
    # match semantics: at equal ts the right row still sorts into the
    # left row's visible history, and ties still resolve to the
    # smallest tiebreak.
    if forward:
        order = [
            F.col(ts_col).desc(),
            F.col("_is_right").desc(),
            F.col(tiebreak_col).desc(),
        ]
    else:
        order = [F.col(ts_col), F.col("_is_right").desc(), F.col(tiebreak_col)]
    frame = (Window.unboundedPreceding, Window.currentRow)
    carry = lambda c: F.last(c, ignorenulls=True)
    w = Window.partitionBy(*on).orderBy(*order).rowsBetween(*frame)
    carried = u.select(
        *l_cols,
        "_is_right",
        *[
            carry(F.col(f"_p_{c}")).over(w).alias(f"{payload_prefix}{c}")
            for c in payload_cols
        ],
    )
    return carried.filter(F.col("_is_right") == 0).drop("_is_right")


def as_of_join_backward(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    ts_col: str,
    payload_cols: list[str],
    tiebreak_col: str,
    payload_prefix: str = "right_",
) -> DataFrame:
    """Attach to each left row the latest right row with
    ``right.ts_col <= left.ts_col`` (per ``on`` key).

    Equal timestamps match (<= semantics).  ``tiebreak_col`` must
    order rows deterministically within a timestamp (e.g. a unique
    id).  Right payload columns come back prefixed; NULL when no right
    row precedes."""
    return _as_of_join(
        left, right, on, ts_col, payload_cols, tiebreak_col, payload_prefix,
        forward=False,
    )


def as_of_join_forward(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    ts_col: str,
    payload_cols: list[str],
    tiebreak_col: str,
    payload_prefix: str = "right_",
) -> DataFrame:
    """Attach to each left row the EARLIEST right row with
    ``right.ts_col >= left.ts_col`` (per ``on`` key) — the forward
    complement of ``as_of_join_backward``.

    Equal timestamps match (>= semantics).  Right payloads come back
    prefixed; NULL when no right row follows."""
    return _as_of_join(
        left, right, on, ts_col, payload_cols, tiebreak_col, payload_prefix,
        forward=True,
    )

"""Physical layout optimization: z-order clustering for data skipping.

The reference has no layout surface at all (its sink is chunk-ordered
parquet put_object, main.py:52-65) — this is §2b scale territory: at
100 TB the dominant cost of selective queries is how many parquet
row-groups/files the scan can SKIP on min/max statistics.  A linear
sort clusters one column perfectly and leaves every other column's
per-file range spanning the full domain; interleaving the bits of two
(or more) rank-normalized keys (a Morton / z-order curve) localizes
ALL of them at once, so predicates on any participating column prune.

Everything here is driver-light and shuffle-minimal: quantile
boundaries come from ``approxQuantile`` (driver holds ``2^bits``
doubles per column), bucket mapping + bit interleaving are pure
whole-stage-codegen column math, and the only data movement is the
ONE ``repartitionByRange`` shuffle any clustered write needs anyway.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aws_pandas_etl_spark.functions.literals import lit_array

#: bits per dimension; 2 dims x 16 bits = 32-bit z-values in a long
DEFAULT_BITS = 16


def _bucket(col: Column, bounds: list[float], bits: int) -> Column:
    """Rank-normalize a column to [0, 2^bits) via precomputed quantile
    boundaries: bucket = #boundaries <= x (codegen ``filter``+``size``
    over a literal array — no join, no window, no second shuffle)."""
    arr = lit_array(bounds)
    n = F.size(F.filter(arr, lambda b: b <= col.cast("double")))
    return F.least(n, F.lit((1 << bits) - 1)).cast("bigint")


def _interleave(dims: list[Column], bits: int) -> Column:
    """Morton-interleave N ``bits``-wide ints: bit i of dimension d
    lands at position i*N + d.  Unrolled shift/mask chain — stays
    inside whole-stage codegen.  The total z-width (bits*N) must fit a
    long; callers size bits accordingly."""
    n = len(dims)
    if bits * n > 62:
        raise ValueError(f"{n} dims x {bits} bits exceeds a long z-value")
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        for d, col in enumerate(dims):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(col, i).bitwiseAND(F.lit(1)), i * n + d)
            )
    return z


def zorder_value(df: DataFrame, cols: list[str]) -> DataFrame:
    """Attach the z-order key ``_z`` for ``cols`` (2+ dims; per-dim resolution
    is capped so the interleaved key fits a long — more dims = coarser
    cells, same construction).

    Quantile-based rank normalization makes the curve robust to skewed
    distributions (equi-POPULATED cells, not equi-width), at the cost
    of one approxQuantile pass over the columns."""
    if len(cols) < 2:
        raise ValueError("zorder_value needs at least 2 columns")
    nq = min(1 << DEFAULT_BITS, 256, 1 << (62 // len(cols)))
    # boundary count: 256 cells/dim localizes plenty and keeps the
    # literal array (and quantile pass) small
    probs = [i / nq for i in range(1, nq)]
    eff_bits = (nq - 1).bit_length()
    bounds = (
        df.selectExpr(*[f"cast(`{c}` as double) as `{c}`" for c in cols])
        .approxQuantile(cols, probs, 0.01)
    )
    return df.withColumn(
        "_z",
        _interleave(
            [_bucket(F.col(c), b, eff_bits) for c, b in zip(cols, bounds)],
            eff_bits,
        ),
    )


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int = 32,
) -> None:
    """Write ``df`` as parquet clustered on the z-order of ``cols``:
    range-partition on the z-value (one shuffle), sort within
    partitions, drop the helper column.  Selective reads on EITHER
    column now skip most files/row-groups on min/max stats — the
    lakehouse OPTIMIZE ZORDER BY shape, as plain open Spark."""
    zdf = zorder_value(df, cols)
    (
        zdf.repartitionByRange(num_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )

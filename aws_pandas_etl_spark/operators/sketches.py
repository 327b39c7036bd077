"""HyperLogLog (Flajolet, Fusy, Gandouet & Meunier 2007), written once.

The batch sketches in ``plans/queries.py`` (``hll_distinct_users``,
``hll_cumulative_daily_distinct``) and the streaming one
(``streaming/events_stream.py::run_streaming_hll``) all route a user
hash through the same register/rank columns and fold register maxima
through the same bias-corrected estimate; their DuckDB oracles replay
both steps through the SQL generators below, with the same dials.

A 60-bit hash ``h`` (``md5_bigint``) picks register ``h mod m`` by its
low ``HLL_P`` bits; the register keeps the MAX rank (leading-zero
count + 1) of the remaining 54-bit suffix ``w``, computed as
``55 - length(bin(w))`` — integer-exact in both engines, no float
log2 boundary.  The estimate is the harmonic mean
``alpha_m * m^2 / sum(2^-M_j)`` with the standard linear-counting
fallback when it is small and empty registers remain.  Two sketches
merge by element-wise register MAX, so duplicates never change a
register and a rank triple may be emitted once, ever.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HLL_P = 6
HLL_M = 1 << HLL_P  # 64 registers
HLL_ALPHA = 0.709  # alpha_64, Flajolet et al. 2007


def hll_register_rank(h: Column) -> list[Column]:
    """``reg`` and ``rank`` columns of the 60-bit hash ``h``."""
    w = F.shiftright(h, HLL_P)
    rank = F.lit(55) - F.when(w == 0, 0).otherwise(F.length(F.bin(w)))
    return [(h % HLL_M).alias("reg"), rank.alias("rank")]


def hll_fold(registers: DataFrame, *keys: str) -> DataFrame:
    """(keys…, reg, mr) register maxima -> (keys…, registers_used,
    s_present): the register count and the sum of 2^-mr, each term
    rounded to 18 digits and summed as DECIMAL so the total does not
    depend on the order the rows arrive in."""
    return registers.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("registers_used"),
        F.sum(
            F.round(F.pow(F.lit(2.0), -F.col("mr")), 18).cast(
                "decimal(38,18)"
            )
        )
        .cast("double")
        .alias("s_present"),
    )


def hll_estimate() -> Column:
    """Bias-corrected estimate over ``hll_fold``'s columns, switching to
    linear counting below 2.5·m while empty registers remain."""
    v = F.lit(HLL_M) - F.col("registers_used")
    e_raw = F.lit(HLL_ALPHA * HLL_M * HLL_M) / (
        F.col("s_present") + v.cast("double")
    )
    return F.when(
        (e_raw <= F.lit(2.5 * HLL_M)) & (v > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v.cast("double")),
    ).otherwise(e_raw)


def hll_register_rank_sql(key: str, hashed: str) -> str:
    """DuckDB twin of ``hll_register_rank``: a SELECT of (key, reg, rank)
    over the relation ``hashed`` holding columns ``key`` and ``h``."""
    return f"""SELECT {key}, h % {HLL_M} AS reg,
         55 - (CASE WHEN h // {HLL_M} = 0 THEN 0
                    ELSE length(bin(h // {HLL_M})) END) AS rank
  FROM {hashed}"""


def hll_estimate_sql(key: str, registers: str) -> str:
    """DuckDB twin of ``hll_fold`` + ``hll_estimate``: a SELECT of (key,
    registers_used, est) over the relation ``registers`` holding
    columns ``key``, ``reg`` and ``mr``."""
    return f"""SELECT {key}, registers_used,
         CASE WHEN e_raw <= {2.5 * HLL_M} AND v > 0
              THEN {HLL_M}.0 * ln({HLL_M}.0 / v) ELSE e_raw END AS est
  FROM (
    SELECT {key}, registers_used,
           {HLL_M} - registers_used AS v,
           {HLL_ALPHA} * {HLL_M} * {HLL_M}
             / (s_present + ({HLL_M} - registers_used)) AS e_raw
    FROM (
      SELECT {key}, CAST(COUNT(*) AS BIGINT) AS registers_used,
             CAST(SUM(CAST(ROUND(pow(2.0, -mr), 18) AS DECIMAL(38,18)))
                  AS DOUBLE) AS s_present
      FROM {registers} GROUP BY {key}))"""

"""Skew-handling utilities for hot grouping/join keys.

At 100 TB a handful of hot keys (boilerplate docs, bot users, default
enum values) can pin a single reducer.  Remedies, in preference order:
1. AQE skew-join splitting (on by default in session.py) — free.
2. Partial aggregation (automatic for algebraic aggs).
3. Explicit salting below — for the cases the first two can't fix:
   exact-distinct by key, and aggregations whose partial form is
   defeated (collect_list-ish), or pre-AQE join fan-out.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, entropy_cols: list[str], num_salts: int = 16) -> DataFrame:
    """Deterministic ``_salt`` in [0, num_salts) derived from value columns
    (not rand(): reproducible plans, stable retries)."""
    return df.withColumn("_salt", F.pmod(F.xxhash64(*entropy_cols), F.lit(num_salts)))


def salted_sum(
    df: DataFrame,
    keys: list[str],
    value: Column,
    alias: str,
    num_salts: int = 16,
) -> DataFrame:
    """Two-phase sum: phase 1 aggregates (keys + salt) — hot keys
    spread over ``num_salts`` reducers — phase 2 combines per key.
    ``value`` should be exact (decimal/integral) so the result is
    independent of the salt split."""
    entropy = [c for c in df.columns if c not in keys] or keys
    salted = with_salt(df, entropy, num_salts)
    partial = salted.groupBy(*keys, "_salt").agg(F.sum(value).alias("_partial"))
    return partial.groupBy(*keys).agg(F.sum("_partial").alias(alias))


def salted_join(
    big: DataFrame,
    small: DataFrame,
    keys: list[str],
    num_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: salt the big (skewed) side, replicate the
    small side once per salt value, join on (keys + salt).  A hot key's
    rows spread across ``num_salts`` reducers instead of pinning one;
    the cost is a bounded ``num_salts``× blow-up of the SMALL side
    only.  Pre-AQE pattern — prefer AQE skew-join splitting (on in
    session.py) when the join is sort-merge and statistics see the
    skew; explicit salting is for the cases AQE can't fix (e.g. the
    skewed side feeds a co-partitioned downstream op, or hot keys
    emerge only at runtime inside one partition).

    ``how`` supports inner and left (left rows with no match survive
    with their salt, NULL-extended).  Join keys must be non-null on the
    small side (standard equi-join semantics).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join: how={how!r} (inner | left)")
    entropy = [c for c in big.columns if c not in keys] or keys
    b = with_salt(big, entropy, num_salts)
    s = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(num_salts)]))
    )
    return b.join(s, [*keys, "_salt"], how).drop("_salt")


def exact_distinct_by_key(
    df: DataFrame, key: str, value: str, alias: str = "n_distinct"
) -> DataFrame:
    """Skew-safe exact COUNT(DISTINCT value) per key: shuffle on
    (key, value) — hot keys spread across reducers by value hash —
    then count per key.  ``countDistinct`` would shuffle by key alone
    and pin hot keys on single reducers.  COUNT(DISTINCT) semantics:
    NULL values excluded, but a key whose values are all NULL still
    appears with count 0."""
    counts = (
        df.select(key, value)
        .filter(F.col(value).isNotNull())
        .distinct()
        .groupBy(key)
        .agg(F.count("*").alias(alias))
    )
    keys = df.select(key).distinct()
    return keys.join(counts, key, "left").select(
        key, F.coalesce(F.col(alias), F.lit(0)).alias(alias)
    )

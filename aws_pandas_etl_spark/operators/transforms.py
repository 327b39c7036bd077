"""Reference-parity transform operators (SURVEY.md §2a P1-P8, F1).

Each is a pure ``DataFrame -> DataFrame`` function built from Catalyst
expressions only — the whole cast/extend pipeline compiles into a
single WholeStageCodegen projection over the scan, so at 100 TB it
costs one pass with zero shuffles.

Reference citations are into /root/reference/ (the pandas original).
"""

from __future__ import annotations

import datetime as _dt
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_pandas_etl_spark.functions.hashing import row_hash
from aws_pandas_etl_spark.functions.types import normalize_column_name


def cast_bit_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """P1 — bit/boolean -> int16 via bool (ref
    dataframe_operations.py:26-29: ``astype('bool').astype('Int16')``)."""
    exprs = {c: F.col(c).cast("boolean").cast("smallint") for c in cols}
    return df.withColumns(exprs) if exprs else df


def cast_tinyint_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """P2 — tinyint -> int16 (ref dataframe_operations.py:30-33)."""
    exprs = {c: F.col(c).cast("smallint") for c in cols}
    return df.withColumns(exprs) if exprs else df


def cast_decimal_columns(
    df: DataFrame, cols: list[str], precision: int = 38, scale: int = 18
) -> DataFrame:
    """P3 — decimal/numeric/money -> DecimalType(p,s).

    The reference's str->Decimal dance (dataframe_operations.py:34-39)
    works around pandas float pollution; Spark decimals are exact
    natively.  Its ``'None'->'NaN'`` sentinel produced
    ``Decimal('NaN')``, which Spark DecimalType cannot hold — mapped to
    NULL here (documented deviation, SURVEY.md §7.3b)."""
    exprs = {c: F.col(c).cast(T.DecimalType(precision, scale)) for c in cols}
    return df.withColumns(exprs) if exprs else df


def cast_date_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """P4 — datetime-ish -> date (ref dataframe_operations.py:40-45).
    No 1677-2262 range limit here, unlike pandas datetime64[ns]."""
    exprs = {c: F.col(c).cast("date") for c in cols}
    return df.withColumns(exprs) if exprs else df


def ceil_to_ms(ts: _dt.datetime) -> _dt.datetime:
    """Ceil a datetime to millisecond precision — parity with the
    reference's ``pd.Timestamp.now(tz='UTC').ceil(freq='ms')``
    (dataframe_operations.py:66)."""
    micros = ts.microsecond
    ceiled = int(math.ceil(micros / 1000.0) * 1000)
    if ceiled >= 1_000_000:
        return ts.replace(microsecond=0) + _dt.timedelta(seconds=1)
    return ts.replace(microsecond=ceiled)


def add_audit_columns(
    df: DataFrame,
    updatedby: str = "redshiftadmin",
    run_ts: _dt.datetime | None = None,
    runid: int = 1,
) -> DataFrame:
    """P5 — append run-constant audit columns (ref
    dataframe_operations.py:53-70).

    The reference's timestamp default is evaluated once at import time
    — one constant stamp per process run.  We reproduce the *intent*
    (run-constant) by materializing the timestamp ONCE on the driver
    and injecting it as a literal; ``F.current_timestamp()`` would be
    per-query-start and ``now()`` per-row in other engines, so neither
    is used.  At 100 TB this is still a zero-cost literal projection.
    """
    if run_ts is None:
        run_ts = ceil_to_ms(_dt.datetime.now(_dt.timezone.utc))
    if run_ts.tzinfo is not None:
        run_ts = run_ts.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return (
        df.withColumn("updatedby", F.lit(updatedby))
        .withColumn("updated_utc_ts", F.lit(run_ts).cast("timestamp"))
        .withColumn("runid", F.lit(runid).cast("int"))
    )


def add_row_hash(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """P6 — md5 fingerprint of the listed columns into
    ``row_hash_code`` (ref dataframe_operations.py:73-90).  Unlike the
    reference, no helper column leaks (its ``df.drop`` result was
    discarded, :86)."""
    if cols is None:
        cols = df.columns
    return df.withColumn("row_hash_code", row_hash(cols))


def standardize_column_names(df: DataFrame) -> DataFrame:
    """P7 — lowercase; spaces->_; '-'->''; '__'->'_' (ref
    rdbms_operations.py:239-243)."""
    return df.toDF(*[normalize_column_name(c) for c in df.columns])


def enforce_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """P8 — cast-or-fail projection to the declared schema (ref
    ``pa.Table.from_pandas(df, schema=...)``,
    dataframe_operations.py:103).

    Selects columns in schema order and casts each to its declared
    type; missing columns raise (cast-or-fail semantics).  Timestamps
    are truncated to ms to match the reference's
    ``pa.timestamp("ms")`` at-rest precision (Spark stores µs).
    """
    present = set(df.columns)
    missing = [f.name for f in schema.fields if f.name not in present]
    if missing:
        raise ValueError(f"enforce_schema: missing columns {missing}")
    cols: list[Column] = []
    for f in schema.fields:
        c = F.col(f.name).cast(f.dataType)
        if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType)):
            c = F.timestamp_millis(F.unix_millis(c))
        cols.append(c.alias(f.name))
    return df.select(*cols)


def active_tables(table_registry: dict[str, dict]) -> list[str]:
    """F1 — config-level predicate over the table registry (ref
    main.py:44: process only when ``active_flag == "T"``)."""
    return [t for t, d in table_registry.items() if d.get("active_flag") == "T"]


def columns_with_type(df: DataFrame, spark_type: T.DataType) -> list[str]:
    """S4 — typed column probe, schema introspection replaces the
    reference's per-table catalog SQL (rdbms_operations.py:155-195)."""
    return [f.name for f in df.schema.fields if f.dataType == spark_type]

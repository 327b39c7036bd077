import datetime as dt
import decimal
import hashlib

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_pandas_etl_spark.functions.types import (
    build_struct_type,
    normalize_column_name,
    spark_type_for,
    with_audit_fields,
)
from aws_pandas_etl_spark.operators.transforms import (
    add_audit_columns,
    add_row_hash,
    cast_bit_columns,
    cast_date_columns,
    cast_decimal_columns,
    cast_tinyint_columns,
    ceil_to_ms,
    columns_with_type,
    enforce_schema,
    standardize_column_names,
)


def test_type_maps():
    assert spark_type_for("bigint") == T.LongType()
    assert spark_type_for("bit") == T.ShortType()  # widened, ref :71
    assert spark_type_for("money") == T.DecimalType(19, 4)
    assert spark_type_for("decimal", 18, 6) == T.DecimalType(18, 6)
    assert spark_type_for("uniqueidentifier") == T.StringType()
    assert spark_type_for("double precision", 15, 4, dialect="redshift") == T.DoubleType()
    assert spark_type_for("varbinary", dialect="redshift") == T.BinaryType()
    with pytest.raises(ValueError):
        spark_type_for("geography")


def test_build_struct_type_from_ddl_strings():
    st = build_struct_type(
        ["id bigint not null", '"Is Active" bit', "amount decimal(18,6) null"]
    )
    assert st.fields[0] == T.StructField("id", T.LongType(), False)
    assert st.fields[1] == T.StructField("is_active", T.ShortType(), True)
    assert st.fields[2] == T.StructField("amount", T.DecimalType(18, 6), True)


def test_normalize_column_name():
    # order matters: lower, ' '->_, '-'->'', '__'->'_'  (ref :239-243)
    assert normalize_column_name("Is Active") == "is_active"
    assert normalize_column_name("tiny-flag") == "tinyflag"
    assert normalize_column_name("A  B") == "a_b"  # two spaces -> __ -> _


def test_casts(spark):
    df = spark.createDataFrame(
        [Row(b=1, t=7, d="123.456789", dtv="2021-03-04 05:06:07"), Row(b=0, t=None, d=None, dtv=None)],
        schema="b int, t int, d string, dtv string",
    )
    out = cast_bit_columns(df, ["b"])
    out = cast_tinyint_columns(out, ["t"])
    out = cast_decimal_columns(out, ["d"], 18, 6)
    out = cast_date_columns(out, ["dtv"])
    sch = dict((f.name, f.dataType) for f in out.schema.fields)
    assert sch["b"] == T.ShortType()
    assert sch["t"] == T.ShortType()
    assert sch["d"] == T.DecimalType(18, 6)
    assert sch["dtv"] == T.DateType()
    rows = out.orderBy("b").collect()
    assert rows[1]["b"] == 1 and rows[0]["b"] == 0
    assert rows[1]["d"] == decimal.Decimal("123.456789")
    assert rows[1]["dtv"] == dt.date(2021, 3, 4)
    assert rows[0]["d"] is None


def test_ceil_to_ms():
    t = dt.datetime(2024, 1, 1, 0, 0, 0, 123_456)
    assert ceil_to_ms(t).microsecond == 124_000
    t2 = dt.datetime(2024, 1, 1, 0, 0, 0, 999_001)
    assert ceil_to_ms(t2) == dt.datetime(2024, 1, 1, 0, 0, 1, 0)
    t3 = dt.datetime(2024, 1, 1, 0, 0, 0, 123_000)
    assert ceil_to_ms(t3) == t3


def test_audit_columns_run_constant(spark):
    df = spark.range(3)
    ts = dt.datetime(2026, 1, 2, 3, 4, 5, 678_000)
    out = add_audit_columns(df, run_ts=ts, runid=42).collect()
    assert {r["updated_utc_ts"] for r in out} == {ts}  # one constant stamp
    assert all(r["updatedby"] == "redshiftadmin" and r["runid"] == 42 for r in out)


def test_row_hash_parity(spark):
    # byte-format parity with ref dataframe_operations.py:83-85:
    # '(' + ','.join(vals, null->'') + ')' -> md5 hex
    df = spark.createDataFrame([Row(a=1, b="x"), Row(a=2, b=None)], "a long, b string")
    out = {r["a"]: r["row_hash_code"] for r in add_row_hash(df, ["a", "b"]).collect()}
    assert out[1] == hashlib.md5(b"(1,x)").hexdigest()
    assert out[2] == hashlib.md5(b"(2,)").hexdigest()


def test_standardize_and_enforce(spark):
    df = spark.createDataFrame([Row(**{"ID": 1, "Is Active": True})])
    out = standardize_column_names(df)
    assert out.columns == ["id", "is_active"]
    target = build_struct_type(["id bigint not null", "is_active smallint"])
    enforced = enforce_schema(out, target)
    assert [f.dataType for f in enforced.schema.fields] == [T.LongType(), T.ShortType()]
    with pytest.raises(ValueError, match="missing"):
        enforce_schema(out, build_struct_type(["nope int"]))


def test_enforce_schema_ms_truncation(spark):
    df = spark.createDataFrame(
        [Row(ts=dt.datetime(2024, 5, 6, 7, 8, 9, 123_456))], "ts timestamp"
    )
    st = T.StructType([T.StructField("ts", T.TimestampType())])
    got = enforce_schema(df, st).collect()[0]["ts"]
    assert got.microsecond == 123_000  # µs truncated to ms at rest


def test_audit_schema_tail():
    st = with_audit_fields(build_struct_type(["id bigint"]))
    assert [f.name for f in st.fields] == [
        "id", "row_hash_code", "updatedby", "updated_utc_ts", "runid",
    ]


def test_columns_with_type(spark):
    df = spark.createDataFrame([], "a smallint, b string, c smallint")
    assert columns_with_type(df, T.ShortType()) == ["a", "c"]


def test_simhash_num_bits_guard(spark):
    """1<<63 overflows signed 64-bit; simhash_table must refuse
    num_bits outside [1, 63] instead of erroring mid-job under ANSI."""
    import pytest

    from aws_pandas_etl_spark.operators import dedup as D

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for bad in (0, 64):
        with pytest.raises(ValueError, match=r"\[1, 63\]"):
            D.simhash_table(docs, num_bits=bad)
    # 63 is the documented max and must work end-to-end
    assert D.simhash_table(docs, num_bits=63).count() == 1


def test_nanos_conf_scoped_per_read(spark, tmp_path):
    """load_table must not leave nanosAsLong set session-wide — AND the
    TIMESTAMP(NANOS) column itself must still be readable after the conf
    is restored (a count() would let Catalyst prune the ts column and
    prove nothing about the nanos decode path)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from aws_pandas_etl_spark.sources.readers import load_table
    from aws_pandas_etl_spark.streaming.events_stream import events_stream

    key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(key, "false")
    df = load_table(spark, "/root/testdata/sf0.001", "events")
    assert spark.conf.get(key) == "false"
    # force the scan THROUGH the nanos column post-restore
    [row] = df.agg(F.max("ts").alias("m"), F.count(F.lit(1)).alias("n")).collect()
    assert row["n"] == 1000 and isinstance(row["m"], dt.datetime)
    stream = events_stream(spark, "/root/testdata/sf0.001")
    assert spark.conf.get(key) == "false"
    # and the streaming scan too: one availableNow micro-batch that
    # materializes the ts column into a noop sink
    q = (
        stream.select("ts")
        .writeStream.format("noop")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    q.stop()
    assert spark.conf.get(key) == "false"

"""Source readers.

The reference's only data source is a full MSSQL table scan streamed
as 1M-row pandas chunks (S1, /root/reference/utils/rdbms_operations.py:197-248).
In Spark that's a partitioned read: the harness path is parquet
(vectorized columnar scan with pushdown/pruning); the production RDBMS
path is ``jdbc_scan`` with ``partitionColumn/numPartitions/fetchsize``
so N executors stream N ranges concurrently instead of one process
pulling every byte.
"""

from __future__ import annotations

import os

import pyarrow.parquet as _pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_pandas_etl_spark.artifacts import source_ident

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Column names stored as parquet INT64 TIMESTAMP(NANOS), which
    Spark 4 refuses by default (PARQUET_TYPE_ILLEGAL).  Footer-only
    read — cheap even for huge datasets.

    Physical-type check matters: pyarrow reports legacy INT96
    timestamps (Spark's own historical default output type) as
    ``timestamp[ns]`` too, but Spark decodes INT96 natively — routing
    them through the nanosAsLong path would fail the scan.  Only
    INT64-backed nanos columns need the long+div-1000 treatment."""
    try:
        pf = _pq.ParquetFile(path)
    except Exception:
        return []
    schema = pf.schema_arrow
    ns_names = {f.name for f in schema if str(f.type).startswith("timestamp[ns")}
    if not ns_names:
        return []
    md = pf.metadata
    if md.num_row_groups > 0:
        rg = md.row_group(0)
        for ci in range(rg.num_columns):
            col = rg.column(ci)
            if col.path_in_schema in ns_names and col.physical_type == "INT96":
                ns_names.discard(col.path_in_schema)
    return sorted(ns_names)


# path -> (fingerprint, ns_cols, raw inferred schema), the fingerprint
# being ``source_ident(path)``: any rewrite of the data, however deep
# in a partitioned table, changes it, so the cache can never serve a
# stale schema for regenerated fixtures.  METADATA only (schema +
# nanos-column detection) — never rows or results; the parquet data
# is re-scanned by every query.  Rationale (r15
# measurement, tools/build_vs_exec.json): schema inference inside
# ``spark.read.parquet`` costs 70-98 ms per call vs 12 ms with an
# explicit schema, and load_table runs 2-4x per query x 297 queries,
# so inference alone accounted for tens of seconds of pure per-query
# fixed cost (guide §1.2: per-task work after algorithm shape).
# Single-session assumption (r15 ADVICE): the cache is process-wide
# and keyed by path, and the schema was inferred under the session
# confs of get_spark()'s singleton — a second session in the same
# process with different parquet-inference confs would see the first
# session's schema.  The package only ever builds one session per
# process (session.get_spark); revisit the key if that changes.
_META_CACHE: dict[str, tuple[object, list[str], object]] = {}

# path -> (fingerprint, session, normalized DataFrame).  Memoizes the
# LAZY PLAN object, not rows: a DataFrame is an immutable analyzed
# plan, and every action on it re-scans the parquet files — repeat
# bench/oracle invocations still compute from the inputs (the r15
# schema cache's metadata-only contract extended one level).  What it
# saves is the ~18-40 ms of JVM DataSource resolution + file-index
# construction + NTZ-normalization projection that EVERY load_table
# call paid even with the schema cached (r16 micro-bench, 30 reps) —
# times 2-4 calls per query times 297 queries, pure driver fixed
# cost (guide §5).  Entries are invalidated by the same content
# fingerprint as the schema cache, and bypassed when the caller's
# session is not the one the plan was built under (a fresh session
# cannot consume another session's plan).  Same-object reuse across
# queries is safe: Spark's analyzer de-duplicates self-join attribute
# ids (the full-registry oracle sweep is the standing regression
# gate for this).
_DF_CACHE: dict[str, tuple[object, object, DataFrame]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one harness table (parquet).  Catalyst handles column
    pruning and predicate pushdown into the scan.

    Timestamp columns are normalized to ``TimestampType`` (session tz
    is UTC) whatever the fixture stores, so the engine's contract is
    stable across testdata regenerations:

    - TIMESTAMP(NANOS) (Spark 4 refuses by default) is read via
      ``spark.sql.legacy.parquet.nanosAsLong`` and converted with exact
      integer division (``div 1000`` — float division would lose
      precision above 2^53 ns);
    - TIMESTAMP(µs/ms) without tz infers as TIMESTAMP_NTZ and is cast
      to TimestampType (same instant under the UTC session tz).

    Schema inference runs once per (path, content fingerprint) and is
    cached process-wide; subsequent reads pass the cached schema
    explicitly, skipping the JVM footer/inference pass (~8x cheaper
    plan construction, measured).  Only metadata is cached — every
    query still scans the parquet data.

    Repeated calls for the same table (same content, same session)
    return the SAME DataFrame object.  A query that loads a table twice
    and joins the copies must alias both sides and join on qualified
    references (``a.alias("n1")``, ``F.col("n1.n_regionkey")``); the
    unaliased column-object form (``a["k"] == b["k"]``) is ambiguous
    and Spark rejects it loudly."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    # None = missing table: skip the cache and let spark.read raise its
    # usual AnalysisException ("Path does not exist") — callers that
    # catch Spark errors keep working (r15 ADVICE)
    fp = source_ident(path)
    if fp is not None:
        hit = _DF_CACHE.get(path)
        if hit is not None and hit[0] == fp and hit[1] is spark:
            return hit[2]
    cached = _META_CACHE.get(path) if fp is not None else None
    ns_cols: list[str] | None = None
    if cached is not None and cached[0] == fp:
        _, ns_cols, raw_schema = cached
        if not ns_cols:
            df = spark.read.schema(raw_schema).parquet(path)
            out = _normalize_with_schema(df, raw_schema)
            _DF_CACHE[path] = (fp, spark, out)
            return out
        # nanos tables keep the conf-scoped inference path: the
        # nanosAsLong footer-acceptance check happens again at scan
        # planning, so an explicit schema alone is not sufficient —
        # but the cached ns_cols list skips the pyarrow footer re-read
    if ns_cols is None:
        ns_cols = _nanos_timestamp_cols(path)
    if not ns_cols:
        df = spark.read.parquet(path)
        raw_schema = df.schema
        out = _normalize_with_schema(df, raw_schema)
        if fp is not None:
            _META_CACHE[path] = (fp, ns_cols, raw_schema)
            _DF_CACHE[path] = (fp, spark, out)
        return out
    if fp is not None:
        _META_CACHE[path] = (fp, ns_cols, None)
    df = _read_parquet_nanos(spark, path)
    df = df.withColumns(
        {c: F.timestamp_micros(F.expr(f"`{c}` div 1000")) for c in ns_cols}
    )
    # a table can mix TIMESTAMP(NANOS) and µs/ms NTZ columns — normalize
    # the non-nanos ones too, honoring the contract above
    return normalize_ntz_timestamps(df)


def _normalize_with_schema(df: DataFrame, schema) -> DataFrame:
    """normalize_ntz_timestamps, but deciding from an already-known
    schema instead of ``df.schema`` (avoids a py4j schema fetch on the
    hot load_table path)."""
    from pyspark.sql import types as T

    ntz = [f.name for f in schema.fields if isinstance(f.dataType, T.TimestampNTZType)]
    if not ntz:
        return df
    return df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})


def normalize_ntz_timestamps(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to TimestampType.  With the
    session tz pinned to UTC (session.py) this is instant-preserving;
    it keeps one timestamp flavor flowing through the engine regardless
    of how a parquet producer annotated its columns."""
    from pyspark.sql import types as T

    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)]
    if not ntz:
        return df
    return df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})


def _read_parquet_nanos(spark: SparkSession, path: str) -> DataFrame:
    """Read parquet containing TIMESTAMP(NANOS) columns (as raw longs).

    ``spark.sql.legacy.parquet.nanosAsLong`` is scoped to this read:
    set, schema-capture (``spark.read.parquet`` resolves the schema
    eagerly; later execution of the returned lazy DataFrame does not
    re-consult the conf — verified behavior), restore.  A session-wide
    set would make every OTHER nanos-parquet read in the session
    silently yield longs instead of failing loudly.  Not safe against
    a concurrent reader thread on the same session mid-window — the
    window is schema-resolution only (footer read, milliseconds)."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(key)  # conf has a defined default ("false")
    spark.conf.set(key, "true")
    try:
        return spark.read.parquet(path)
    finally:
        spark.conf.set(key, prior)


def load_tables(spark: SparkSession, sf_dir: str, names=TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_temp_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register the harness tables as temp views for ``spark.sql``."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def read_parquet_merged(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: merge the footer schemas of every file
    under ``path`` (``mergeSchema``) so batches landed BEFORE a column
    existed surface it as NULL instead of failing the scan — the
    additive-drift reality of any long-lived landing zone (a producer
    ships a new field; history doesn't get rewritten).  Merge is
    name-based and additive-only: a type CHANGE for an existing column
    still fails loudly, which is the correct contract (silent coercion
    hides producer bugs).

    Scale note: mergeSchema reads every file footer at planning time —
    fine for a landing zone's file counts; at catalog scale the merged
    schema belongs in the table metadata (Delta/Iceberg do exactly
    this) and the per-file union becomes a no-op."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def jdbc_scan(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 32,
    fetchsize: int = 100_000,
    lower_bound=None,
    upper_bound=None,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """S1 production path — partitioned JDBC scan.

    Replaces the reference's single-cursor ``pd.read_sql(...,
    chunksize=1000000)`` (rdbms_operations.py:224-227): Spark derives
    the schema from JDBC metadata (the reference's S2 catalog_scan,
    done by hand there), splits ``partition_column`` into
    ``num_partitions`` ranges, and each executor streams its range with
    ``fetchsize`` batching.  At 100 TB the scan parallelism is
    ``num_partitions``, not 1.

    Executed end-to-end in tests against an embedded Derby database
    (tests/test_readers.py), including proof that filters and column
    pruning push down into the generated SQL — the Spark JDBC source
    compiles them into the per-partition SELECT, matching the
    reference's pushed-down catalog behavior
    (/root/reference/utils/rdbms_operations.py:56-94).
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("fetchsize", str(fetchsize))
    )
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partitioned jdbc_scan needs lower_bound/upper_bound")
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def read_csv(spark: SparkSession, path: str, schema=None, header: bool = True) -> DataFrame:
    """CSV source with optional explicit schema (schema-on-read)."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """ORC source — same vectorized columnar scan + pushdown/pruning
    path as parquet (both go through the native file source)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Binary-file source (images/audio/video as opaque blobs): one row
    per file with (path, modificationTime, length, content BINARY) —
    the input end of the multimodal pipeline
    (operators/multimodal.py).  Spark parallelizes over files; pair
    with ``sample_frames``/``resize_batch`` which bound the 1->N
    output amplification."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)

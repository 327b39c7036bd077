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

import glob as _glob
import os
from typing import NamedTuple

import pyarrow as pa
import pyarrow.parquet as _pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_pandas_etl_spark.artifacts import source_ident
from aws_pandas_etl_spark.session import scoped_conf

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


NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


class TimestampProbe(NamedTuple):
    path: str  # the first match (scheme-qualified on the Hadoop route)
    is_dir: bool  # the match is a directory of part files
    kinds: dict[str, str]  # timestamp column -> 'ns' | 'tz' | 'ntz'


class _HadoopFooterFile:
    """Minimal seekable read-only file over the Hadoop FileSystem API,
    enough for pyarrow's footer reads on any scheme the cluster speaks
    (``s3a://``, ``hdfs://``, ``file://``).  Range reads go through
    ``IOUtils.toByteArray`` so py4j hands back Python bytes directly;
    footers are KB-sized, so the py4j hop is noise."""

    def __init__(self, jvm, fs, jpath, length: int):
        self._jvm = jvm
        self._in = fs.open(jpath)
        self._len = int(length)
        self._pos = 0
        self.closed = False

    def readable(self):
        return True

    def seekable(self):
        return True

    def writable(self):
        return False

    def tell(self) -> int:
        return self._pos

    def seek(self, offset: int, whence: int = 0) -> int:
        base = (0, self._pos, self._len)[whence]
        self._pos = max(0, min(base + offset, self._len))
        return self._pos

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0:
            n = self._len - self._pos
        n = min(n, self._len - self._pos)
        if n <= 0:
            return b""
        self._in.seek(self._pos)
        data = self._jvm.org.apache.commons.io.IOUtils.toByteArray(self._in, n)
        self._pos += n
        return bytes(data)

    def close(self) -> None:
        if not self.closed:
            self._in.close()
            self.closed = True


def _ts_kinds(pf: _pq.ParquetFile) -> dict[str, str]:
    """Classify every top-level timestamp column of an open pyarrow
    ParquetFile: 'ns' (INT64 TIMESTAMP(NANOS), which Spark 4 refuses by
    default), 'tz' (Spark reads it as TimestampType) or 'ntz' (Spark
    infers TIMESTAMP_NTZ).

    Legacy INT96 timestamps (Spark's historical default output type)
    surface as ``timestamp[ns]`` in the arrow schema, but Spark decodes
    them natively as TimestampType — so the physical type decides, and
    only INT64-backed nanos columns take the nanosAsLong path."""
    int96 = {
        pf.schema.column(i).path
        for i in range(len(pf.schema))
        if pf.schema.column(i).physical_type == "INT96"
    }
    kinds = {}
    for f in pf.schema_arrow:
        if not pa.types.is_timestamp(f.type):
            continue
        if f.type.unit == "ns" and f.name not in int96:
            kinds[f.name] = "ns"
        else:
            kinds[f.name] = "tz" if f.type.tz is not None or f.name in int96 else "ntz"
    return kinds


def _by_name(entries) -> tuple | None:
    """The (name, is_dir, handle) entry with the smallest name."""
    return min(entries, key=lambda e: e[0], default=None)


def _first_data_file(match: tuple, children) -> object | None:
    """Handle of the file a probe reads for ``match`` (name, is_dir,
    handle): the match itself, or for a directory — the realistic
    at-scale layout, any distributed writer's output, possibly
    partitioned — its first non-hidden ``.parquet`` file, descending
    through subdirectories in name order.  None when there is none."""
    while match is not None and match[1]:
        match = _by_name(
            c
            for c in children(match[2])
            if not c[0].startswith(("_", ".")) and (c[1] or c[0].endswith(".parquet"))
        )
    return None if match is None else match[2]


def probe_timestamps(spark: SparkSession, pattern: str) -> TimestampProbe | None:
    """Resolve ``pattern`` (a parquet file, a directory of part files,
    or a glob) and classify the timestamp columns in the footer of its
    first match (by name); None when nothing matches.

    A directory stands for its first data file: a table or a file
    stream has one fixed schema anyway, so a mixed-unit directory fails
    loudly in the scan whichever file wins.  A bare path that exists
    locally is listed with ``os`` and its footer read by pyarrow (a
    fraction of a millisecond — this runs on every ``load_table`` cache
    miss); anything else — a scheme-qualified path, or a bare one on a
    non-local default filesystem — goes through the session's Hadoop
    FileSystem API, footer included (``_HadoopFooterFile``), so every
    scheme the cluster speaks works."""
    local = [] if "://" in pattern or pattern.startswith("file:") else _glob.glob(pattern)
    if local:
        match = _by_name((os.path.basename(p), os.path.isdir(p), p) for p in local)
        path = _first_data_file(
            match, lambda d: [(e.name, e.is_dir(), e.path) for e in os.scandir(d)]
        )
        if path is None:
            return None
        return TimestampProbe(match[2], match[1], _ts_kinds(_pq.ParquetFile(path)))
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(pattern)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    statuses = fs.globStatus(jpath)
    if not statuses:
        return None
    match = _by_name((s.getPath().getName(), s.isDirectory(), s) for s in statuses)
    st = _first_data_file(
        match,
        lambda d: [
            (c.getPath().getName(), c.isDirectory(), c) for c in fs.listStatus(d.getPath())
        ],
    )
    if st is None:
        return None
    f = _HadoopFooterFile(jvm, fs, st.getPath(), st.getLen())
    try:
        kinds = _ts_kinds(_pq.ParquetFile(f))
    finally:
        f.close()
    return TimestampProbe(match[2].getPath().toString(), match[1], kinds)


def to_timestamps(
    df: DataFrame, ns_cols: list[str], ntz_cols: list[str]
) -> DataFrame:
    """Normalize to TimestampType: raw TIMESTAMP(NANOS) longs by exact
    integer division (``div 1000`` — float division would lose
    precision above 2^53 ns), TIMESTAMP_NTZ columns by a cast (the same
    instant under the UTC session tz)."""
    conv = {c: F.timestamp_micros(F.expr(f"`{c}` div 1000")) for c in ns_cols}
    conv.update({c: F.col(c).cast("timestamp") for c in ntz_cols})
    return df.withColumns(conv) if conv else df


def _ntz_cols(schema: T.StructType) -> list[str]:
    return [f.name for f in schema.fields if isinstance(f.dataType, T.TimestampNTZType)]


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
      integer division (see ``to_timestamps``);
    - TIMESTAMP(µs/ms) without tz infers as TIMESTAMP_NTZ and is cast
      to TimestampType (same instant under the UTC session tz).

    The nanos columns come from ``probe_timestamps`` — the same footer
    probe the event stream uses — so a file and a directory of part
    files read alike.  The probe and schema inference run once per
    (path, content fingerprint) and are cached process-wide; later
    reads pass the cached schema explicitly, skipping the JVM
    footer/inference pass (~8x cheaper plan construction, measured).
    Only metadata is cached — every query still scans the parquet data.

    Repeated calls for the same table (same content, same session)
    return the SAME DataFrame object.  A query that loads a table twice
    and joins the copies must alias both sides and join on qualified
    references (``a.alias("n1")``, ``F.col("n1.n_regionkey")``); the
    unaliased column-object form (``a["k"] == b["k"]``) is ambiguous
    and Spark rejects it loudly."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    # None = missing table: no memo, and spark.read raises its usual
    # AnalysisException ("Path does not exist") — callers that catch
    # Spark errors keep working (r15 ADVICE)
    fp = source_ident(path)
    hit = _DF_CACHE.get(path)
    if fp is not None and hit is not None and hit[0] == fp and hit[1] is spark:
        return hit[2]
    meta = _META_CACHE.get(path)
    if fp is None or meta is None or meta[0] != fp:
        probe = probe_timestamps(spark, path)
        kinds = probe.kinds if probe is not None else {}
        meta = (fp, [c for c, k in kinds.items() if k == "ns"], None)
    _, ns_cols, schema = meta
    reader = spark.read if schema is None else spark.read.schema(schema)
    # nanosAsLong is scoped to plan construction: the returned
    # DataFrame keeps decoding the raw longs after the restore, while a
    # session-wide set would make every other nanos read in the
    # session silently yield longs instead of failing loudly
    with scoped_conf(spark, {NANOS_AS_LONG: "true"} if ns_cols else {}):
        df = reader.parquet(path)
    if schema is None:
        schema = df.schema
        if fp is not None:
            _META_CACHE[path] = (fp, ns_cols, schema)
    out = to_timestamps(df, ns_cols, _ntz_cols(schema))
    if fp is not None:
        _DF_CACHE[path] = (fp, spark, out)
    return out


def normalize_ntz_timestamps(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to TimestampType.  With the
    session tz pinned to UTC (session.py) this is instant-preserving;
    it keeps one timestamp flavor flowing through the engine regardless
    of how a parquet producer annotated its columns."""
    return to_timestamps(df, [], _ntz_cols(df.schema))


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

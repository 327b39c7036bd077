"""Streaming analytics over the events table.

The reference has no streaming surface (SURVEY.md §2a: "all streaming
constructs absent") — this is §2b extension territory: the same
tumbling-window aggregation the batch engine runs, executed through
Structured Streaming (file source -> windowed agg -> sink), so the
engine covers both bounded and unbounded inputs with one semantics.

Scale posture: in production the source is Kafka/files-on-S3 with a
watermark bounding state; ``availableNow`` processes the backlog as an
incremental batch job.  State store is RocksDB-backed on a real
cluster for large keyspaces.

Every runner here shares one scaffold:

- ``open_events_stream`` declares the stream's schema from
  ``readers.probe_timestamps`` — the footer probe ``load_table`` uses —
  so batch and stream agree on every fixture layout;
- ``scratch_dir`` owns each run's per-call directory and removes it on
  every exit path;
- ``run_available_now`` starts, bounds, stops and times out each query;
- ``_ordered_split_source`` is the file-per-trigger source of the
  multi-batch runners;
- ``stream_stream_range_join`` is the one interval-join plan.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import time
import uuid
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from aws_pandas_etl_spark.operators import sketches as SK
from aws_pandas_etl_spark.operators.relational import tolerance_bin
from aws_pandas_etl_spark.session import scoped_conf
from aws_pandas_etl_spark.sources.readers import (
    NANOS_AS_LONG,
    load_table,
    probe_timestamps,
    to_timestamps,
)

EVENTS_LONG_TS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # TIMESTAMP(NANOS) read as long
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


_DURATION_UNIT_SEC = {
    "microsecond": 1e-6,
    "millisecond": 1e-3,
    "second": 1.0,
    "minute": 60.0,
    "hour": 3600.0,
    "day": 86400.0,
    "week": 604800.0,
}


def duration_seconds(spec: str) -> float:
    """Parse a Spark interval string ("10 minutes", "30 seconds",
    "1 hour 30 minutes") into seconds.  The watermark-flush sentinel
    must sit strictly beyond max_ts + watermark + tolerance; guessing
    the delay from a substring match ("minute" in spec -> 600) under-
    sizes any non-default watermark (e.g. "3 hours") and the tail
    unmatched rows silently stay in state — so the delay is parsed for
    real and unknown forms refuse loudly."""
    import re

    pairs = re.findall(r"(\d+(?:\.\d+)?)\s*([a-zA-Z]+)", spec)
    if not pairs:
        raise ValueError(f"unparseable duration spec: {spec!r}")
    total = 0.0
    for num, unit in pairs:
        key = unit.lower().rstrip("s")
        if key not in _DURATION_UNIT_SEC:
            raise ValueError(f"unknown duration unit {unit!r} in {spec!r}")
        total += float(num) * _DURATION_UNIT_SEC[key]
    return total


def open_events_stream(
    spark: SparkSession,
    directory: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over event parquet files, normalized to
    TimestampType ``ts`` whatever the files store — the streaming twin
    of readers.load_table's contract, decided by the same footer probe
    (``readers.probe_timestamps``).  The stream's schema must be
    declared up front, so the probe picks it:

    - TIMESTAMP(NANOS): read as long under ``nanosAsLong`` (conf
      scoped to stream construction — the plan captures it; verified
      that micro-batch execution after restore still decodes
      correctly), converted with exact integer ``div 1000``;
    - TIMESTAMP(µs/ms) without tz: TIMESTAMP_NTZ schema, cast to
      TimestampType (instant-preserving under the UTC session tz);
    - TIMESTAMP with tz (or legacy INT96): TimestampType directly."""
    probe = probe_timestamps(spark, directory.rstrip("/") + "/" + glob)
    if probe is None:
        raise FileNotFoundError(f"no parquet matching {glob!r} in {directory}")
    kind = probe.kinds["ts"]
    # pathGlobFilter matches LEAF FILE names: when the glob target is a
    # DIRECTORY of part files (any distributed writer's output —
    # events.parquet/ holding part-*.parquet), filtering the parent
    # listing by "events.parquet" matches ZERO leaf files and the
    # stream silently processes an EMPTY source (found via a 10x probe
    # whose streaming numbers came back BELOW the machinery floor).
    # Resolve the directory case to stream the subdirectory itself.
    src_dir, path_filter = directory, glob
    if probe.is_dir and not any(ch in glob for ch in "*?[]{"):
        src_dir, path_filter = probe.path, "*.parquet"
    ts_type = {
        "ns": T.LongType(),
        "tz": T.TimestampType(),
        "ntz": T.TimestampNTZType(),
    }[kind]
    schema = T.StructType(
        [
            T.StructField(f.name, ts_type if f.name == "ts" else f.dataType)
            for f in EVENTS_LONG_TS_SCHEMA.fields
        ]
    )
    reader = spark.readStream.schema(schema).option("pathGlobFilter", path_filter)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    with scoped_conf(spark, {NANOS_AS_LONG: "true"} if kind == "ns" else {}):
        stream = reader.parquet(src_dir)
    return to_timestamps(
        stream, ["ts"] if kind == "ns" else [], ["ts"] if kind == "ntz" else []
    )


def events_stream(spark: SparkSession, sf_dir: str, with_watermark: str | None = "2 hours") -> DataFrame:
    """File-source stream of the harness events table, ``ts``
    normalized to TimestampType regardless of the fixture's physical
    timestamp unit (see ``open_events_stream``)."""
    stream = open_events_stream(spark, sf_dir, "events.parquet")
    if with_watermark:
        stream = stream.withWatermark("ts", with_watermark)
    return stream


def tumbling_window_agg(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Tumbling-window count + exact-decimal value sum.  Works on both
    the batch and streaming events DataFrame (same plan either way)."""
    return (
        events.groupBy(F.window(F.col("ts"), window).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


@contextmanager
def scratch_dir(prefix: str, keep: tuple[str, ...] = ()) -> Iterator[str]:
    """Per-call scratch directory ``<tempdir>/<prefix>_<hex>`` for one
    streaming run (``tempfile.gettempdir()`` is read at call time).

    If the block raises — a failed batch, a timeout, an interrupt — or
    nothing is kept, the whole directory goes when the block ends.
    Otherwise every entry but ``keep`` goes (the checkpoint and the
    split source are dead once the run finished), and the kept ones,
    which the caller's lazy result reads, are removed at interpreter
    exit."""
    base = os.path.join(tempfile.gettempdir(), f"{prefix}_{uuid.uuid4().hex[:8]}")
    os.makedirs(base)
    try:
        yield base
    except BaseException:
        shutil.rmtree(base, ignore_errors=True)
        raise
    if not keep:
        shutil.rmtree(base, ignore_errors=True)
        return
    for n in os.listdir(base):
        if n not in keep:
            shutil.rmtree(os.path.join(base, n), ignore_errors=True)
    atexit.register(shutil.rmtree, base, ignore_errors=True)


# How long a streaming run may take before it is stopped and refused.
STREAM_TIMEOUT_SEC = 300


def run_available_now(
    spark: SparkSession, writer: DataStreamWriter, base: str, timeout_sec: float
) -> None:
    """The one execution scaffold of every streaming run: start
    ``writer`` under the availableNow trigger with its checkpoint at
    ``<base>/ckpt``, wait up to ``timeout_sec``, always stop it, and
    raise TimeoutError (never partial results) if it did not finish.

    Shuffle partitions are lowered to 8 for the run: each shuffle
    partition materializes a state-store instance per micro-batch,
    which dominates small/bounded backlogs.  (On a real cluster with
    large state you'd size this UP, not down.)"""
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        q = (
            writer.option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            finished = q.awaitTermination(timeout_sec)
        finally:
            q.stop()
    if not finished:
        raise TimeoutError(
            f"streaming run {os.path.basename(base)} did not finish within "
            f"{timeout_sec}s — partial results discarded"
        )


def _run_to_parquet_sink(
    spark: SparkSession,
    df: DataFrame,
    name_prefix: str,
) -> DataFrame:
    """Execution scaffold for append-mode streaming queries whose output
    size is NOT bounded by construction (joins, dedup, sessionize):
    availableNow trigger -> parquet file sink -> read back.

    Executors write the sink directly; nothing funnels through the
    driver, so a query whose output explodes (e.g. a mis-tolerated
    stream-stream join producing near-quadratic pairs) degrades into a
    big-but-finishable file write instead of a fatal driver
    task-result transfer — exactly the failure that killed round 4's
    bench when the memory sink collected ~647 MB to the driver.  This
    is also the 100 TB shape: streaming results land on distributed
    storage, and downstream consumption is another scan."""
    with scratch_dir(name_prefix, keep=("out",)) as base:
        out = os.path.join(base, "out")
        writer = df.writeStream.format("parquet").option("path", out).outputMode("append")
        run_available_now(spark, writer, base, STREAM_TIMEOUT_SEC)
        # the declared schema, not inference: a committed zero-row batch
        # leaves no data file to infer from, and neither does a run
        # that committed no batch at all — both read back as 0 rows
        return spark.read.schema(df.schema).parquet(out)


def _run_to_memory_sink(
    spark: SparkSession,
    df: DataFrame,
    output_mode: str,
    name_prefix: str,
) -> DataFrame:
    """availableNow run into a memory sink.  Memory sinks collect
    results to the driver — reserved for complete-mode aggregates whose
    output is bounded by the grouping cardinality.  Unbounded
    append-mode results go through ``_run_to_parquet_sink`` instead."""
    with scratch_dir(name_prefix) as base:
        name = os.path.basename(base)
        writer = df.writeStream.format("memory").queryName(name).outputMode(output_mode)
        run_available_now(spark, writer, base, STREAM_TIMEOUT_SEC)
    return spark.table(name)


def run_tumbling_agg_stream(
    spark: SparkSession, sf_dir: str, window: str = "1 hour"
) -> DataFrame:
    """Execute the windowed agg as a real streaming query (availableNow
    -> memory sink, complete mode) and return the result DataFrame.

    Batch/stream parity: the result is identical to
    ``tumbling_window_agg`` over the batch read — asserted in tests and
    by the DuckDB oracle."""
    agg = tumbling_window_agg(events_stream(spark, sf_dir, with_watermark=None), window)
    return _run_to_memory_sink(spark, agg, "complete", "tumbling")


def run_streaming_dedup(
    spark: SparkSession,
    sf_dir: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """Streaming exact deduplication: ``dropDuplicates`` over the event
    stream (stateful — one state-store entry per key seen), append-mode
    memory sink, availableNow trigger.

    In production the stream carries a watermark and
    ``dropDuplicatesWithinWatermark`` bounds state to the late-data
    horizon; the bounded-backlog run here keeps full state, which is
    exactly what a reprocessing/backfill job does."""
    keys = keys or ["event_id"]
    stream = events_stream(spark, sf_dir, with_watermark=None).select(*keys)
    return _run_to_parquet_sink(spark, stream.dropDuplicates(keys), "dedup")


def _ordered_split_source(
    spark: SparkSession,
    df: DataFrame,
    order_cols: list[str],
    n_splits: int,
    base: str,
    tail: DataFrame | None = None,
) -> DataFrame:
    """Arriving-batch scaffolding for the multi-batch runners: a
    file-per-trigger stream over ``<base>/src/batch_i.parquet``, one
    file per micro-batch, in order.

    Unless ``src`` already exists (a resumed run), ``df`` is split into
    ``n_splits`` ordered files in ONE pass — ntile over ``order_cols``,
    a single partitionBy write — and ``tail`` (if given) becomes one
    more file after them.  The files get explicitly ascending mtimes so
    the stream delivers them in order regardless of filesystem
    timestamp granularity.  The ntile window's single partition only
    ever runs over the harness fixture; it also guarantees exactly one
    file per split."""
    from pyspark.sql import Window

    src_dir = os.path.join(base, "src")
    if not os.path.isdir(src_dir):
        splits = os.path.join(base, "splits")
        q = df.withColumn("_q", F.ntile(n_splits).over(Window.orderBy(*order_cols)))
        if tail is not None:
            q = q.unionByName(tail.coalesce(1).withColumn("_q", F.lit(n_splits + 1)))
        q.write.partitionBy("_q").parquet(splits)
        os.makedirs(src_dir)
        now = time.time()
        for i in range(1, n_splits + 1 + (tail is not None)):
            part = os.path.join(splits, f"_q={i}")
            files = [f for f in os.listdir(part) if f.endswith(".parquet")]
            if len(files) != 1:
                raise RuntimeError(
                    f"expected exactly one file per split, got {files} in {part}"
                )
            dst = os.path.join(src_dir, f"batch_{i}.parquet")
            os.rename(os.path.join(part, files[0]), dst)
            os.utime(dst, (now + i, now + i))
        shutil.rmtree(splits, ignore_errors=True)
    return (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )


_SPLITS_MARKER = "_splits_marker.json"


def _stamp_splits(src_dir: str, **identity: object) -> None:
    """Record what corpus/shape the ordered splits were built from, so a
    resumed run against a reused base_dir can refuse a mismatched
    corpus instead of silently returning wrong results."""
    import json

    with open(os.path.join(src_dir, _SPLITS_MARKER), "w") as fh:
        json.dump(identity, fh, sort_keys=True)


def _check_splits(src_dir: str, **identity: object) -> None:
    import json

    path = os.path.join(src_dir, _SPLITS_MARKER)
    if not os.path.isfile(path):
        raise RuntimeError(
            f"reused splits dir {src_dir} has no identity marker; "
            "rebuild the splits (delete the base_dir) before resuming"
        )
    with open(path) as fh:
        found = json.load(fh)
    want = json.loads(json.dumps(identity, sort_keys=True))
    if found != want:
        raise RuntimeError(
            f"reused splits dir {src_dir} was built from {found}, "
            f"but this run wants {want}; refusing to resume against "
            "a different corpus/split shape"
        )


def run_foreach_batch_merge(
    spark: SparkSession,
    sf_dir: str,
    n_splits: int = 4,
    timeout_sec: int = STREAM_TIMEOUT_SEC,
    partition_buckets: int | None = None,
) -> DataFrame:
    """Continuous CDC apply: stream the events table in time-ordered
    micro-batches and MERGE each batch into a parquet target via
    ``foreachBatch`` + ``sinks.merge_load`` — the deployment shape of
    an incremental upsert pipeline (checkpointed source offsets give
    at-least-once batch delivery; the merge itself is idempotent per
    batch, so replays converge).  After the bounded availableNow run,
    the target holds the latest row per (user_id, event_type) — which
    must equal the one-shot batch upsert over the whole table, the
    exact oracle (no (key, ts) ties exist in the fixtures, so the
    batch sequence cannot affect the winner).

    Scale shape: each micro-batch merge is one shuffle on the merge
    keys against the current target (compaction cost ∝ target size —
    production uses Delta/Iceberg MERGE INTO keyed the same way); the
    time-ordered split is harness scaffolding standing in for an
    arriving CDC feed.

    ``partition_buckets=N`` switches the target to a layout partitioned
    by ``pmod(user_id, N)`` (a pure function of the merge keys) and
    each batch to ``sinks.merge_load_partitioned`` — per-batch cost
    becomes ∝ the partitions the batch's keys touch instead of the
    whole target, the shape that survives a 100 TB target (r11 verdict
    #4; economics recorded in BASELINE.md r12 "CDC merge
    partition-pruning economics" and docs/merge_probe_r12.json).
    Final state is identical either way — same keys, same ordering."""
    from aws_pandas_etl_spark.sources.sinks import (
        merge_load,
        merge_load_partitioned,
        read_back,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts", "props"
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if partition_buckets is not None:
            # pmod(NULL, N) is NULL — a NULL user_id would route a null
            # partition value into the merge, where it is now rejected
            # loudly (sinks.merge_load_partitioned null guard) instead
            # of silently dropping the null partition's prior rows.
            # layout_spec pins the bucket count into the target's
            # _layout.json: re-running with a different
            # partition_buckets against the same target refuses instead
            # of resurrecting stale rows from unread buckets.
            merge_load_partitioned(
                batch_df.withColumn(
                    "user_bucket",
                    F.pmod(F.col("user_id"), F.lit(partition_buckets)).cast(
                        "int"
                    ),
                ),
                target,
                keys=["user_id", "event_type"],
                order_col="ts",
                partition_col="user_bucket",
                tiebreak_col="event_id",
                layout_spec=f"pmod(user_id,{partition_buckets})",
            )
        else:
            merge_load(
                batch_df,
                target,
                keys=["user_id", "event_type"],
                order_col="ts",
                # in-batch (key, ts) ties must resolve exactly like
                # UPSERT_ORACLE's ORDER BY ts DESC, event_id DESC — without
                # this the merge is only deterministic by fixture luck
                tiebreak_col="event_id",
            )

    # the target must outlive this call (the returned DataFrame reads
    # it lazily); the splits and the checkpoint are dead once it ends
    with scratch_dir("fbmerge", keep=("target",)) as base:
        target = os.path.join(base, "target")
        # time-ordered split into n files = the arriving batch sequence
        stream = _ordered_split_source(spark, ev, ["ts", "event_id"], n_splits, base)
        run_available_now(spark, stream.writeStream.foreachBatch(_apply), base, timeout_sec)
        return read_back(spark, target)


def run_streaming_linear_count(
    spark: SparkSession,
    sf_dir: str,
    buckets: int = 4096,
) -> DataFrame:
    """Streaming approximate distinct-user counting with BOUNDED state
    by construction: hash each user into one of ``buckets`` md5
    buckets at the scan, then stream-dedup on (event_type, bucket) —
    the state store holds at most |types| x m entries FOREVER, no
    watermark needed, unlike keyed dropDuplicates whose state grows
    with distinct users.  This is the streaming twin of the batch
    linear-counting sketch (plans/queries.py::
    approx_distinct_users_linear) and shares its estimator
    -m*ln(1 - occupied/m); the occupied-bucket compaction and the
    estimate happen batch-side over the sink output."""
    from aws_pandas_etl_spark.functions.hashing import md5_bigint

    bucket = (
        md5_bigint(F.concat(F.lit("lc:"), F.col("user_id").cast("string")))
        % buckets
    )
    stream = events_stream(spark, sf_dir, with_watermark=None).select(
        "event_type", bucket.alias("bucket")
    )
    back = _run_to_parquet_sink(
        spark, stream.dropDuplicates(["event_type", "bucket"]), "lincount"
    )
    occ = back.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("occupied")
    )
    m = float(buckets)
    est = F.round(
        -F.lit(m) * F.log(F.lit(1.0) - F.col("occupied").cast("double") / F.lit(m)),
        4,
    )
    return occ.select("event_type", "occupied", est.alias("est_distinct"))


def run_streaming_psi_drift(
    spark: SparkSession,
    sf_dir: str,
    nbins: int = 20,
) -> DataFrame:
    """Streaming population-stability drift monitor: the REFERENCE
    histogram (each type's first temporal half, a bounded
    |types| x |bins| table) is computed batch-side; the CURRENT stream
    (the second half, delivered in 3 real micro-batches)
    accumulates its (type, bin) counts in a streaming aggregate whose
    state is bounded by the bin grid FOREVER — no watermark needed,
    same bounded-by-construction posture as the linear-counting
    sketch.  r15: the grid is CLAMPED (``psi_clamped_bins`` — nbins
    equal-width bins from the reference half's [min, max], plus
    underflow/overflow bins), so the bound |types| x (nbins + 2) holds
    even under corrupt or adversarial values; the old unclamped
    ``floor(value / width)`` minted a state row per distinct bin and
    an unbounded value domain grew the grid without limit.  Returns
    the joined cell table (event_type, bin, na, nb); the PSI
    projection over it is batch math shared with the batch query, so
    the streaming monitor's final state equals the batch statistic
    EXACTLY (one oracle covers both).

    In production the reference histogram and the (vmin, vmax) clamp
    ship to the stream as a small broadcast artifact fitted once on
    the reference window — exactly how they're computed here, just
    persisted.

    Scale shape: per micro-batch one map-side-combined count to at
    most |types| x (nbins + 2) cells; the complete-mode sink rewrites
    only that bounded table; reference join is a full outer over the
    same bounded grid (bins seen by only one half surface with a
    zero)."""
    from aws_pandas_etl_spark.operators.timeseries import psi_clamped_bins

    ev = load_table(spark, sf_dir, "events")
    with_mid = psi_clamped_bins(ev, nbins)
    ref = (
        with_mid.filter(F.col("t") < F.col("mid"))
        .groupBy("event_type", "bin")
        .agg(F.count("*").cast("bigint").alias("na"))
        .localCheckpoint(eager=True)  # bounded; pin one evaluation
    )
    second = with_mid.filter(F.col("t") >= F.col("mid")).select(
        "event_type", "bin", "ts", "event_id"
    )

    with scratch_dir("psidrift") as base:
        stream = _ordered_split_source(spark, second, ["ts", "event_id"], 3, base)
        counts = stream.groupBy("event_type", "bin").agg(
            F.count("*").cast("bigint").alias("nb")
        )
        back = _run_to_memory_sink(spark, counts, "complete", "psidrift")
    return ref.join(back, ["event_type", "bin"], "full_outer").select(
        "event_type",
        "bin",
        F.coalesce(F.col("na"), F.lit(0)).cast("bigint").alias("na"),
        F.coalesce(F.col("nb"), F.lit(0)).cast("bigint").alias("nb"),
    )


def run_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (``F.session_window``): Spark's own
    merging session state, watermark-bounded, append mode — the
    idiomatic streaming sessionization (the custom
    ``applyInPandasWithState`` sessionizer in stateful.py exists for
    the semantics session_window can't express: cross-batch fragment
    numbering and arbitrary per-session state).

    Emission contract (exact, oracle-verified): a session [first_ts,
    last_ts + 30 minutes) is emitted once the event-time watermark
    (max(ts) - 2 hours) passes its end; sessions still open at the end
    of the backlog stay in state, unemitted — precisely the
    incremental semantics a resumed availableNow run needs.  Session
    boundary: a gap >= 30 minutes starts a new session (session windows
    merge only on strict overlap)."""
    stream = events_stream(spark, sf_dir, with_watermark="2 hours")
    agg = (
        stream.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    return _run_to_parquet_sink(spark, agg, "sesswin")


def run_streaming_dedup_within_watermark(
    spark: SparkSession,
    sf_dir: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """Streaming dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` holds each key only until the
    watermark passes its event time + 2 hours, then evicts — state size
    tracks the late-data horizon, not the full key history.  This is
    the 100 TB/continuous-ingest shape of ``run_streaming_dedup``
    (whose full-state variant is the right tool for bounded backfills
    only).

    Contract: duplicates arriving within 2 hours of the first
    occurrence are dropped; a key re-arriving after its state was
    evicted is re-admitted (exactly the documented semantics —
    eviction/readmission is pinned by
    tests/test_streaming_multibatch.py).  On fixtures with unique keys
    the result equals DISTINCT, which is the exact oracle."""
    keys = keys or ["event_id"]
    stream = events_stream(spark, sf_dir, with_watermark="2 hours").select("ts", *keys)
    deduped = stream.dropDuplicatesWithinWatermark(keys).select(*keys)
    return _run_to_parquet_sink(spark, deduped, "dedupww")


def run_stream_stream_range_join(
    spark: SparkSession,
    sf_dir: str,
    tolerance_us: int = 300_000_000,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream interval join: every (error, click) pair within
    ±tolerance, both sides unbounded.

    Spark's streaming symmetric hash join needs an equi-key — a pure
    range predicate between two streams is unplannable — so this reuses
    the batch range join's binning trick (operators/relational.py::
    range_join_binned): bucket event-time into tolerance-wide bins,
    explode one side to {b-1, b, b+1}, join on bin equality, keep the
    exact interval predicate (``stream_stream_range_join``).  The same
    construction that turns the batch plan from a nested loop into an
    equi-join is what makes the streaming join EXIST at all.

    Both sides carry watermarks and the join condition bounds c_ts to
    [e_ts - tol, e_ts + tol], so state for bins older than the
    watermark horizon is evicted — bounded state on unbounded streams.
    Append-mode parquet sink under availableNow; results are identical
    to the batch `range_join_clicks_near_errors` (same DuckDB oracle).
    """
    left = events_stream(spark, sf_dir, with_watermark=None)
    right = events_stream(spark, sf_dir, with_watermark=None)
    joined = stream_stream_range_join(left, right, tolerance_us, watermark)
    return _run_to_parquet_sink(spark, joined, "ssrange")


def stream_stream_range_join(
    left_events: DataFrame,
    right_events: DataFrame,
    tolerance_us: int = 300_000_000,
    watermark: str = "10 minutes",
    join_type: str = "inner",
) -> DataFrame:
    """The one (error, click) interval-join plan over two event streams
    — inner, leftOuter and fullOuter alike (split out so tests can feed
    file-per-trigger streams and prove pairs form across micro-batch
    boundaries).

    Spark's streaming symmetric hash join needs an equi-key, so the
    join meets on the tolerance-wide bin (``relational.tolerance_bin``)
    and keeps the exact interval in the condition.  The CLICK side is
    exploded to bins {b-1, b, b+1}: every true pair still meets on
    exactly one bin (bins are tolerance-wide, so a pair's error bin is
    always within ±1 of the click bin), and each error stays a SINGLE
    state row — so a left-outer join emits exactly one NULL completion
    per unmatched error, where exploding the error side would emit
    three."""
    tol_sec = tolerance_us // 1_000_000
    errors = (
        left_events.filter(F.col("event_type") == "error")
        .select(F.col("event_id").alias("error_id"), F.col("ts").alias("e_ts"))
        .withWatermark("e_ts", watermark)
        .withColumn("e_bin", tolerance_bin("e_ts", tolerance_us))
    )
    c_bin = tolerance_bin("c_ts", tolerance_us)
    clicks = (
        right_events.filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", watermark)
        .withColumn("c_bin", F.explode(F.array(c_bin - 1, c_bin, c_bin + 1)))
    )
    cond = (
        (F.col("e_bin") == F.col("c_bin"))
        & (F.col("c_ts") >= F.col("e_ts") - F.expr(f"INTERVAL {tol_sec} SECONDS"))
        & (F.col("c_ts") <= F.col("e_ts") + F.expr(f"INTERVAL {tol_sec} SECONDS"))
    )
    return errors.join(clicks, cond, join_type).select(
        "error_id",
        "click_id",
        (F.unix_micros(F.col("e_ts")) - F.unix_micros(F.col("c_ts"))).alias("gap_us"),
    )


def run_stream_static_join(
    spark: SparkSession,
    sf_dir: str,
    static_df: DataFrame,
    join_key: str,
    group_col: str,
) -> DataFrame:
    """Stream-static join: enrich the event stream with a batch-side
    dimension (recomputed per micro-batch — the standard pattern for
    slowly-changing enrichment tables), then aggregate on the enriched
    column.  Complete-mode memory sink under availableNow."""
    stream = events_stream(spark, sf_dir, with_watermark=None)
    enriched = stream.join(static_df, join_key)
    agg = enriched.groupBy(group_col).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
    )
    return _run_to_memory_sink(spark, agg, "complete", "ssjoin")


def _mg_snapshot_path(state_dir: str, batch_id: int) -> str:
    return os.path.join(state_dir, f"mg_state_{batch_id}.json")


def _mg_load_snapshot(state_dir: str, batch_id: int) -> dict[str, int]:
    """The committed store as of ``batch_id`` (or {} before batch 0)."""
    import json

    if batch_id < 0:
        return {}
    with open(_mg_snapshot_path(state_dir, batch_id)) as fh:
        return {k: int(v) for k, v in json.load(fh).items()}


def _mg_latest_snapshot_id(state_dir: str) -> int:
    ids = [
        int(n[len("mg_state_") : -len(".json")])
        for n in os.listdir(state_dir)
        if n.startswith("mg_state_") and n.endswith(".json")
    ]
    return max(ids, default=-1)


def run_streaming_heavy_hitters(
    spark: SparkSession,
    sf_dir: str,
    n_splits: int = 4,
    phi: float = 0.005,
    counters: int = 400,
    timeout_sec: int = 120,
    base_dir: str | None = None,
    cleanup: bool = True,
    crash_after_batch: int | None = None,
) -> DataFrame:
    """Streaming frequent-token detection: the documents corpus arrives
    as ``n_splits`` micro-batches; each batch's per-partition
    Misra-Gries sketches (operators/text.py::misra_gries_sketch) fold
    via the mergeable-summaries combine (mg_combine) — state is <=
    ``counters`` (token, count) entries FOREVER, regardless of stream
    length or vocabulary — and the final answer is an exact filtered
    recount of the candidates over the full corpus, so it must equal
    the batch heavy-hitter oracle bit for bit (the superset guarantee
    survives arbitrary merge trees).

    Recovery contract (r10 — the store was a bare driver dict before,
    silently lost on driver restart): the merged store is persisted as
    a batch-versioned JSON snapshot under ``<checkpoint>/mg_state/``.
    Each foreachBatch call derives its pre-merge state from batch
    ``b-1``'s snapshot ON DISK (never process memory) and atomically
    publishes batch ``b``'s — so a restarted driver that re-enters
    with the same failed batch_id (Spark's foreachBatch replay rule)
    recomputes an IDENTICAL snapshot: exactly-once by idempotent
    replay, proven by the kill/resume test in
    test_streaming_multibatch.py.  Snapshots older than b-1 are
    pruned; disk state is <= 2 x counters entries.

    Driver traffic per batch is <= partitions x counters sketch rows
    (bounded by construction — the BPE-argmax audit class); production
    swaps the doc_id file split for Kafka and the final recount for a
    second pass over the landed corpus."""
    import json

    from aws_pandas_etl_spark.operators.text import (
        mg_combine,
        misra_gries_sketch,
        tokens,
    )

    if counters + 1 < 1.0 / phi:
        raise ValueError(
            f"counters={counters} cannot guarantee support phi={phi}"
        )
    base = base_dir or os.path.join(
        tempfile.gettempdir(), f"hhstream_{uuid.uuid4().hex[:8]}"
    )
    src_dir = os.path.join(base, "src")
    state_dir = os.path.join(base, "ckpt", "mg_state")
    os.makedirs(state_dir, exist_ok=True)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # reused base_dir (crash-resume path): refuse a mismatched corpus
    resumed = os.path.isdir(src_dir)
    if resumed:
        _check_splits(src_dir, sf_dir=sf_dir, n_splits=n_splits)
    # doc_id-ordered split into n files = the arriving batch sequence
    # (harness scaffolding standing in for a Kafka topic)
    stream = _ordered_split_source(spark, docs, ["doc_id"], n_splits, base)
    if not resumed:
        _stamp_splits(src_dir, sf_dir=sf_dir, n_splits=n_splits)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        store = _mg_load_snapshot(state_dir, batch_id - 1)
        toks = batch_df.select(F.explode(tokens("text")).alias("token"))
        rows = misra_gries_sketch(toks, "token", counters).collect()
        store = mg_combine(
            store, ((r["token"], r["cnt"]) for r in rows), counters
        )
        tmp = _mg_snapshot_path(state_dir, batch_id) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(store, fh)
        os.replace(tmp, _mg_snapshot_path(state_dir, batch_id))
        for n in os.listdir(state_dir):  # prune: keep b and b-1
            if n.startswith("mg_state_") and n.endswith(".json"):
                i = int(n[len("mg_state_") : -len(".json")])
                if i < batch_id - 1:
                    os.unlink(os.path.join(state_dir, n))
        if crash_after_batch is not None and batch_id == crash_after_batch:
            # test hook: die in the WORST window — snapshot published,
            # checkpoint WAL commit not yet written — so the resumed
            # query replays this batch_id against b-1's snapshot
            raise RuntimeError(
                f"injected crash after snapshot {batch_id}"
            )

    # no scratch_dir here: on failure or timeout the checkpoint and the
    # mg_state snapshots stay on disk even when the caller asked for
    # cleanup — they are exactly the crash-recoverable state a retried
    # run resumes from
    run_available_now(spark, stream.writeStream.foreachBatch(_apply), base, timeout_sec)
    store = _mg_load_snapshot(state_dir, _mg_latest_snapshot_id(state_dir))
    if cleanup:
        shutil.rmtree(base, ignore_errors=True)

    all_toks = docs.select(F.explode(tokens("text")).alias("token"))
    cand = spark.createDataFrame(
        [(t,) for t in sorted(store)], "token string"
    )
    total = all_toks.agg(F.count("*").cast("bigint").alias("total"))
    return (
        all_toks.join(F.broadcast(cand), "token", "left_semi")
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") >= F.ceil(F.lit(phi) * F.col("total")))
        .select("token", "cnt")
    )


def run_streaming_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HyperLogLog (operators/sketches.py) with BOUNDED state
    by construction: the stream dedups on (event_type, register, rank)
    — a domain of at most |types| * 64 * 55 distinct triples, so the
    state store is bounded for the LIFETIME of the stream with no
    watermark, and append mode is exact (a triple is emitted once,
    ever).  The register MAX and the estimate run batch-side over the
    sink output and must equal the batch sketch
    (plans/queries.py::hll_distinct_users) bit-for-bit, because
    max(rank) == max over the emitted distinct ranks — the HLL merge
    identity in streaming form.  The oracle replays the batch twin."""
    from aws_pandas_etl_spark.functions.hashing import md5_bigint

    h = md5_bigint(F.concat(F.lit("hll:"), F.col("user_id").cast("string")))
    stream = (
        events_stream(spark, sf_dir, with_watermark=None)
        .select("event_type", h.alias("h"))
        .select("event_type", *SK.hll_register_rank(F.col("h")))
    )
    back = _run_to_parquet_sink(
        spark, stream.dropDuplicates(["event_type", "reg", "rank"]), "hllsketch"
    )
    regs = back.groupBy("event_type", "reg").agg(F.max("rank").alias("mr"))
    return SK.hll_fold(regs, "event_type").select(
        "event_type",
        "registers_used",
        F.round(SK.hll_estimate(), 4).alias("est_distinct"),
    )


def run_stream_stream_outer_range_join(
    spark: SparkSession,
    sf_dir: str,
    tolerance_us: int = 300_000_000,
    watermark: str = "10 minutes",
    n_splits: int = 1,
    join_type: str = "leftOuter",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join with COMPLETE
    null-completions: every (error, click) pair within ±tolerance AND
    one NULL-click row for every error that never sees a click in its
    window — the enrich-or-admit-no-match shape (impressions without
    conversions, requests without responses) the inner interval join
    cannot express.

    Three mechanics make the outer form correct AND cheap where naive
    constructions are not:

    1. The bin explosion is on the CLICK side
       (``stream_stream_range_join``, shared with the inner join).
       Exploding the errors to {b-1, b, b+1} would emit up to three
       NULL completions per unmatched error (one per exploded bin);
       exploding the clicks keeps each error a SINGLE state row —
       exactly one NULL completion.

    2. A watermark-flush SENTINEL makes the null-completions COMPLETE
       under availableNow.  An unmatched left row only emits once the
       watermark passes ``e_ts + tolerance`` — errors near the end of
       a bounded input would otherwise stay in state forever and
       silently vanish.  One far-future sentinel row per side
       (event_id = -1, ts = max_ts + watermark + tolerance + 1h) rides
       IN the data batch: the watermark it advances applies in the
       closing no-data micro-batch, which evicts and emits every
       remaining unmatched error.  The sentinels must NOT be filtered
       before the join — a deterministic filter on a non-event-time
       column is pushed BELOW the EventTimeWatermark node by the
       optimizer, and a sentinel dropped before the watermark operator
       never advances it (found the hard way: the latest error's NULL
       row stayed in state).  They flow through watermark -> join
       (matching only each other, far past every real event) and are
       removed from the SINK read-back, where pushdown cannot reach a
       streaming operator.

    3. Everything lands in ONE micro-batch (plus the free closing
       no-data batch).  An earlier draft delivered the sentinel as its
       own file-per-trigger batch; every extra batch re-commits and
       re-scans the full join state (~500k rows at sf0.1), measured
       14-17 s against 3.4 s for the single-batch form — identical
       output.  ``n_splits > 1`` restores the multi-batch delivery
       (data split into time-ordered files + a final sentinel file) so
       tests can prove pairs and completions survive micro-batch
       boundaries; production backfills want the single-batch shape.

    State stays bounded on unbounded streams exactly like the inner
    twin: both sides are watermarked and the join condition bounds
    c_ts to [e_ts - tol, e_ts + tol].  Oracle: the plain batch LEFT
    JOIN — parity proves the null-completions are complete, not just
    sound."""
    import datetime as _dt

    tol_sec = tolerance_us // 1_000_000
    # parsed for real (not a substring guess): an under-sized sentinel
    # lands at-or-below the last error's eviction threshold and its
    # NULL completion silently stays in state
    wm_sec = int(duration_seconds(watermark))

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts"
    )
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    sent_ts = max_ts + _dt.timedelta(seconds=wm_sec + tol_sec + 3600)
    sent = spark.createDataFrame(
        [(-1, "error", sent_ts), (-1, "click", sent_ts)],
        schema=ev.schema,
    )

    with scratch_dir("ssouter") as base:
        if n_splits <= 1:
            src_dir = os.path.join(base, "src")
            ev.unionByName(sent).write.parquet(src_dir)
            stream = spark.readStream.schema(ev.schema).parquet(src_dir)
        else:
            stream = _ordered_split_source(
                spark, ev, ["ts", "event_id"], n_splits, base, tail=sent
            )
        joined = stream_stream_range_join(
            stream, stream, tolerance_us, watermark, join_type
        )
        out = _run_to_parquet_sink(spark, joined, "ssouter")
    # sentinels: the pair they form with each other, and (fullOuter
    # only) any null-completions of their never-matching exploded
    # copies — all carry a -1 id on the side that emitted them
    return out.filter(
        (F.coalesce(F.col("error_id"), F.lit(0)) != -1)
        & (F.coalesce(F.col("click_id"), F.lit(0)) != -1)
    )


def quarantine_reason() -> F.Column:
    """First-failing-rule disposition for the streaming quarantine
    split (NULL = row passes).  Rule order is the contract: a row
    violating several rules reports the FIRST, deterministically, so
    the quarantine sink is replayable and oracle-checkable."""
    return (
        F.when(
            ~F.col("value").between(0.0, 400.0), F.lit("value_range(0,400)")
        )
        .when(
            (F.col("event_type") == "purchase") & (F.col("value") < 10.0),
            F.lit("purchase_value_min(10)"),
        )
        .otherwise(F.lit(None).cast("string"))
    )


def run_streaming_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter-queue pattern over the event stream: every
    micro-batch splits on the declarative row contract
    (``quarantine_reason``) — passing rows land in the MAIN sink,
    failing rows in the QUARANTINE sink tagged with the first failing
    rule — and the run reconciles main + quarantine == source row
    count, refusing loudly on any leak.  This is the streaming twin of
    operators/quality.py's batch expectations: the batch report SAYS
    which rules fail; the split ROUTES the failures so the main table
    stays contract-clean while nothing is silently dropped (the
    quarantine is replayable input for repair-and-reingest).

    Scale shape: one scan per micro-batch evaluated twice against a
    codegen'd CASE — no shuffle, no state; both sinks are distributed
    parquet appends.  Returns the quarantined rows
    (event_id, event_type, value, reason)."""
    stream = events_stream(spark, sf_dir, with_watermark=None).withColumn(
        "reason", quarantine_reason()
    )

    # the quarantine outlives this call (the returned DataFrame reads it
    # lazily); the main sink and the checkpoint are dead once it ends
    with scratch_dir("quarantine", keep=("quarantine",)) as base:
        main_glob = os.path.join(base, "main", "batch_*")
        quar_glob = os.path.join(base, "quarantine", "batch_*")

        def _split(batch_df: DataFrame, batch_id: int) -> None:
            # per-batch subdirectory + overwrite makes a foreachBatch
            # RETRY idempotent: a replayed batch rewrites its own
            # directory instead of double-appending, so the count
            # reconciliation below stays a true LEAK detector (a plain
            # append would turn any transient executor failure into a
            # hard RuntimeError)
            leaf = f"batch_{batch_id}"
            batch_df.filter(F.col("reason").isNull()).drop("reason").write.mode(
                "overwrite"
            ).parquet(os.path.join(base, "main", leaf))
            batch_df.filter(F.col("reason").isNotNull()).select(
                "event_id", "event_type", "value", "reason"
            ).write.mode("overwrite").parquet(os.path.join(base, "quarantine", leaf))

        run_available_now(
            spark, stream.writeStream.foreachBatch(_split), base, STREAM_TIMEOUT_SEC
        )
        n_src = load_table(spark, sf_dir, "events").count()
        n_main = spark.read.parquet(main_glob).count()
        n_quar = spark.read.parquet(quar_glob).count()
        if n_main + n_quar != n_src:
            raise RuntimeError(
                f"quarantine split leaked rows: main {n_main} + quarantine "
                f"{n_quar} != source {n_src}"
            )
        return spark.read.parquet(quar_glob)


def run_stream_stream_full_outer_range_join(
    spark: SparkSession,
    sf_dir: str,
    tolerance_us: int = 300_000_000,
    n_splits: int = 1,
) -> DataFrame:
    """FULL OUTER stream-stream interval join — pairs, matchless
    errors AND matchless clicks, completing the interval-join matrix
    (inner / leftOuter / fullOuter all share one bin construction and
    one sentinel-flush mechanism).

    The asymmetry the left-outer form hides: the CLICK side is the
    exploded one (3 bin copies per click = 3 state rows), and Spark
    tracks "has matched" PER STATE ROW — so the raw full-outer sink
    over-emits on the right side in two ways: a matchless click's 3
    copies each emit a NULL completion (3 identical rows for 1 truth),
    and a MATCHED click's non-matching bin copies (a pair only ever
    forms on one of the 3 bins) emit spurious NULL completions.  Both
    repairs are exact, deterministic, batch-side reads of the sink:
    dedupe the (NULL, click) rows per click, then anti-join them
    against the clicks that appear in any pair.  The error side needs
    neither (single state row per error).  At 100 TB both repairs are
    a shuffle of the null-completion slice keyed by click id —
    proportional to matchless clicks, not to pairs.

    Oracle: the plain batch FULL JOIN — parity proves both sides'
    completions are complete AND that the repair removes exactly the
    over-emission, nothing else."""
    raw = run_stream_stream_outer_range_join(
        spark,
        sf_dir,
        tolerance_us=tolerance_us,
        n_splits=n_splits,
        join_type="fullOuter",
    )
    raw = raw.localCheckpoint(eager=False)  # three reads below, one sink scan
    pairs = raw.filter(
        F.col("error_id").isNotNull() & F.col("click_id").isNotNull()
    )
    e_null_completions = raw.filter(F.col("click_id").isNull())
    c_null_completions = (
        raw.filter(F.col("error_id").isNull())
        .select("error_id", "click_id", "gap_us")
        .dropDuplicates(["click_id"])
        .join(
            pairs.select("click_id").distinct(),
            "click_id",
            "left_anti",
        )
        .select("error_id", "click_id", "gap_us")
    )
    return pairs.unionByName(e_null_completions).unionByName(
        c_null_completions
    )

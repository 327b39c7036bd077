#!/usr/bin/env python
"""Measure the streaming micro-batch machinery floor (VERDICT r10 #2).

The four slowest bench queries are availableNow streaming queries that
have carried an ASSERTED "micro-batch machinery floor ~2-4 s"
justification since r5.  This tool makes the floor a MEASUREMENT: it
times the same execution scaffolds the real queries use, with the work
stripped to (near) nothing, so each query's bench time decomposes as
``floor(machinery, n_batches) + real work``:

- ``empty_sink``     : 1 zero-row file -> parquet sink availableNow
                       (the _run_to_parquet_sink scaffold at its
                       absolute minimum: stream setup + WAL + 1 batch).
- ``foreach_noop_4`` : 4 one-row files, maxFilesPerTrigger=1,
                       foreachBatch(no-op) + checkpoint — the
                       heavy-hitters / foreach-merge scaffold shape.
- ``stateful_4``     : 4 one-row files through applyInPandasWithState
                       with a trivial passthrough state fn — the
                       sessionize scaffold shape (state store + RocksDB
                       -less HDFS state machinery included).
- ``join_sink``      : two 1-row file streams through a watermarked
                       stream-stream equi-join into a parquet sink —
                       the range-join scaffold shape (two sources, join
                       state store, sink).

Each scaffold is timed min-of-N in ONE warm SparkSession (the bench's
measurement convention).  Output: one JSON line for BASELINE.md.

Usage: python tools/streaming_floor.py [--repeats 3]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from aws_pandas_etl_spark.session import get_spark, scoped_conf  # noqa: E402
from aws_pandas_etl_spark.streaming.events_stream import (  # noqa: E402
    run_available_now,
    scratch_dir,
)
from aws_pandas_etl_spark.streaming.stateful import ROCKSDB_STATE_STORE  # noqa: E402

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.DoubleType()),
    ]
)


def _mk_src(spark, src: str, n_files: int, rows_per_file: int) -> str:
    os.makedirs(src)
    base = time.time()
    for i in range(max(n_files, 1)):
        rows = [
            (int(j), None, float(j))
            for j in range(rows_per_file)
        ]
        df = spark.createDataFrame(rows, SCHEMA).withColumn(
            "ts", F.timestamp_seconds(F.lit(1_700_000_000 + F.col("k")))
        )
        path = os.path.join(src, f"batch_{i}.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(path + ".tmp")
        part = [
            f
            for f in os.listdir(path + ".tmp")
            if f.endswith(".parquet")
        ][0]
        os.rename(os.path.join(path + ".tmp", part), path)
        shutil.rmtree(path + ".tmp")
        os.utime(path, (base + i, base + i))
    return src


def _timed_run(spark, writer, base: str) -> float:
    """Wall time of the package's availableNow runner over ``writer``
    — the scaffold every streaming query runs."""
    t0 = time.monotonic()
    run_available_now(spark, writer, base, 120)
    return time.monotonic() - t0


def floor_empty_sink(spark) -> float:
    with scratch_dir("floor") as base:
        src = _mk_src(spark, os.path.join(base, "src"), 1, 0)
        writer = (
            spark.readStream.schema(SCHEMA)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", os.path.join(base, "out"))
            .outputMode("append")
        )
        return _timed_run(spark, writer, base)


def floor_foreach_noop(spark, n_batches: int = 4) -> float:
    def _apply(batch_df, batch_id):
        batch_df.count()  # materialize the batch, do nothing with it

    with scratch_dir("floor") as base:
        src = _mk_src(spark, os.path.join(base, "src"), n_batches, 1)
        writer = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(_apply)
        )
        return _timed_run(spark, writer, base)


def floor_stateful(spark, n_batches: int = 4) -> float:
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "k bigint, n bigint"
    state_schema = "n bigint"

    def _fn(key, pdfs, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"k": [key[0]], "n": [n]})

    with scratch_dir("floor") as base:
        src = _mk_src(spark, os.path.join(base, "src"), n_batches, 1)
        writer = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .groupBy("k")
            .applyInPandasWithState(
                _fn,
                out_schema,
                state_schema,
                "update",
                GroupStateTimeout.NoTimeout,
            )
            .writeStream.format("memory")
            .queryName(os.path.basename(base))
            .outputMode("update")
        )
        return _timed_run(spark, writer, base)


def floor_join_sink(spark) -> float:
    def _side(src, kk, tt):
        return (
            spark.readStream.schema(SCHEMA)
            .parquet(src)
            .select(F.col("k").alias(kk), F.col("ts").alias(tt))
            .withWatermark(tt, "10 minutes")
        )

    with scratch_dir("floor") as base:
        left = _side(_mk_src(spark, os.path.join(base, "l"), 1, 1), "lk", "lts")
        right = _side(_mk_src(spark, os.path.join(base, "r"), 1, 1), "rk", "rts")
        joined = left.join(
            right,
            (F.col("lk") == F.col("rk"))
            & (F.col("rts") >= F.col("lts") - F.expr("interval 5 minutes"))
            & (F.col("rts") <= F.col("lts") + F.expr("interval 5 minutes")),
        )
        writer = (
            joined.writeStream.format("parquet")
            .option("path", os.path.join(base, "out"))
            .outputMode("append")
        )
        return _timed_run(spark, writer, base)


# which floor scaffold each slow streaming query's machinery matches
DECOMPOSE = {
    "streaming_range_join_errors_clicks": "join_sink",     # 2 sources + join state + parquet sink, 1 batch/side
    "streaming_foreach_batch_merge": "foreach_noop_4",     # 4 foreachBatch rounds + checkpoint
    "streaming_partitioned_merge": "foreach_noop_4",       # same scaffold; work = 4 pruned merges + dynamic-overwrite commits
    "streaming_heavy_hitters": "foreach_noop_4",           # 4 foreachBatch rounds + checkpoint
    "streaming_sessionize_stateful": "stateful_1",         # state store, single availableNow batch
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument(
        "--decompose",
        action="store_true",
        help="also time the four slow streaming queries at sf0.1 in the "
        "same session and print floor/total/work per query",
    )
    ap.add_argument(
        "--state-store-ab",
        action="store_true",
        help="A/B the stateful scaffolds and the two stateful sf0.1 "
        "queries under the default (HDFS-backed) vs RocksDB state "
        "store provider (VERDICT r11 #5)",
    )
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    spark = get_spark(app_name="streaming_floor")
    # one throwaway run to absorb first-stream session warmup (class
    # loading, state-store init) — the real queries run in a warm bench
    floor_empty_sink(spark)

    floors = {}
    for name, fn in (
        ("empty_sink", floor_empty_sink),
        ("foreach_noop_4", floor_foreach_noop),
        ("stateful_4", floor_stateful),
        ("stateful_1", lambda s: floor_stateful(s, n_batches=1)),
        ("join_sink", floor_join_sink),
    ):
        samples = [fn(spark) for _ in range(args.repeats)]
        floors[name] = round(min(samples), 2)
        print(f"# {name}: {floors[name]} s (samples {samples})", file=sys.stderr)

    out = {"metric": "streaming_floor_sec", "floors": floors}

    if args.state_store_ab:
        from aws_pandas_etl_spark.plans import queries as Q

        ab = {}
        for label, confs in (("hdfs_default", {}), ("rocksdb", ROCKSDB_STATE_STORE)):
            with scoped_conf(spark, confs):
                row = {}
                for name, fn in (
                    ("stateful_4", floor_stateful),
                    ("stateful_1", lambda s: floor_stateful(s, n_batches=1)),
                    ("join_sink", floor_join_sink),
                ):
                    samples = [fn(spark) for _ in range(args.repeats)]
                    row[name] = round(min(samples), 2)
                for qname in (
                    "streaming_sessionize_stateful",
                    "streaming_heavy_hitters",
                    "streaming_range_join_errors_clicks",
                ):
                    samples = []
                    for _ in range(max(2, args.repeats - 1)):
                        t0 = time.monotonic()
                        Q.QUERIES[qname](spark, args.sf).write.format(
                            "noop"
                        ).mode("overwrite").save()
                        samples.append(time.monotonic() - t0)
                    row[qname] = round(min(samples), 2)
                ab[label] = row
                print(f"# state_store {label}: {row}", file=sys.stderr)
        out["state_store_ab"] = ab

    if args.decompose:
        from aws_pandas_etl_spark.plans import queries as Q

        decomp = {}
        for qname, fkey in DECOMPOSE.items():
            samples = []
            for _ in range(max(2, args.repeats - 1)):
                t0 = time.monotonic()
                Q.QUERIES[qname](spark, args.sf).write.format(
                    "noop"
                ).mode("overwrite").save()
                samples.append(time.monotonic() - t0)
            total = round(min(samples), 2)
            decomp[qname] = {
                "floor_key": fkey,
                "floor": floors[fkey],
                "total": total,
                "work": round(total - floors[fkey], 2),
            }
            print(f"# {qname}: {decomp[qname]}", file=sys.stderr)
        out["decompose"] = decomp

    print(json.dumps(out))


if __name__ == "__main__":
    main()

"""Custom stateful streaming operator: per-key EWMA.

``applyInPandasWithState`` over a user-keyed event stream: per-user
state carries (running ewma, events seen) across micro-batches; each
batch folds its rows (sorted by ts, event_id) into the recurrence
s = alpha*x + (1-alpha)*s and emits the running value — the streaming
twin of ``operators.timeseries.ewma_last_per_key`` (tests assert the
bounded-backlog run agrees with the batch operator exactly; alpha=1/2
keeps the float64 recurrence bit-reproducible).

Emit-partial/compact-later: a key spanning micro-batches emits one
running row per batch; the final value is the row with the largest
n_events per key (the same fragment-merge contract as the stateful
sessionizer).  State is two numbers per key — on a cluster the state
store shuffles by key and RocksDB handles large keyspaces; a
watermark timeout would evict idle keys on an unbounded stream.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from aws_pandas_etl_spark.session import scoped_conf
from aws_pandas_etl_spark.streaming.events_stream import events_stream

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, ewma double"
STATE_SCHEMA = "s double, n bigint"

ALPHA = 0.5  # power-of-two weights -> bit-reproducible recurrence


def _fold_ewma(
    user_id, pdfs: Iterator[pd.DataFrame], s: float | None, n: int
) -> tuple[pd.DataFrame, float, int]:
    """The per-key recurrence shared by BOTH stateful APIs: replay the
    batch's events in (ts, event_id) order into s = alpha*x +
    (1-alpha)*s, starting from the carried (s, n).  Returns (the
    key's running row, carried s, carried n)."""
    events = pd.concat(list(pdfs), ignore_index=True)
    events = events.sort_values(["ts", "event_id"])
    for x in events["value"].to_numpy():
        x = float(x)
        s = x if s is None else ALPHA * x + (1.0 - ALPHA) * s
        n += 1
    return pd.DataFrame({"user_id": [user_id], "n_events": [n], "ewma": [s]}), s, n


def _ewma_group(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    carried = state.get if state.exists else (None, 0)
    out, s, n = _fold_ewma(user_id, pdfs, *carried)
    state.update((s, n))
    yield out


def ewma_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = events_stream(spark, sf_dir, with_watermark=None).select(
        "user_id", "ts", "event_id", "value"
    )
    return stream.groupBy("user_id").applyInPandasWithState(
        _ewma_group,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _final_per_key(frags: DataFrame) -> DataFrame:
    """Compact running fragments to the final row per key.  Arg-max by
    struct ordering: n is strictly increasing across a key's fragments,
    so max(struct(n, ewma)) IS the final state — one aggregation, no
    self-join."""
    latest = frags.groupBy("user_id").agg(
        F.max(F.struct("n_events", "ewma")).alias("___m")
    )
    return latest.select(
        "user_id",
        F.col("___m.n_events").alias("n_events"),
        F.round(F.col("___m.ewma"), 6).alias("ewma"),
    )


def run_ewma_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute via availableNow into a parquet sink, then compact
    fragments to the final row per key (``_final_per_key``)."""
    from aws_pandas_etl_spark.streaming.events_stream import _run_to_parquet_sink

    return _final_per_key(
        _run_to_parquet_sink(spark, ewma_stream(spark, sf_dir), "ewma")
    )


# ---------------------------------------------------------------------------
# transformWithState twin — the Spark 4 arbitrary-state API
# ---------------------------------------------------------------------------

class _EwmaProcessor:
    """``StatefulProcessor`` running the per-key recurrence
    (``_fold_ewma``, shared with ``_ewma_group``) — the migration target
    Spark 4 recommends over ``applyInPandasWithState`` (typed state
    handles, timers, RocksDB-only).  State is one ValueState of (s, n),
    so both streaming twins and the batch operator share one oracle at
    alpha = 1/2 (power-of-two weights, bit-reproducible)."""

    def init(self, handle) -> None:  # StatefulProcessorHandle
        self._state = handle.getValueState("ewma", STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues):
        (user_id,) = key
        carried = self._state.get() if self._state.exists() else (None, 0)
        out, s, n = _fold_ewma(user_id, rows, *carried)
        self._state.update((s, n))
        yield out

    def close(self) -> None:
        pass


def tws_available() -> bool:
    """transformWithState's Python worker speaks protobuf to the JVM
    state server (pyspark.sql.streaming.proto) — without the
    ``protobuf`` package the driver worker crashes AFTER the query
    starts, so the capability must be probed up front."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def ewma_stream_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    if not tws_available():
        raise RuntimeError(
            "transformWithStateInPandas needs the 'protobuf' package "
            "(pyspark.sql.streaming.proto.StateMessage_pb2) — not "
            "installed in this environment; use ewma_stream (the "
            "applyInPandasWithState twin, identical semantics) instead"
        )

    # subclassing at call time keeps the module importable on PySpark
    # versions without the API (the class body above is plain Python)
    proc = type("_EwmaTws", (_EwmaProcessor, StatefulProcessor), {})()
    stream = events_stream(spark, sf_dir, with_watermark=None).select(
        "user_id", "ts", "event_id", "value"
    )
    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=proc,
        outputStructType=OUTPUT_SCHEMA,
        outputMode="append",
        timeMode="none",
    )


# transformWithState is built on RocksDB column families, so its runs
# need the RocksDB state-store provider.  The conf is read at query
# START, so scoping it (session.scoped_conf) around an availableNow run
# that starts and finishes inside the scope works; the engine's other
# stateful queries keep the HDFS-backed default that measured faster at
# harness state sizes (BASELINE.md r12 A/B).
ROCKSDB_STATE_STORE = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
}


def run_ewma_stream_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow execution + fragment compaction, exactly like
    ``run_ewma_stream``; RocksDB provider scoped to the run."""
    from aws_pandas_etl_spark.streaming.events_stream import _run_to_parquet_sink

    with scoped_conf(spark, ROCKSDB_STATE_STORE):
        frags = _run_to_parquet_sink(spark, ewma_stream_tws(spark, sf_dir), "ewma_tws")
    return _final_per_key(frags)

"""Custom stateful streaming operators: per-user folds carried across
micro-batches.

An operator is a ``KeyedFold``: its fold, the stream columns it reads
and its two schemas.  This module does the rest once for every
operator: it sorts each user's micro-batch rows by (ts, event_id),
feeds them to the fold with the state carried from earlier batches,
and runs the stream into a parquet sink, under either of Spark's
arbitrary-state APIs:

- ``run_groupstate`` — ``applyInPandasWithState`` (GroupState);
- ``run_tws`` — ``transformWithStateInPandas``, the Spark 4
  ``StatefulProcessor`` API Spark recommends over it (typed state
  handles, timers, RocksDB column families).

Both adapters call the same fold on the same sorted rows, so each
operator's batch twin is the oracle for both forms: ``EWMA`` for
``operators.timeseries.ewma_last_per_key`` (alpha = 1/2 keeps the
float64 recurrence bit-reproducible) and ``SESSIONS`` for the batch
lag+cumsum ``sessionize_events`` query (30-min inactivity gap).

Emit-partial/compact-later: a user spanning micro-batches emits one
fragment per batch — one running row for the EWMA (``latest_ewma``
keeps the final one), one row per session touched for the
sessionizer (downstream merges fragments by (user_id, session_no)).
State is a few numbers per user; on a cluster the state store
shuffles by user and RocksDB handles large keyspaces; a watermark
timeout would evict idle users on an unbounded stream.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from aws_pandas_etl_spark.session import scoped_conf
from aws_pandas_etl_spark.streaming.events_stream import (
    _run_to_parquet_sink,
    events_stream,
)

KEY = "user_id"


@dataclass(frozen=True)
class KeyedFold:
    """``fold(user_id, events, state)`` replays one user's micro-batch
    ``events`` (sorted by ts, event_id) from the carried ``state``
    tuple (None for a new user) and returns (output rows, new state)."""

    name: str  # state variable and sink scratch prefix
    columns: tuple[str, ...]
    output_schema: str
    state_schema: str
    fold: Callable[[int, pd.DataFrame, tuple | None], tuple[list[tuple], tuple]]


ALPHA = 0.5  # power-of-two weights -> bit-reproducible recurrence


def _ewma_fold(user_id, events: pd.DataFrame, state):
    s, n = (None, 0) if state is None else state
    for x in events["value"].to_numpy():
        x = float(x)
        s = x if s is None else ALPHA * x + (1.0 - ALPHA) * s
        n += 1
    return [(user_id, n, s)], (s, n)


EWMA = KeyedFold(
    "ewma",
    (KEY, "ts", "event_id", "value"),
    "user_id bigint, n_events bigint, ewma double",
    "s double, n bigint",
    _ewma_fold,
)

GAP_US = 1_800_000_000  # 30 minutes, matches the batch query


def _session_fold(user_id, events: pd.DataFrame, state):
    last_ts_us, session_no = (None, 0) if state is None else state
    out: list[tuple] = []
    cur: dict | None = None
    for ts in events["ts"]:
        ts_us = int(ts.value // 1000)  # pandas ns -> µs
        if last_ts_us is None or ts_us - last_ts_us > GAP_US:
            if cur is not None:
                out.append((user_id, cur["no"], cur["n"], cur["start"], cur["end"]))
            session_no += 1
            cur = {"no": session_no, "n": 0, "start": ts, "end": ts}
        elif cur is None:
            # continuing a session carried in state from a previous
            # micro-batch: open a new FRAGMENT under the same
            # session_no (downstream merges fragments by key)
            cur = {"no": session_no, "n": 0, "start": ts, "end": ts}
        cur["n"] += 1
        cur["end"] = ts
        last_ts_us = ts_us
    if cur is not None:
        out.append((user_id, cur["no"], cur["n"], cur["start"], cur["end"]))
    return out, (last_ts_us, session_no)


SESSIONS = KeyedFold(
    "sessions",
    (KEY, "ts", "event_id"),
    "user_id bigint, session_no bigint, n_events bigint, "
    "session_start timestamp, session_end timestamp",
    "last_ts_us bigint, session_no bigint",
    _session_fold,
)


def _replay(
    op: KeyedFold, key: tuple, pdfs: Iterator[pd.DataFrame], state: tuple | None
) -> tuple[pd.DataFrame, tuple]:
    (user_id,) = key
    events = pd.concat(list(pdfs), ignore_index=True).sort_values(["ts", "event_id"])
    rows, state = op.fold(user_id, events, state)
    names = [f.split()[0] for f in op.output_schema.split(",")]
    return pd.DataFrame(rows, columns=names), state


def apply_groupstate(stream: DataFrame, op: KeyedFold) -> DataFrame:
    """``op`` over ``stream`` via ``applyInPandasWithState``."""

    def fn(key, pdfs, state: GroupState) -> Iterator[pd.DataFrame]:
        out, carried = _replay(op, key, pdfs, state.get if state.exists else None)
        state.update(carried)
        yield out

    return stream.select(*op.columns).groupBy(KEY).applyInPandasWithState(
        fn,
        outputStructType=op.output_schema,
        stateStructType=op.state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


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


def apply_tws(stream: DataFrame, op: KeyedFold) -> DataFrame:
    """``op`` over ``stream`` via ``transformWithStateInPandas``; one
    ValueState holds the carried state tuple."""
    if not tws_available():
        raise RuntimeError(
            "transformWithStateInPandas needs the 'protobuf' package "
            "(pyspark.sql.streaming.proto.StateMessage_pb2) — not "
            "installed in this environment; use run_groupstate (the "
            "applyInPandasWithState form, identical semantics) instead"
        )
    # imported here so the module stays importable on PySpark versions
    # without the API
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class Processor(StatefulProcessor):
        def init(self, handle) -> None:  # StatefulProcessorHandle
            self._state = handle.getValueState(op.name, op.state_schema)

        def handleInputRows(self, key, rows, timerValues):
            carried = self._state.get() if self._state.exists() else None
            out, carried = _replay(op, key, rows, carried)
            self._state.update(carried)
            yield out

    return stream.select(*op.columns).groupBy(KEY).transformWithStateInPandas(
        statefulProcessor=Processor(),
        outputStructType=op.output_schema,
        outputMode="append",
        timeMode="none",
    )


def run_groupstate(spark: SparkSession, sf_dir: str, op: KeyedFold) -> DataFrame:
    """availableNow run of ``op`` over the events table into a parquet
    sink (executors write distributed storage; output scales with the
    data, so nothing funnels through the driver); returns the
    fragments."""
    stream = apply_groupstate(events_stream(spark, sf_dir, with_watermark=None), op)
    return _run_to_parquet_sink(spark, stream, op.name)


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


def run_tws(spark: SparkSession, sf_dir: str, op: KeyedFold) -> DataFrame:
    """``run_groupstate`` through ``transformWithStateInPandas``, with
    the RocksDB provider scoped to the run."""
    with scoped_conf(spark, ROCKSDB_STATE_STORE):
        stream = apply_tws(events_stream(spark, sf_dir, with_watermark=None), op)
        return _run_to_parquet_sink(spark, stream, f"{op.name}_tws")


def latest_ewma(frags: DataFrame) -> DataFrame:
    """Compact ``EWMA`` fragments to the final row per user.  Arg-max
    by struct ordering: n is strictly increasing across a user's
    fragments, so max(struct(n, ewma)) IS the final state — one
    aggregation, no self-join."""
    latest = frags.groupBy(KEY).agg(F.max(F.struct("n_events", "ewma")).alias("___m"))
    return latest.select(
        KEY,
        F.col("___m.n_events").alias("n_events"),
        F.round(F.col("___m.ewma"), 6).alias("ewma"),
    )

"""Custom stateful streaming operator: user sessionization.

``applyInPandasWithState`` over a user-keyed event stream: per-user
state carries (last event ts, running session counter) across
micro-batches; a session closes when the inactivity gap exceeds
``gap`` (same 30-min semantics as the batch ``sessionize_events``
query, whose lag+cumsum plan is this operator's bounded-input twin —
tests assert they agree).

Scale posture: state is per-user (bounded, tiny); on a cluster the
state store shuffles by user_id, RocksDB-backed for large keyspaces,
with a watermark-driven timeout (``GroupStateTimeout``) evicting idle
users.  Here ``availableNow`` processes the file backlog in one
incremental pass.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from aws_pandas_etl_spark.streaming.events_stream import events_stream

OUTPUT_SCHEMA = (
    "user_id bigint, session_no bigint, n_events bigint, "
    "session_start timestamp, session_end timestamp"
)
STATE_SCHEMA = "last_ts_us bigint, session_no bigint"

GAP_US = 1_800_000_000  # 30 minutes, matches the batch query


def _fold_sessions(
    user_id,
    events: pd.DataFrame,
    last_ts_us: int | None,
    session_no: int,
) -> tuple[list[tuple], int | None, int]:
    """The per-key sessionization fold shared by BOTH stateful APIs
    (applyInPandasWithState and transformWithStateInPandas run the
    byte-identical replay, so the batch lag+cumsum oracle covers all
    three forms).  Returns (fragment rows, carried last ts µs, carried
    session counter)."""
    out: list[tuple] = []
    cur: dict | None = None
    for ts in events["ts"]:
        ts_us = int(ts.value // 1000)  # pandas ns -> µs
        if last_ts_us is None or ts_us - last_ts_us > GAP_US:
            if cur is not None:
                out.append(
                    (user_id, cur["no"], cur["n"], cur["start"], cur["end"])
                )
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
    return out, last_ts_us, session_no


_OUT_COLUMNS = [
    "user_id", "session_no", "n_events", "session_start", "session_end"
]


def _sessionize_group(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    events = pd.concat(list(pdfs), ignore_index=True)
    events = events.sort_values(["ts", "event_id"])
    if state.exists:
        last_ts_us, session_no = state.get
    else:
        last_ts_us, session_no = None, 0
    out, last_ts_us, session_no = _fold_sessions(
        user_id, events, last_ts_us, session_no
    )
    state.update((last_ts_us, session_no))
    yield pd.DataFrame(out, columns=_OUT_COLUMNS)


def sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the stateful streaming sessionization plan."""
    stream = events_stream(spark, sf_dir, with_watermark=None)
    return stream.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute via availableNow into a memory sink; returns the
    per-session result (emits every session seen in the backlog,
    including still-open ones — matching the batch query's output on
    the same bounded input).

    Multi-batch semantics: a session spanning micro-batches is emitted
    as one fragment per batch (same ``session_no`` carried by state);
    downstream consumers merge fragments by (user_id, session_no) —
    the standard emit-partial/compact-later pattern.  Cross-batch
    state continuity is pinned by tests/test_streaming_multibatch.py.

    Output goes through the parquet sink (executors write distributed
    storage; session count scales with the data, so nothing may funnel
    through the driver)."""
    from aws_pandas_etl_spark.streaming.events_stream import _run_to_parquet_sink

    return _run_to_parquet_sink(spark, sessionize_stream(spark, sf_dir), "sessions")


# ---------------------------------------------------------------------------
# transformWithState twin — the Spark 4 arbitrary-state API
# ---------------------------------------------------------------------------


class _SessionizeProcessor:
    """``StatefulProcessor`` running the identical per-key
    sessionization fold as ``_sessionize_group`` — the migration
    target Spark 4 recommends over ``applyInPandasWithState`` (typed
    state handles, timers for production idle-key eviction, RocksDB
    column families).  Shares ``_fold_sessions`` with the GroupState
    form, so both streaming twins and the batch lag+cumsum query
    verify against ONE oracle."""

    def init(self, handle) -> None:  # StatefulProcessorHandle
        self._state = handle.getValueState("sess", STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues):
        (user_id,) = key
        events = pd.concat(list(rows), ignore_index=True)
        events = events.sort_values(["ts", "event_id"])
        if self._state.exists():
            last_ts_us, session_no = self._state.get()
        else:
            last_ts_us, session_no = None, 0
        out, last_ts_us, session_no = _fold_sessions(
            user_id, events, last_ts_us, session_no
        )
        self._state.update((last_ts_us, session_no))
        yield pd.DataFrame(out, columns=_OUT_COLUMNS)

    def close(self) -> None:
        pass


def sessionize_stream_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    from aws_pandas_etl_spark.streaming.ewma_stream import tws_available

    if not tws_available():
        raise RuntimeError(
            "transformWithStateInPandas needs the 'protobuf' package — "
            "use sessionize_stream (the applyInPandasWithState twin, "
            "identical semantics) instead"
        )
    # subclassing at call time keeps the module importable on PySpark
    # versions without the API
    proc = type("_SessTws", (_SessionizeProcessor, StatefulProcessor), {})()
    stream = events_stream(spark, sf_dir, with_watermark=None)
    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=proc,
        outputStructType=OUTPUT_SCHEMA,
        outputMode="append",
        timeMode="none",
    )


def run_sessionize_stream_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow execution, exactly like ``run_sessionize_stream``.
    transformWithState REQUIRES the RocksDB state-store provider; the
    conf is scoped to this run and restored after (the engine's other
    stateful queries keep the HDFS-backed default that measured faster
    at harness state sizes — BASELINE.md r12 A/B)."""
    from aws_pandas_etl_spark.streaming.events_stream import _run_to_parquet_sink
    from aws_pandas_etl_spark.session import scoped_conf
    from aws_pandas_etl_spark.streaming.ewma_stream import ROCKSDB_STATE_STORE

    with scoped_conf(spark, ROCKSDB_STATE_STORE):
        return _run_to_parquet_sink(
            spark, sessionize_stream_tws(spark, sf_dir), "sessions_tws"
        )

"""Multi-micro-batch state test: the stateful sessionizer must carry
(last_ts, session_no) across micro-batches.  Events are split into 4
time-ordered files streamed with maxFilesPerTrigger=1; per-batch
session fragments, merged by (user, session_no), must reproduce the
batch result exactly.  If state were lost between batches, session
numbering would restart and the merge would disagree."""

import os
import tempfile
import uuid

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from aws_pandas_etl_spark.plans.queries import QUERIES
from aws_pandas_etl_spark.streaming.events_stream import open_events_stream
from aws_pandas_etl_spark.streaming.stateful import (
    EWMA,
    SESSIONS,
    apply_groupstate,
    latest_ewma,
    run_groupstate,
    run_tws,
    tws_available,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def split_events_dir(spark, tmp_path):
    raw = spark.read.parquet(f"{SF}/events.parquet")
    q = raw.withColumn("q", F.ntile(4).over(Window.orderBy("ts")))
    d = str(tmp_path)
    for i in range(1, 5):
        part = f"{d}/part{i}"
        q.filter(F.col("q") == i).drop("q").coalesce(1).write.parquet(part)
        src = next(f for f in os.listdir(part) if f.endswith(".parquet"))
        os.rename(f"{part}/{src}", f"{d}/batch_{i}.parquet")
    return d


def test_session_continues_across_batch_boundary(spark, tmp_path):
    """Regression: a session whose events span two micro-batches (gap
    < 30 min across the file boundary) must CONTINUE — same session_no,
    fragments merging to one session.  (The continuation path once
    crashed with TypeError: cur was never initialized when state
    existed; the fixture-based test missed it because no sf0.001
    session happens to straddle the ntile boundaries.)"""
    import datetime as dt
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    mk = lambda eid, minutes: {
        "event_id": eid, "ts": base + dt.timedelta(minutes=minutes),
        "user_id": 7, "event_type": "click", "value": 1.0, "props": "{}",
    }
    # batch 1: two events 10:00, 10:10; batch 2: 10:20 (continues),
    # then 11:30 (new session after >30min gap)
    batches = [[mk(1, 0), mk(2, 10)], [mk(3, 20), mk(4, 90)]]
    for i, rows in enumerate(batches, 1):
        pdf = pd.DataFrame(rows)
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[ns]")
        pq.write_table(pa.Table.from_pandas(pdf), f"{tmp_path}/batch_{i}.parquet")

    stream = open_events_stream(
        spark, str(tmp_path), "batch_*.parquet", max_files_per_trigger=1
    )
    sess = apply_groupstate(stream, SESSIONS)
    name = f"cont_{uuid.uuid4().hex[:6]}"
    q = (
        sess.writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True).start()
    )
    try:
        assert q.awaitTermination(300)
    finally:
        q.stop()
    merged = {
        (r["user_id"], r["session_no"]): r["n_events"]
        for r in spark.table(name)
        .groupBy("user_id", "session_no")
        .agg(F.sum("n_events").alias("n_events"))
        .collect()
    }
    # session 1 = events 1,2,3 (spans the boundary); session 2 = event 4
    assert merged == {(7, 1): 3, (7, 2): 1}


def test_state_carries_across_micro_batches(spark, split_events_dir):
    stream = open_events_stream(
        spark, split_events_dir, "batch_*.parquet", max_files_per_trigger=1
    )
    sess = apply_groupstate(stream, SESSIONS)
    name = f"mb_{uuid.uuid4().hex[:6]}"
    q = (
        sess.writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True).start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    merged = (
        spark.table(name)
        .groupBy("user_id", "session_no")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.min("session_start").alias("session_start"),
            F.max("session_end").alias("session_end"),
        )
    )
    s = sorted(tuple(r) for r in merged.collect())
    b = sorted(tuple(r) for r in QUERIES["sessionize_events"](spark, SF).collect())
    assert s == b


def test_watermark_drops_late_event(spark, tmp_path):
    """Watermark semantics: a late event must be DROPPED once its
    window's state has been emitted and evicted.  Three files, one per
    trigger: b1 advances the watermark past the 10:00 window's end, b2
    triggers the eviction (watermark updates take effect one batch
    later — a row late-but-within-live-state is still merged, which is
    why b2 exists), b3 delivers the late 10:05 event against closed
    state."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    def us(h, m=0):
        # epoch µs — the fixtures' current physical unit (timestamp[us])
        return int(dt.datetime(2024, 1, 1, h, m).timestamp() * 1_000_000)

    def write(path, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        schema = pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us")),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        )
        pq.write_table(pa.Table.from_pandas(pdf, schema=schema), path)

    d = str(tmp_path)
    # batch 0: events at 10:00 and 12:00 -> watermark advances to 11:50
    write(f"{d}/b1.parquet", [
        (1, us(10), 1, "view", 1.0, "{}"),
        (2, us(12), 1, "view", 1.0, "{}"),
    ])
    # batch 1: on-time event; the 10:00 window (end 11:00 < wm 11:50)
    # is emitted and evicted during this batch
    write(f"{d}/b2.parquet", [(3, us(12, 30), 1, "view", 1.0, "{}")])
    # batch 2: LATE event 10:05 against closed state + on-time 13:00
    write(f"{d}/b3.parquet", [
        (4, us(10, 5), 1, "view", 99.0, "{}"),
        (5, us(13), 1, "view", 1.0, "{}"),
    ])
    # FileStreamSource orders batches by modification time — force it
    now = dt.datetime.now().timestamp()
    for i, fn in enumerate(["b1", "b2", "b3"]):
        os.utime(f"{d}/{fn}.parquet", (now - 120 + i * 60, now - 120 + i * 60))

    name = f"wm_{uuid.uuid4().hex[:8]}"
    stream = open_events_stream(
        spark, d, "b*.parquet", max_files_per_trigger=1
    ).withWatermark("ts", "10 minutes")
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(tempfile.gettempdir(), f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300)
    finally:
        q.stop()
    rows = sorted((r["ws"].hour, r["n"]) for r in spark.table(name).collect())
    # exactly ONE emission of the 10:00 window, with exactly its on-time
    # event — the late 10:05 arrival neither merged nor re-opened it
    assert [w for w in rows if w[0] == 10] == [(10, 1)], f"late event leaked: {rows}"
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert dropped == 1, f"expected 1 watermark-dropped row, got {dropped}"


def test_stream_stream_range_join_pairs_across_batches(
    spark, split_events_dir, tmp_path
):
    """Stream-stream interval join with file-per-trigger sources: an
    error in one micro-batch must still pair with a click arriving in a
    LATER micro-batch (the symmetric hash join buffers both sides in
    state).  The 4 files are time-ordered ntile quarters, so every
    near-boundary pair crosses a batch; result must equal the batch
    range join over the same rows."""
    import uuid as _uuid

    from aws_pandas_etl_spark.operators.relational import range_join_binned
    from aws_pandas_etl_spark.streaming.events_stream import (
        stream_stream_range_join,
    )

    d = split_events_dir

    def _src():
        return open_events_stream(spark, d, "batch_*.parquet", max_files_per_trigger=1)

    joined = stream_stream_range_join(_src(), _src(), tolerance_us=300_000_000)
    name = f"ssrj_{_uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    q.stop()
    got = {
        (r["error_id"], r["click_id"], r["gap_us"])
        for r in spark.table(name).collect()
    }

    from aws_pandas_etl_spark.sources.readers import normalize_ntz_timestamps

    batch = normalize_ntz_timestamps(
        spark.read.option("pathGlobFilter", "batch_*.parquet").parquet(d)
    )
    errors = batch.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("ts").alias("e_ts")
    )
    clicks = batch.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    want = {
        (r["error_id"], r["click_id"], r["gap_us"])
        for r in range_join_binned(
            errors, clicks, "e_ts", "c_ts", tolerance_us=300_000_000
        )
        .select("error_id", "click_id", "gap_us")
        .collect()
    }
    assert got == want and len(want) > 0
    # and at least one pair genuinely crossed a file boundary: the
    # quarters are time-ordered, so pairs with members in different
    # quarter files exist whenever a boundary gap < tolerance exists
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    bounds = [
        spark.read.parquet(f"{d}/batch_{i}.parquet")
        .agg(F.max(ts_us).alias("mx"), F.min(ts_us).alias("mn"))
        .collect()[0]
        for i in range(1, 5)
    ]
    crossing = any(
        bounds[i + 1]["mn"] - bounds[i]["mx"] <= 300_000_000 for i in range(3)
    )
    assert crossing  # the state-carry claim is actually exercised


def test_dedup_within_watermark_drops_then_readmits(spark, tmp_path):
    """dropDuplicatesWithinWatermark semantics end-to-end: a duplicate
    key arriving within the delay is DROPPED; once the watermark
    evicts the key's state, the same key is RE-ADMITTED.  This is the
    bounded-state contract that lets streaming dedup run forever —
    state ∝ late-data horizon, not key history."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    def us(h, m=0):
        return int(dt.datetime(2024, 1, 1, h, m).timestamp() * 1_000_000)

    def write(path, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        schema = pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us")),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        )
        pq.write_table(pa.Table.from_pandas(pdf, schema=schema), path)

    d = str(tmp_path)
    # b1: key 7 first seen 10:00. b2: duplicate at 10:20 (within the
    # 30-min delay -> dropped) plus an event far ahead that pushes the
    # watermark past 10:00+delay. State eviction runs at the END of a
    # batch, after its input was deduped (verified via
    # recentProgress.numRowsRemoved), so b3's 18:00 re-arrival is still
    # deduped against live state while advancing the watermark further;
    # b4's 19:00 re-arrival then lands on evicted state -> readmitted.
    write(f"{d}/b1.parquet", [(7, us(10), 1, "view", 1.0, "{}")])
    write(f"{d}/b2.parquet", [
        (7, us(10, 20), 1, "view", 1.0, "{}"),
        (99, us(14), 1, "view", 1.0, "{}"),
    ])
    write(f"{d}/b3.parquet", [(7, us(18), 1, "view", 1.0, "{}")])
    write(f"{d}/b4.parquet", [
        (7, us(19), 1, "view", 1.0, "{}"),
        (100, us(19, 30), 1, "view", 1.0, "{}"),
    ])
    now = dt.datetime.now().timestamp()
    for i, fn in enumerate(["b1", "b2", "b3", "b4"]):
        os.utime(f"{d}/{fn}.parquet", (now - 240 + i * 60, now - 240 + i * 60))

    stream = (
        open_events_stream(spark, d, "b*.parquet", max_files_per_trigger=1)
        .withWatermark("ts", "30 minutes")
        .select("ts", "event_id")
    )
    out = stream.dropDuplicatesWithinWatermark(["event_id"])
    name = f"ww_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300)
    finally:
        q.stop()
    rows = sorted((r["event_id"], r["ts"].hour) for r in spark.table(name).collect())
    # key 7 emitted at 10:00 and re-admitted at 19:00; the 10:20
    # within-delay dup and the 18:00 pre-eviction arrival are gone
    assert rows == [(7, 10), (7, 19), (99, 14), (100, 19)], rows
    removed = sum(
        p["stateOperators"][0].get("numRowsRemoved", 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert removed >= 2, f"state never evicted: {removed}"  # keys 7 and 99


def test_streaming_resume_from_checkpoint_exactly_once(spark, split_events_dir, tmp_path):
    """Kill-and-resume: stop a file-sink streaming query mid-backlog,
    restart it with the SAME checkpoint + output path, and the final
    output must be exactly the batch result — no lost batch, no
    double-committed batch.  This is the exactly-once contract the
    parquet-sink scaffold relies on (checkpoint WAL + _spark_metadata
    transaction log); a regression here silently corrupts every
    incremental load built on the engine."""
    import time

    d = split_events_dir
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def start():
        stream = open_events_stream(
            spark, d, "batch_*.parquet", max_files_per_trigger=1
        ).select("event_id")
        return (
            stream.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q1 = start()
    # stop as soon as at least one micro-batch has committed
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline:
        if any(p["numInputRows"] > 0 for p in q1.recentProgress):
            break
        time.sleep(0.2)
    q1.stop()
    q1.awaitTermination(60)

    q2 = start()
    assert q2.awaitTermination(300)
    q2.stop()

    got = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    want = sorted(
        r["event_id"]
        for r in spark.read.option("pathGlobFilter", "batch_*.parquet").parquet(d).collect()
    )
    assert got == want  # every event exactly once across the restart


def test_ewma_state_carries_across_batches(spark, split_events_dir):
    """The stateful EWMA must fold micro-batches into the SAME
    recurrence the batch operator computes in one pass: 4 time-ordered
    files at maxFilesPerTrigger=1, final fragment per user must equal
    the batch EWMA bit-for-bit (alpha=1/2).  If state were lost, later
    batches would restart the recurrence and values would diverge."""
    from aws_pandas_etl_spark.operators.timeseries import ewma_last_per_key

    stream = open_events_stream(
        spark, split_events_dir, "batch_*.parquet", max_files_per_trigger=1
    )
    ew = apply_groupstate(stream, EWMA)
    name = f"ewma_{uuid.uuid4().hex[:6]}"
    q = (
        ew.writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True).start()
    )
    try:
        assert q.awaitTermination(300)
    finally:
        q.stop()
    frags = spark.sql(f"SELECT * FROM {name}")
    # at least one user must have fragments from >1 batch, else the
    # test exercises nothing
    multi = frags.groupBy("user_id").count().filter(F.col("count") > 1).count()
    assert multi > 0
    latest = frags.groupBy("user_id").agg(
        F.max(F.struct("n_events", "ewma")).alias("m")
    )
    got = {
        (r["user_id"], r["m"]["n_events"]): r["m"]["ewma"]
        for r in latest.collect()
    }
    batch = spark.read.parquet(f"{SF}/events.parquet")
    want = {
        (r["user_id"], r["n_events"]): r["ewma"]
        for r in ewma_last_per_key(
            batch, "user_id", ["ts", "event_id"], "value", alpha=0.5
        ).collect()
    }
    assert got == want


def test_heavy_hitters_mg_store_survives_driver_crash(spark, tmp_path):
    """The merged Misra-Gries store must survive a driver crash: state
    is batch-versioned JSON snapshots inside the checkpoint dir, each
    foreachBatch derives its pre-merge state from batch b-1's snapshot
    ON DISK, so replaying the failed batch after restart recomputes an
    identical snapshot (idempotent replay = exactly-once).  The crash
    is injected in the worst window — snapshot b published, checkpoint
    WAL commit for b not yet written — and the resumed run must equal
    the exact batch heavy-hitter answer."""
    from aws_pandas_etl_spark.operators.text import heavy_hitters_exact, tokens
    from aws_pandas_etl_spark.sources.readers import load_table
    from aws_pandas_etl_spark.streaming.events_stream import (
        run_streaming_heavy_hitters,
    )
    from pyspark.sql import functions as F

    base = str(tmp_path / "hh")
    with pytest.raises(Exception, match="injected crash"):
        run_streaming_heavy_hitters(
            spark, SF, base_dir=base, cleanup=False, crash_after_batch=1
        )
    # snapshots 0 and 1 are on disk; the WAL has not committed batch 1
    state_dir = os.path.join(base, "ckpt", "mg_state")
    assert sorted(os.listdir(state_dir)) == [
        "mg_state_0.json",
        "mg_state_1.json",
    ]
    resumed = run_streaming_heavy_hitters(
        spark, SF, base_dir=base, cleanup=True
    )
    docs = load_table(spark, SF, "documents")
    toks = docs.select(F.explode(tokens("text")).alias("token"))
    want = heavy_hitters_exact(toks, "token", phi=0.005, counters=400)
    got_rows = sorted(map(tuple, resumed.collect()))
    want_rows = sorted(map(tuple, want.collect()))
    assert got_rows == want_rows and len(got_rows) > 0


def test_heavy_hitters_timeout_preserves_recoverable_state(spark, tmp_path):
    """ADVICE r10: on timeout the runner must NOT rmtree the checkpoint
    and mg_state snapshots (even with cleanup=True) — they are exactly
    the crash-recoverable state a retried run resumes from.  A 1 ms
    deadline forces the timeout deterministically; the retry with a
    real deadline must then finish from the surviving checkpoint and
    match the exact batch answer."""
    from aws_pandas_etl_spark.operators.text import heavy_hitters_exact, tokens
    from aws_pandas_etl_spark.sources.readers import load_table
    from aws_pandas_etl_spark.streaming.events_stream import (
        run_streaming_heavy_hitters,
    )
    from pyspark.sql import functions as F

    base = str(tmp_path / "hh_to")
    with pytest.raises(TimeoutError):
        run_streaming_heavy_hitters(
            spark, SF, base_dir=base, cleanup=True, timeout_sec=0.001
        )
    assert os.path.isdir(os.path.join(base, "ckpt")), (
        "timeout destroyed the checkpoint it should preserve"
    )
    resumed = run_streaming_heavy_hitters(
        spark, SF, base_dir=base, cleanup=True
    )
    docs = load_table(spark, SF, "documents")
    toks = docs.select(F.explode(tokens("text")).alias("token"))
    want = heavy_hitters_exact(toks, "token", phi=0.005, counters=400)
    assert sorted(map(tuple, resumed.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_heavy_hitters_refuses_mismatched_split_reuse(spark, tmp_path):
    """ADVICE r10: a reused base_dir must carry an identity marker
    (sf_dir + n_splits) and a resume against a different corpus or
    split count must fail loudly instead of silently returning results
    computed from the wrong splits."""
    from aws_pandas_etl_spark.streaming.events_stream import (
        run_streaming_heavy_hitters,
    )

    base = str(tmp_path / "hh_id")
    run_streaming_heavy_hitters(
        spark, SF, base_dir=base, cleanup=False, n_splits=4
    ).collect()
    with pytest.raises(RuntimeError, match="different corpus|no identity"):
        run_streaming_heavy_hitters(
            spark, SF, base_dir=base, cleanup=False, n_splits=3
        )


def test_tws_ewma_twin_gate_and_parity(spark):
    """The transformWithState EWMA twin: when the environment carries
    the protobuf dependency its availableNow run must equal the
    applyInPandasWithState twin key-for-key (identical fold order,
    alpha=1/2 bit-reproducible); without it the capability gate must
    refuse LOUDLY before the query starts (the raw API crashes the
    Python driver worker only after start — a hang-shaped failure)."""
    sf = "/root/testdata/sf0.001"
    if not tws_available():
        with pytest.raises(RuntimeError, match="protobuf"):
            run_tws(spark, sf, EWMA)
        return
    tws = {
        r["user_id"]: (r["n_events"], r["ewma"])
        for r in latest_ewma(run_tws(spark, sf, EWMA)).collect()
    }
    old = {
        r["user_id"]: (r["n_events"], r["ewma"])
        for r in latest_ewma(run_groupstate(spark, sf, EWMA)).collect()
    }
    assert tws == old


def test_tws_sessionize_twin_gate_and_parity(spark):
    """The transformWithState sessionizer twin (r14 — completes the
    Spark-4 migration pair for both custom stateful operators): with
    protobuf present its availableNow run must equal the
    applyInPandasWithState sessionizer row-for-row (both run the
    shared ``SESSIONS`` fold); without it the gate refuses loudly
    pre-start."""
    sf = "/root/testdata/sf0.001"
    if not tws_available():
        with pytest.raises(RuntimeError, match="protobuf"):
            run_tws(spark, sf, SESSIONS)
        return
    key = lambda df: sorted(
        (r["user_id"], r["session_no"], r["n_events"],
         r["session_start"], r["session_end"])
        for r in df.collect()
    )
    assert key(run_tws(spark, sf, SESSIONS)) == key(
        run_groupstate(spark, sf, SESSIONS)
    )


def test_outer_range_join_null_completions_are_complete(spark):
    """The left-outer interval join must emit (a) every true pair
    exactly once despite the right-side bin explosion, and (b) exactly
    ONE NULL completion per matchless error INCLUDING the ones near
    the end of input — the tail that stays in state forever without
    the watermark-flush sentinel (and that silently vanished when the
    sentinel filter was pushed below the EventTimeWatermark node;
    this test pins the regression).  Checked against the batch LEFT
    JOIN on the same fixture."""
    from aws_pandas_etl_spark.sources.readers import load_table
    from aws_pandas_etl_spark.streaming.events_stream import (
        run_stream_stream_outer_range_join,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    # n_splits=3: the multi-batch delivery — pairs and completions must
    # survive micro-batch boundaries, not just the single-batch backfill
    got = sorted(
        tuple(r)
        for r in run_stream_stream_outer_range_join(
            spark, sf, n_splits=3
        ).collect()
    )
    ev = load_table(spark, sf, "events")
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("ts").alias("e_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    gap = F.unix_micros(F.col("e_ts")) - F.unix_micros(F.col("c_ts"))
    want = sorted(
        tuple(r)
        for r in e.join(c, F.abs(gap) <= 300_000_000, "left")
        .select("error_id", "click_id", gap.alias("gap_us"))
        .collect()
    )
    assert got == want
    # the tail row specifically: the LATEST error must appear
    last_err = e.orderBy(F.col("e_ts").desc()).first()["error_id"]
    assert any(r[0] == last_err for r in got)


def test_duration_parse_and_outer_join_non_default_watermark(spark):
    """``duration_seconds`` parses Spark interval strings for real
    (ADVICE r13: the old substring guess — 600 if "minute" in spec
    else 7200 — under-sized any non-default watermark), and the outer
    interval join stays COMPLETE under a "3 hours" watermark: under
    the old guess the sentinel's watermark advance landed exactly AT
    the last error's eviction threshold (max_ts + tol), not strictly
    beyond it, so the tail NULL completion could silently stay in
    state — the precise bug the sentinel exists to prevent."""
    from pyspark.sql import functions as F

    from aws_pandas_etl_spark.sources.readers import load_table
    from aws_pandas_etl_spark.streaming.events_stream import (
        duration_seconds,
        run_stream_stream_outer_range_join,
    )

    assert duration_seconds("10 minutes") == 600
    assert duration_seconds("30 seconds") == 30
    assert duration_seconds("3 hours") == 10800
    assert duration_seconds("1 hour 30 minutes") == 5400
    assert duration_seconds("500 milliseconds") == 0.5
    assert duration_seconds("2 days") == 172800
    import pytest

    with pytest.raises(ValueError, match="duration"):
        duration_seconds("a while")
    with pytest.raises(ValueError, match="unit"):
        duration_seconds("3 fortnights")

    sf = "/root/testdata/sf0.001"
    got = sorted(
        tuple(r)
        for r in run_stream_stream_outer_range_join(
            spark, sf, watermark="3 hours"
        ).collect()
    )
    ev = load_table(spark, sf, "events")
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("ts").alias("e_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    gap = F.unix_micros(F.col("e_ts")) - F.unix_micros(F.col("c_ts"))
    want = sorted(
        tuple(r)
        for r in e.join(c, F.abs(gap) <= 300_000_000, "left")
        .select("error_id", "click_id", gap.alias("gap_us"))
        .collect()
    )
    assert got == want


def test_quarantine_split_routes_and_reconciles(spark):
    """The dead-letter split must (a) route every row to exactly one
    sink (main + quarantine == source, enforced by the runner's loud
    reconciliation), (b) tag quarantined rows with the FIRST failing
    rule, and (c) keep the main sink contract-clean — checked row-set
    vs the batch predicate on the same fixture."""
    from pyspark.sql import functions as F

    from aws_pandas_etl_spark.sources.readers import load_table
    from aws_pandas_etl_spark.streaming.events_stream import (
        quarantine_reason,
        run_streaming_quarantine_split,
    )

    sf = "/root/testdata/sf0.001"
    quar = run_streaming_quarantine_split(spark, sf)
    got = sorted(tuple(r) for r in quar.collect())
    ev = load_table(spark, sf, "events").withColumn(
        "reason", quarantine_reason()
    )
    want = sorted(
        tuple(r)
        for r in ev.filter(F.col("reason").isNotNull())
        .select("event_id", "event_type", "value", "reason")
        .collect()
    )
    assert got == want
    assert len(got) > 0, "fixture must exercise the quarantine path"
    # every quarantined row really violates, with first-rule precedence
    for _, etype, value, reason in got:
        if not (0.0 <= value <= 400.0):
            assert reason == "value_range(0,400)"
        else:
            assert etype == "purchase" and value < 10.0
            assert reason == "purchase_value_min(10)"


def test_full_outer_range_join_matches_batch_full_join(spark):
    """The full-outer interval join must equal the batch FULL JOIN —
    including across micro-batch boundaries — which proves the two
    batch-side repairs (dedupe per matchless click, anti-join matched
    clicks) remove exactly the exploded side's per-state-row
    over-emission and nothing else."""
    from pyspark.sql import functions as F

    from aws_pandas_etl_spark.sources.readers import load_table
    from aws_pandas_etl_spark.streaming.events_stream import (
        run_stream_stream_full_outer_range_join,
    )

    from collections import Counter

    sf = "/root/testdata/sf0.001"
    got = Counter(
        tuple(r)
        for r in run_stream_stream_full_outer_range_join(
            spark, sf, n_splits=3
        ).collect()
    )
    ev = load_table(spark, sf, "events")
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("ts").alias("e_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    gap = F.unix_micros(F.col("e_ts")) - F.unix_micros(F.col("c_ts"))
    want = Counter(
        tuple(r)
        for r in e.join(c, F.abs(gap) <= 300_000_000, "full")
        .select("error_id", "click_id", gap.alias("gap_us"))
        .collect()
    )
    assert got == want
    # both unmatched sides must actually be exercised by the fixture
    assert any(r[0] is None for r in got), "no matchless clicks at sf0.001"
    assert any(r[1] is None for r in got), "no matchless errors at sf0.001"


def test_psi_grid_clamped_outlier_lands_in_overflow(spark):
    """r15 verdict #5: the PSI bin grid is bounded BY CONSTRUCTION —
    an adversarial/corrupt value far outside the reference half's
    range lands in the overflow bin instead of minting a new grid row,
    and a pre-reference value lands in underflow."""
    import datetime as dt

    from aws_pandas_etl_spark.operators.timeseries import psi_clamped_bins

    nbins = 4
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # reference half (t < mid): values span [0, 100]
    for i, v in enumerate([0.0, 25.0, 50.0, 75.0, 100.0]):
        rows.append((i, t0 + dt.timedelta(hours=i), "a", v))
    # current half: normal values + garbage (1e308, -1e9)
    for i, v in enumerate([10.0, 99.0, 1e308, -1e9, 3.5e7]):
        rows.append((100 + i, t0 + dt.timedelta(hours=10 + i), "a", v))
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, event_type string, value double"
    )
    out = psi_clamped_bins(ev, nbins).collect()
    bins = {r["bin"] for r in out}
    assert bins <= set(range(-1, nbins + 1)), bins  # grid never grows
    cur = {r["event_id"]: r["bin"] for r in out if r["event_id"] >= 100}
    assert cur[102] == nbins  # 1e308 -> overflow
    assert cur[104] == nbins  # 3.5e7 -> overflow
    assert cur[103] == -1  # -1e9 -> underflow
    assert cur[100] == 0 and cur[101] == 3  # in-range values bin normally
    # reference max (value == vmax) takes the overflow edge by the
    # half-open [vmin, vmax) convention — documented, engine-agnostic
    ref = {r["event_id"]: r["bin"] for r in out if r["event_id"] < 100}
    assert ref[4] == nbins
    # the state grid is bounded at |types| x (nbins + 2) regardless of
    # how many distinct garbage values arrive
    assert len({(r["event_type"], r["bin"]) for r in out}) <= 1 * (nbins + 2)


def test_tws_entries_record_resolved_state_api(spark):
    """r15 verdict #2: every green row for a TWS twin must be
    auditable about WHICH state API it certified.  The registered
    queries carry a state_api literal column matching the environment
    capability, and their oracles embed the same constant — so the
    driver's value hash covers the certification path itself."""
    from aws_pandas_etl_spark.plans.queries import (
        ORACLES,
        QUERIES,
        TWS_STATE_API,
    )
    expected = "tws" if tws_available() else "groupstate_fallback"
    assert TWS_STATE_API == expected
    for name in ("streaming_ewma_per_user_tws", "streaming_sessionize_tws"):
        df = QUERIES[name](spark, "/root/testdata/sf0.001")
        assert "state_api" in df.columns, name
        vals = {r["state_api"] for r in df.select("state_api").distinct().collect()}
        assert vals == {expected}, (name, vals)
        assert f"'{expected}' AS state_api" in ORACLES[name], name


def test_foreach_batch_merge_failure_leaves_no_scratch(spark, tmp_path, monkeypatch):
    """A CDC run whose merge fails must not leave its per-call scratch
    (``fbmerge_<hex>/{src,ckpt,target}``) in the temp dir: the runner
    removes it on every exit path, not only after a clean finish."""
    from aws_pandas_etl_spark.sources import sinks
    from aws_pandas_etl_spark.streaming.events_stream import run_foreach_batch_merge

    def failing_merge(*a, **kw):
        raise RuntimeError("injected merge failure")

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(sinks, "merge_load", failing_merge)
    with pytest.raises(Exception, match="injected merge failure"):
        run_foreach_batch_merge(spark, SF, n_splits=2, timeout_sec=120)
    assert not [n for n in os.listdir(tmp_path) if n.startswith("fbmerge_")]


def test_parquet_sink_reads_back_empty_results_with_the_declared_schema(
    spark, tmp_path
):
    """A streaming run whose committed batch holds zero rows, and one
    whose source held no file at all, both read back as 0 rows with
    the stream's own schema — not as a schema-inference error."""
    from aws_pandas_etl_spark.streaming.events_stream import (
        _run_to_parquet_sink,
    )

    none_kept = open_events_stream(spark, SF).filter(F.col("value") < -1e18)
    back = _run_to_parquet_sink(spark, none_kept, "emptybatch")
    assert back.count() == 0
    assert back.schema.fieldNames() == none_kept.schema.fieldNames()

    src = tmp_path / "src"
    src.mkdir()
    no_files = spark.readStream.schema("k bigint, v string").parquet(str(src))
    back = _run_to_parquet_sink(spark, no_files, "emptysrc")
    assert back.count() == 0
    assert back.schema.simpleString() == "struct<k:bigint,v:string>"

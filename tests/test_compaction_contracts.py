"""Compaction contracts (r15): batched-layout compaction preserves the
idempotent-append manifest, the _COMPACTING marker excludes concurrent
writers, and the stray rescue saves in-flight rows instead of silently
deleting them with the superseded copy."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aws_pandas_etl_spark.sources.sinks import (
    append_load,
    clear_compaction_marker,
    compact_table,
    compaction_in_progress,
    delete_load,
    idempotent_append_load,
    merge_load,
    overwrite_load,
    overwrite_partitions_load,
    read_batched_target,
)


def _mkbatched(spark, p, n_batches=3, rows=1000, parts=8):
    for b in range(n_batches):
        df = spark.range(b * rows, (b + 1) * rows).selectExpr(
            "id", "id % 5 AS v"
        ).repartition(parts)
        idempotent_append_load(df, p, batch_id=f"b{b}")


def test_batched_target_compacts_not_silently_skipped(spark, tmp_path):
    """An idempotent_append_load target (batch-<id> subdirs) must never
    report "already compact" (0, 0) while holding many small files —
    the r14 silent-no-op class, closed for Hive layouts then, closed
    for the batched layout now."""
    p = str(tmp_path / "t")
    _mkbatched(spark, p)  # 3 batches x 8 files
    before, after = compact_table(spark, p, target_file_mb=512)
    assert before == 24 and after == 1
    back = read_batched_target(spark, p)
    assert back.count() == 3000
    assert back.agg(F.sum("id")).collect()[0][0] == sum(range(3000))


def test_batched_compaction_preserves_redelivery_noop(spark, tmp_path):
    """The idempotence contract survives compaction: redelivering a
    batch id whose data was folded into the compacted dir is STILL a
    no-op (tombstone dirs keep the manifest), and a repeat compaction
    is idempotent."""
    p = str(tmp_path / "t")
    _mkbatched(spark, p)
    compact_table(spark, p, target_file_mb=512)
    redelivered = spark.range(0, 1000).selectExpr("id", "id % 5 AS v")
    total, applied = idempotent_append_load(redelivered, p, batch_id="b1")
    assert applied is False and total == 3000
    # tombstone dirs still stand for every original batch id
    for b in range(3):
        assert os.path.isdir(os.path.join(p, f"batch-b{b}"))
    # second compaction: one data-bearing dir, already at target count
    assert compact_table(spark, p, target_file_mb=512) == (1, 1)
    # a genuinely NEW batch id still applies, and the next compaction
    # folds it in without resurrecting compacted rows
    total, applied = idempotent_append_load(
        spark.range(3000, 3500).selectExpr("id", "id % 5 AS v"), p, "b3"
    )
    assert applied is True and total == 3500
    compact_table(spark, p, target_file_mb=512)
    assert read_batched_target(spark, p).count() == 3500


def test_compacting_marker_refuses_writers(spark, tmp_path):
    """Single-writer contract: every incremental writer refuses loudly
    while the _COMPACTING marker stands, and clear_compaction_marker
    is the explicit operator escape."""
    p = str(tmp_path / "t")
    df = spark.range(100).selectExpr("id", "id % 3 AS v")
    df.write.parquet(p)
    open(os.path.join(p, "_COMPACTING"), "w").close()
    assert compaction_in_progress(spark, p)
    with pytest.raises(IOError, match="_COMPACTING"):
        append_load(df, p)
    with pytest.raises(IOError, match="_COMPACTING"):
        idempotent_append_load(df, p, "b0")
    with pytest.raises(IOError, match="_COMPACTING"):
        merge_load(df, p, keys=["id"], order_col="v")
    with pytest.raises(IOError, match="_COMPACTING"):
        delete_load(spark, p, df.select("id").limit(1), ["id"])
    with pytest.raises(IOError, match="_COMPACTING"):
        overwrite_partitions_load(df, p, ["v"])
    with pytest.raises(IOError, match="_COMPACTING"):
        overwrite_load(df, p)
    # a second compactor also refuses (one compaction at a time)
    with pytest.raises(IOError, match="clear_compaction_marker"):
        compact_table(spark, p)
    assert clear_compaction_marker(spark, p) is True
    assert not compaction_in_progress(spark, p)
    append_load(df, p)  # writers proceed once released
    assert spark.read.parquet(p).count() == 200


def test_marker_released_on_success(spark, tmp_path):
    p = str(tmp_path / "t")
    spark.range(1000).repartition(16).write.parquet(p)
    compact_table(spark, p, target_file_mb=512)
    assert not compaction_in_progress(spark, p)
    # mixed-layout refusal also leaves no marker behind
    os.makedirs(os.path.join(p, "bkt=0"), exist_ok=True)
    import shutil

    part = next(f for f in os.listdir(p) if f.startswith("part-"))
    shutil.copy(os.path.join(p, part), os.path.join(p, "bkt=0", part))
    with pytest.raises(ValueError, match="mixes"):
        compact_table(spark, p)
    assert not compaction_in_progress(spark, p)


def test_flat_stray_rescue_saves_inflight_rows(spark, tmp_path):
    """A file landed between the snapshot and the swap (in-flight
    writer that cleared the marker check before the marker appeared)
    must survive the compaction, not ride into the deleted copy."""
    p = str(tmp_path / "t")
    spark.range(1000).selectExpr("id").repartition(16).write.parquet(p)

    def land_stray():
        # simulate the in-flight append: a new part-file appears after
        # the snapshot listing (write to a sibling, move files in)
        side = str(tmp_path / "side")
        spark.range(5000, 5010).selectExpr("id").coalesce(1).write.parquet(side)
        for f in os.listdir(side):
            if f.startswith("part-"):
                os.rename(
                    os.path.join(side, f), os.path.join(p, "part-stray-" + f)
                )

    before, after = compact_table(
        spark, p, target_file_mb=512, _after_snapshot=land_stray
    )
    assert before == 16
    back = spark.read.parquet(p)
    assert back.count() == 1010  # 1000 compacted + 10 rescued
    assert back.filter(F.col("id") >= 5000).count() == 10


def test_batched_stray_rescue_saves_inflight_batch(spark, tmp_path):
    """A batch dir published after the snapshot survives the swap."""
    p = str(tmp_path / "t")
    _mkbatched(spark, p, n_batches=2)

    state = {"done": False}

    def land_stray():
        if state["done"]:  # seam fires once
            return
        state["done"] = True
        side = str(tmp_path / "sideb")
        spark.range(9000, 9100).selectExpr("id", "id % 5 AS v").coalesce(
            1
        ).write.parquet(side)
        os.rename(side, os.path.join(p, "batch-late"))

    before, after = compact_table(
        spark, p, target_file_mb=512, _after_snapshot=land_stray
    )
    assert before == 16
    back = read_batched_target(spark, p)
    assert back.count() == 2100  # 2000 compacted + 100 rescued
    assert os.path.isdir(os.path.join(p, "batch-late"))
    # the rescued batch id is now part of the manifest: redelivery no-op
    total, applied = idempotent_append_load(
        spark.range(9000, 9100).selectExpr("id", "id % 5 AS v"), p, "late"
    )
    assert applied is False and total == 2100


def test_writer_refuses_after_compaction_crash_between_renames(
    spark, tmp_path, fault_fs
):
    """A compaction that dies between its two renames takes the live
    directory, marker included, aside.  The next writer's recovery
    restores both before its guard runs, so it refuses instead of
    publishing over a target whose marker it never saw."""
    p = str(tmp_path / "t")
    spark.range(1000).selectExpr("id", "id % 3 AS v").repartition(16).write.parquet(p)

    def rename_in(op, args, n):
        return op == "rename" and args[0].toString().endswith("._merge_tmp")

    with fault_fs(rename_in) as plan:
        with pytest.raises(Exception, match="injected fault"):
            compact_table(spark, p, target_file_mb=512)
    assert plan.injected and not os.path.exists(p)
    df = spark.range(100).selectExpr("id", "id % 3 AS v")
    with pytest.raises(IOError, match="_COMPACTING"):
        merge_load(df, p, keys=["id"], order_col="v")
    assert compaction_in_progress(spark, p)
    assert spark.read.parquet(p).count() == 1000

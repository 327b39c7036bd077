"""Compaction contracts: batched-layout compaction preserves the
idempotent-append manifest, rows that land while a compaction runs stay
live (the compaction raises WriteConflict instead of deleting them with
the superseded copy), and a writer after a crashed compaction restores
the kept-aside copy before it loads."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aws_pandas_etl_spark.sources import sinks
from aws_pandas_etl_spark.sources.sinks import (
    WriteConflict,
    append_load,
    compact_table,
    idempotent_append_load,
    merge_load,
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


def _land_once(monkeypatch, land):
    """Run ``land()`` once, right after the first staged copy's footer
    check: after a compaction's write job, before its commit."""
    real = sinks._footer_rows
    fired = []

    def hooked(spark, staged):
        n = real(spark, staged)
        if not fired:
            fired.append(staged)
            land()
        return n

    monkeypatch.setattr(sinks, "_footer_rows", hooked)
    return fired


def test_flat_stray_rescue_saves_inflight_rows(spark, tmp_path, monkeypatch):
    """A file that lands while a flat compaction runs stays live: the
    compaction raises instead of deleting it with the superseded copy,
    and a re-run compacts it with the rest."""
    p = str(tmp_path / "t")
    spark.range(1000).selectExpr("id").repartition(16).write.parquet(p)

    def land_stray():
        # an in-flight append: a new part-file appears after the
        # compaction listed the target
        side = str(tmp_path / "side")
        spark.range(5000, 5010).selectExpr("id").coalesce(1).write.parquet(side)
        for f in os.listdir(side):
            if f.startswith("part-"):
                os.rename(
                    os.path.join(side, f), os.path.join(p, "part-stray-" + f)
                )

    fired = _land_once(monkeypatch, land_stray)
    with pytest.raises(WriteConflict, match="part-stray-"):
        compact_table(spark, p, target_file_mb=512)
    assert fired
    back = spark.read.parquet(p)
    assert back.count() == 1010  # 1000 untouched + 10 landed
    assert back.filter(F.col("id") >= 5000).count() == 10
    assert compact_table(spark, p, target_file_mb=512) == (17, 1)
    assert spark.read.parquet(p).count() == 1010


def test_batched_stray_rescue_saves_inflight_batch(spark, tmp_path, monkeypatch):
    """A batch dir published while a batched compaction runs stays
    live, its redelivery stays a no-op, and a re-run folds it in."""
    p = str(tmp_path / "t")
    _mkbatched(spark, p, n_batches=2)

    def land_stray():
        side = str(tmp_path / "sideb")
        spark.range(9000, 9100).selectExpr("id", "id % 5 AS v").coalesce(
            1
        ).write.parquet(side)
        os.rename(side, os.path.join(p, "batch-late"))

    fired = _land_once(monkeypatch, land_stray)
    with pytest.raises(WriteConflict, match="batch-late/"):
        compact_table(spark, p, target_file_mb=512)
    assert fired
    assert read_batched_target(spark, p).count() == 2100  # 2000 + 100 landed
    assert os.path.isdir(os.path.join(p, "batch-late"))
    total, applied = idempotent_append_load(
        spark.range(9000, 9100).selectExpr("id", "id % 5 AS v"), p, "late"
    )
    assert applied is False and total == 2100
    assert compact_table(spark, p, target_file_mb=512) == (17, 1)
    total, applied = idempotent_append_load(
        spark.range(9000, 9100).selectExpr("id", "id % 5 AS v"), p, "late"
    )
    assert applied is False and total == 2100


def test_writer_after_compaction_crash_between_renames_restores_and_loads(
    spark, tmp_path, fault_fs
):
    """A compaction that dies between its two renames leaves the live
    directory aside.  The next writer, whether it rewrites the target
    or appends to it, first restores that copy and then loads on top
    of it; the rewriter's commit also removes the dead compaction's
    staging."""
    def rename_in(op, args, n):
        return op == "rename" and "._merge_tmp." in args[0].toString()

    df = spark.range(100).selectExpr("id + 1000 AS id", "id % 3 AS v")
    for name, write, rows in (
        ("merge", lambda p: merge_load(df, p, keys=["id"], order_col="v"), 1100),
        ("append", lambda p: append_load(df, p), 100),
    ):
        p = str(tmp_path / name / "t")
        spark.range(1000).selectExpr("id", "id % 3 AS v").repartition(16).write.parquet(p)
        with fault_fs(rename_in) as plan:
            with pytest.raises(Exception, match="injected fault"):
                compact_table(spark, p, target_file_mb=512)
        assert plan.injected and not os.path.exists(p)
        assert write(p) == rows
        assert spark.read.parquet(p).count() == 1100
        siblings = sorted(os.listdir(os.path.dirname(p)))
        if name == "merge":
            assert siblings == ["t"]
        else:  # an append commits no swap: the staging waits for one
            assert siblings[1:] == ["t"] and "._merge_tmp." in siblings[0]

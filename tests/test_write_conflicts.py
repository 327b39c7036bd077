"""The commit check every rewriting sink shares.

A ``_SwapTarget`` lists the target's visible files when it opens and
again before it commits; if another writer landed, removed or rewrote a
file in between, the commit raises ``WriteConflict`` and the live
target keeps the other writer's rows.  Each test lands that writer
through a wrapper of ``sinks._footer_rows``, which ``publish`` calls
after the write job and before the commit, so no test sleeps."""

from __future__ import annotations

import os

import pytest

from aws_pandas_etl_spark.sources import sinks
from aws_pandas_etl_spark.sources.sinks import (
    WriteConflict,
    append_load,
    compact_table,
    delete_load,
    idempotent_append_load,
    merge_load,
    overwrite_load,
    read_batched_target,
)


def _arrive_once(monkeypatch, arrive):
    """Run ``arrive()`` once, inside the first ``_footer_rows`` call,
    after it counted the staged copy: between the outer call's write
    job and its commit.  Calls made by ``arrive`` see the real one."""
    real = sinks._footer_rows
    fired = []

    def hooked(spark, staged):
        n = real(spark, staged)
        if not fired:
            fired.append(staged)
            arrive()
        return n

    monkeypatch.setattr(sinks, "_footer_rows", hooked)
    return fired


def _kv(spark, p) -> dict:
    return {r["k"]: r["v"] for r in spark.read.parquet(p).collect()}


def _seed(spark, p):
    """100 rows ``(k, v=0)``."""
    overwrite_load(spark.range(100).selectExpr("id AS k", "0L AS v"), p)


def test_append_during_merge_survives_and_merge_raises(spark, tmp_path, monkeypatch):
    """An append that lands while a merge runs keeps its rows: the
    merge raises instead of deleting them with the superseded copy, and
    its re-run merges on top of them."""
    p = str(tmp_path / "t")
    _seed(spark, p)
    appended = []
    fired = _arrive_once(
        monkeypatch,
        lambda: appended.append(
            append_load(spark.range(100, 110).selectExpr("id AS k", "0L AS v"), p)
        ),
    )
    updates = spark.range(50).selectExpr("id AS k", "1L AS v")
    with pytest.raises(WriteConflict, match=r"added \['part-"):
        merge_load(updates, p, ["k"], "v")
    assert fired and appended == [10]
    assert _kv(spark, p) == {k: 0 for k in range(110)}
    assert merge_load(updates, p, ["k"], "v") == 110
    assert _kv(spark, p) == {k: int(k < 50) for k in range(110)}


def test_nested_merge_wins_over_outer_merge(spark, tmp_path, monkeypatch):
    p = str(tmp_path / "t")
    _seed(spark, p)
    inner = []
    _arrive_once(
        monkeypatch,
        lambda: inner.append(
            merge_load(spark.range(25, 75).selectExpr("id AS k", "2L AS v"), p, ["k"], "v")
        ),
    )
    with pytest.raises(WriteConflict):
        merge_load(spark.range(50).selectExpr("id AS k", "1L AS v"), p, ["k"], "v")
    assert inner == [100]
    assert _kv(spark, p) == {k: 2 if 25 <= k < 75 else 0 for k in range(100)}
    assert sorted(os.listdir(tmp_path)) == ["t"]


def test_nested_delete_wins_over_outer_merge(spark, tmp_path, monkeypatch):
    p = str(tmp_path / "t")
    _seed(spark, p)
    inner = []
    _arrive_once(
        monkeypatch,
        lambda: inner.append(
            delete_load(spark, p, spark.range(10).selectExpr("id AS k"), ["k"])
        ),
    )
    with pytest.raises(WriteConflict):
        merge_load(spark.range(50).selectExpr("id AS k", "1L AS v"), p, ["k"], "v")
    assert inner == [90]
    assert _kv(spark, p) == {k: 0 for k in range(10, 100)}
    assert sorted(os.listdir(tmp_path)) == ["t"]


def _flat(spark, p):
    spark.range(1000).repartition(16).write.parquet(p)


def _batched(spark, p):
    for b in range(3):
        idempotent_append_load(
            spark.range(b * 1000, (b + 1) * 1000).repartition(8), p, batch_id=f"b{b}"
        )


@pytest.mark.parametrize(
    "setup, n_files, n_rows",
    [(_flat, 16, 1000), (_batched, 24, 3000)],
    ids=["flat", "batched"],
)
def test_nested_compaction_wins_over_outer_compaction(
    spark, tmp_path, monkeypatch, setup, n_files, n_rows
):
    p = str(tmp_path / "t")
    setup(spark, p)
    inner = []
    _arrive_once(
        monkeypatch,
        lambda: inner.append(compact_table(spark, p, target_file_mb=512)),
    )
    with pytest.raises(WriteConflict):
        compact_table(spark, p, target_file_mb=512)
    assert inner == [(n_files, 1)]
    back = read_batched_target(spark, p)
    assert sorted(r["id"] for r in back.collect()) == list(range(n_rows))
    assert sorted(os.listdir(tmp_path)) == ["t"]
    monkeypatch.undo()
    assert compact_table(spark, p, target_file_mb=512) == (1, 1)

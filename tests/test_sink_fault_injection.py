"""Fault injection for every sink that rewrites a whole target.

Each case runs once without faults for reference, then once per k with
the k-th Hadoop ``rename``/``delete`` raising instead of running (the
``fault_fs`` fixture wraps ``sinks._hadoop_fs``), for every k until a
call completes with nothing injected.  After each failure, opening (a
copy of) the target, which runs its crash recovery (the writers' one,
or for a partitioned compaction compact_table's recovery of its
leaves), must show the full pre-call rows or the full post-call rows;
and a re-run without faults, on the crash state itself, must give the
full post-call rows, leave no hidden siblings, and return what the
crash point calls for: the fault-free result, or for a compaction
whose swap committed, the result of compacting its new copy."""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

import pytest
from pyspark.sql import Row

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


@dataclass
class Case:
    setup: Callable  # (spark, path) -> None, writes the pre-call target
    call: Callable  # (spark, path) -> result of the sink under test
    expect: object  # fault-free result of ``call``
    batched: bool = False  # read back with read_batched_target
    # result of the re-run that follows a fault, given how many of the
    # faulted call's swaps committed (their tmp was renamed in); None:
    # the fault-free result either way
    rerun: Callable | None = None
    # the crash recovery that opening the target runs
    recover: Callable = sinks._recover

    def rerun_expect(self, committed: int):
        return self.expect if self.rerun is None else self.rerun(committed)


def _flat_small_files(spark, p):
    spark.range(1000).repartition(16).write.parquet(p)


def _partitioned_small_files(spark, p):
    spark.range(1000).selectExpr("id", "id % 2 AS part").repartition(8).write.partitionBy(
        "part"
    ).parquet(p)


def _batched_small_files(spark, p):
    for b in range(3):
        df = spark.range(b * 1000, (b + 1) * 1000).selectExpr(
            "id", "id % 5 AS v"
        ).repartition(8)
        idempotent_append_load(df, p, batch_id=f"b{b}")


_LANDED: set[str] = set()


def _compact_after_conflict(spark, p):
    """compact_table meets a part-file that an append lands after its
    write job (on the first call for ``p`` only), so its commit raises
    WriteConflict with the landed rows live; the caller re-runs it, and
    a fault can cut that re-run short, including its removal of the
    first attempt's staging."""
    real = sinks._footer_rows

    def land_stray(spark_, staged):
        n = real(spark_, staged)
        if p not in _LANDED:
            _LANDED.add(p)
            append_load(spark.range(5000, 5010).coalesce(1), p)
        return n

    sinks._footer_rows = land_stray
    try:
        return compact_table(spark, p, target_file_mb=512)
    except WriteConflict:
        pass
    finally:
        sinks._footer_rows = real
    return compact_table(spark, p, target_file_mb=512)


CASES = {
    "overwrite_load": Case(
        setup=lambda spark, p: overwrite_load(spark.range(100), p),
        call=lambda spark, p: overwrite_load(spark.range(100, 150), p),
        expect=50,
    ),
    "merge_load": Case(
        setup=lambda spark, p: merge_load(
            spark.createDataFrame(
                [(1, "keep", 1), (2, "b", 1)], "k long, v string, ver long"
            ),
            p, ["k"], "ver",
        ),
        call=lambda spark, p: merge_load(
            spark.createDataFrame([(2, "b2", 2)], "k long, v string, ver long"),
            p, ["k"], "ver",
        ),
        expect=2,
    ),
    "delete_load": Case(
        setup=lambda spark, p: overwrite_load(
            spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")]), p
        ),
        call=lambda spark, p: delete_load(
            spark, p, spark.createDataFrame([Row(k=2)]), keys=["k"]
        ),
        expect=1,
    ),
    # a re-run after a committed swap finds the target already compact
    "compact_table_flat": Case(
        setup=_flat_small_files,
        call=lambda spark, p: compact_table(spark, p, target_file_mb=512),
        expect=(16, 1),
        rerun=lambda committed: (1, 1) if committed else (16, 1),
    ),
    # one leaf at a time, so that the k-th step is the same in every run;
    # a re-run compacts the leaves whose swap had not committed
    "compact_table_partitioned": Case(
        setup=_partitioned_small_files,
        call=lambda spark, p: compact_table(spark, p, target_file_mb=512, parallelism=1),
        expect=(16, 2),
        rerun=lambda committed: (committed + 8 * (2 - committed), 2),
        recover=lambda spark, p: sinks._partition_leaves(spark, p),
    ),
    "compact_table_batched": Case(
        setup=_batched_small_files,
        call=lambda spark, p: compact_table(spark, p, target_file_mb=512),
        expect=(24, 1),
        batched=True,
        rerun=lambda committed: (1, 1) if committed else (24, 1),
    ),
    # the stray stays live and the first attempt raises; the re-run
    # compacts the stray with the rest
    "compact_table_flat_stray": Case(
        setup=_flat_small_files,
        call=_compact_after_conflict,
        expect=(17, 1),
        rerun=lambda committed: (1, 1) if committed else (17, 1),
    ),
}

# every writer, in an order that each layout accepts, each of which may
# land while a compaction runs
WRITERS = {
    "idempotent_append_load": lambda spark, p: idempotent_append_load(
        spark.range(7000, 7010), p, batch_id="late"
    ),
    "overwrite_load": lambda spark, p: overwrite_load(spark.range(100), p),
    "append_load": lambda spark, p: append_load(spark.range(100, 110), p),
    "merge_load": lambda spark, p: merge_load(spark.range(105, 120), p, ["id"], "id"),
    "delete_load": lambda spark, p: delete_load(spark, p, spark.range(5), ["id"]),
    "compact_table": lambda spark, p: compact_table(spark, p),
}


def _rows(spark, p, batched: bool) -> list:
    df = read_batched_target(spark, p) if batched else spark.read.parquet(p)
    return sorted(tuple(sorted(r.asDict().items())) for r in df.collect())


def _hidden_siblings(p: str) -> list[str]:
    """Dot-prefixed entries beside ``p``, and swap siblings inside it."""
    inside = [n for _, dirs, _ in os.walk(p) for n in dirs if "._merge_" in n]
    return [n for n in os.listdir(os.path.dirname(p)) if n.startswith(".")] + inside


def _renamed_in(src: str, dst: str) -> bool:
    return os.path.basename(src).startswith(f".{os.path.basename(dst)}._merge_tmp.")


@pytest.mark.parametrize("name", list(CASES))
def test_every_swap_fault_leaves_pre_or_post_target(spark, tmp_path, fault_fs, name):
    case = CASES[name]
    ref = str(tmp_path / "ref" / "t")
    case.setup(spark, ref)
    pre = _rows(spark, ref, case.batched)
    assert case.call(spark, ref) == case.expect
    post = _rows(spark, ref, case.batched)

    for k in range(1, 30):
        p = str(tmp_path / f"k{k}" / "t")
        case.setup(spark, p)
        with fault_fs(lambda op, args, n: n == k) as plan:
            try:
                got = case.call(spark, p)
            except Exception:
                if not plan.injected:
                    raise
        if not plan.injected:  # every step ran: the fault-free call
            assert got == case.expect
            assert _rows(spark, p, case.batched) == post
            assert _hidden_siblings(p) == []
            break
        committed = sum(_renamed_in(src, dst) for src, dst in plan.renamed)
        # inspect a copy, so that the calls below meet the crash state
        seen = str(tmp_path / f"k{k}-seen" / "t")
        shutil.copytree(os.path.dirname(p), os.path.dirname(seen))
        case.recover(spark, seen)
        assert _rows(spark, seen, case.batched) in (pre, post), f"fault #{k}"
        assert case.call(spark, p) == case.rerun_expect(committed), f"fault #{k}"
        assert _rows(spark, p, case.batched) == post, f"fault #{k}"
        assert _hidden_siblings(p) == [], f"fault #{k}"
    else:
        pytest.fail("no fault-free run within 29 rename/delete steps")
    # the matrix reached the commit: a keep-aside rename and a rename-in
    assert k > 3


@pytest.mark.parametrize("name", ["compact_table_flat", "compact_table_batched"])
def test_writers_arriving_mid_compaction_leave_its_new_copy(
    spark, tmp_path, monkeypatch, name
):
    """Every writer that arrives while a compaction runs, after its
    write job and before its commit, succeeds; the compaction then
    raises WriteConflict without publishing its new copy, and the
    target holds exactly what the writers alone make of it."""
    case = CASES[name]
    ref, p = str(tmp_path / "ref" / "t"), str(tmp_path / "t")
    case.setup(spark, ref)
    for write in WRITERS.values():
        write(spark, ref)
    want = _rows(spark, ref, batched=True)

    case.setup(spark, p)
    landed = []
    real = sinks._footer_rows

    def writers_arrive(spark_, staged):
        n = real(spark_, staged)
        if not landed:
            landed.append(None)
            for writer, write in WRITERS.items():
                write(spark, p)
                landed.append(writer)
        return n

    monkeypatch.setattr(sinks, "_footer_rows", writers_arrive)
    with pytest.raises(WriteConflict):
        case.call(spark, p)
    assert landed[1:] == list(WRITERS)
    assert len(want) == 115 and _rows(spark, p, batched=True) == want
    # the writers' commits removed the compaction's staging
    assert _hidden_siblings(p) == []


def _source(spark, lo: int, hi: int, boom: int | None = None):
    """Rows ``(id, bkt, ver)`` for ids ``lo..hi-1``; when ``boom`` is
    given, the job that computes them raises at that id."""
    from pyspark.sql import functions as F

    def check(i):
        if i == boom:
            raise RuntimeError(f"source failed at row {i}")
        return i

    ids = F.col("id") if boom is None else F.udf(check, "long")("id")
    return spark.range(lo, hi).select(ids.alias("id")).selectExpr(
        "id", "id % 4 AS bkt", "1L AS ver"
    )


# the writers that do not rewrite the whole target: (write(df, path,
# tag), read back with read_batched_target)
PARTWAY = {
    "append_load": (lambda df, p, tag: append_load(df, p), False),
    "idempotent_append_load": (
        lambda df, p, tag: idempotent_append_load(df, p, batch_id=tag),
        True,
    ),
    "overwrite_partitions_load": (
        lambda df, p, tag: sinks.overwrite_partitions_load(df, p, ["bkt"]),
        False,
    ),
    "merge_load_partitioned": (
        lambda df, p, tag: sinks.merge_load_partitioned(
            df, p, ["id"], "ver", "bkt", layout_spec="pmod(id,4)"
        ),
        False,
    ),
}


@pytest.mark.parametrize("name", list(PARTWAY))
def test_source_raising_partway_leaves_target_as_it_was(spark, tmp_path, name):
    """A writer whose source raises partway through its job leaves the
    target's rows and visible files as they were, no staging visible to
    readers nor any hidden batch staging left in the target, and a
    clean re-run loads what a fault-free call loads."""
    write, batched = PARTWAY[name]
    ref, p = str(tmp_path / "ref" / "t"), str(tmp_path / "t")
    for target in (ref, p):
        write(_source(spark, 0, 100), target, "seed")
    want = write(_source(spark, 50, 150), ref, "next")
    post = _rows(spark, ref, batched)

    fs, jp = sinks._hadoop_fs(spark, p)
    pre, files = _rows(spark, p, batched), sinks._visible_files(fs, jp)
    with pytest.raises(Exception, match="source failed at row 100"):
        write(_source(spark, 50, 150, boom=100), p, "next")
    assert _rows(spark, p, batched) == pre
    assert sinks._visible_files(fs, jp) == files
    assert [n for n in os.listdir(p) if n.startswith(".batch-") and "__tmp_" in n] == []
    assert write(_source(spark, 50, 150), p, "next") == want
    assert _rows(spark, p, batched) == post

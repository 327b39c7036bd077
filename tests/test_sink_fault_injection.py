"""Fault injection for every sink that rewrites a whole target.

Each case runs once without faults for reference, then once per k with
the k-th Hadoop ``rename``/``delete`` raising instead of running (the
``fault_fs`` fixture wraps ``sinks._hadoop_fs``), for every k until a
call completes with nothing injected.  After each failure, opening (a
copy of) the target, which runs its crash recovery (the writers' one,
or for a partitioned compaction compact_table's recovery of its
leaves), must show the full pre-call rows or the full post-call rows; a compaction's
marker must keep blocking writers until it is cleared; and a re-run
without faults, on the crash state itself, must give the full post-call
rows, leave no hidden siblings, and return what the crash point calls
for: the fault-free result, or for a compaction whose swap committed,
the result of compacting its new copy."""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

import pytest
from pyspark.sql import Row

from aws_pandas_etl_spark.sources import sinks
from aws_pandas_etl_spark.sources.sinks import (
    append_load,
    clear_compaction_marker,
    compact_table,
    compaction_in_progress,
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
    # faulted call's swaps committed (their tmp was renamed in) and
    # whether its stray landed; None: the fault-free result either way
    rerun: Callable | None = None
    compaction: bool = False
    # the crash recovery that opening the target runs
    recover: Callable = sinks._recover

    def rerun_expect(self, committed: int, landed: bool):
        return self.expect if self.rerun is None else self.rerun(committed, landed)


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


def _compact_with_stray(spark, p):
    """compact_table with an in-flight append that lands one part-file
    after the snapshot, on the first call for ``p`` only, so that a
    fault can cut the stray rescue short."""

    def land_stray():
        if p in _LANDED:
            return
        _LANDED.add(p)
        side = p + "-stray"
        spark.range(5000, 5010).coalesce(1).write.parquet(side)
        for f in os.listdir(side):
            if f.startswith("part-"):
                os.rename(os.path.join(side, f), os.path.join(p, "part-stray-" + f))

    return compact_table(spark, p, target_file_mb=512, _after_snapshot=land_stray)


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
        rerun=lambda committed, landed: (1, 1) if committed else (16, 1),
        compaction=True,
    ),
    # one leaf at a time, so that the k-th step is the same in every run;
    # a re-run compacts the leaves whose swap had not committed
    "compact_table_partitioned": Case(
        setup=_partitioned_small_files,
        call=lambda spark, p: compact_table(spark, p, target_file_mb=512, parallelism=1),
        expect=(16, 2),
        rerun=lambda committed, landed: (committed + 8 * (2 - committed), 2),
        compaction=True,
        recover=lambda spark, p: sinks._partition_leaves(spark, p),
    ),
    "compact_table_batched": Case(
        setup=_batched_small_files,
        call=lambda spark, p: compact_table(spark, p, target_file_mb=512),
        expect=(24, 1),
        batched=True,
        rerun=lambda committed, landed: (1, 1) if committed else (24, 1),
        compaction=True,
    ),
    # the stray rides aside with the old copy and is rescued after the
    # commit; a re-run compacts whatever part-files it then finds
    "compact_table_flat_stray": Case(
        setup=_flat_small_files,
        call=_compact_with_stray,
        expect=(16, 2),
        rerun=lambda committed, landed: (
            (2, 1) if committed else (17, 1) if landed else (16, 2)
        ),
        compaction=True,
    ),
}

# every writer, each of which must refuse while a compaction runs
WRITERS = {
    "append_load": lambda spark, p: append_load(spark.range(1), p),
    "idempotent_append_load": lambda spark, p: idempotent_append_load(
        spark.range(1), p, batch_id="late"
    ),
    "overwrite_load": lambda spark, p: overwrite_load(spark.range(1), p),
    "merge_load": lambda spark, p: merge_load(spark.range(1), p, ["id"], "id"),
    "delete_load": lambda spark, p: delete_load(spark, p, spark.range(1), ["id"]),
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
    return os.path.basename(src) == f".{os.path.basename(dst)}._merge_tmp"


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
        landed = p in _LANDED
        # inspect a copy, so that the calls below meet the crash state
        seen = str(tmp_path / f"k{k}-seen" / "t")
        shutil.copytree(os.path.dirname(p), os.path.dirname(seen))
        case.recover(spark, seen)
        assert _rows(spark, seen, case.batched) in (pre, post), f"fault #{k}"
        marked = any(c.endswith("/_COMPACTING") for c in plan.created)
        assert compaction_in_progress(spark, seen) is marked, f"fault #{k}"
        if marked:
            with pytest.raises(IOError, match="_COMPACTING"):
                append_load(spark.range(1), p)
            assert clear_compaction_marker(spark, p)
        want = case.rerun_expect(committed, landed)
        assert case.call(spark, p) == want, f"fault #{k}"
        assert _rows(spark, p, case.batched) == post, f"fault #{k}"
        assert _hidden_siblings(p) == [], f"fault #{k}"
        assert not compaction_in_progress(spark, p)
    else:
        pytest.fail("no fault-free run within 29 rename/delete steps")
    # the matrix reached the commit: a keep-aside rename and a rename-in
    assert k > 3


@pytest.mark.parametrize("name", ["compact_table_flat", "compact_table_batched"])
def test_writers_arriving_mid_compaction_leave_its_new_copy(
    spark, tmp_path, fault_fs, name
):
    """Every writer that arrives while a compaction stages its new copy
    is refused before it touches anything, so the compaction still
    publishes every row.  The writers run at the staging of the marker
    into the new copy, after the rewrite job and before the commit."""
    case = CASES[name]
    p = str(tmp_path / "t")
    case.setup(spark, p)
    pre = _rows(spark, p, case.batched)
    refused = []

    def writers_arrive(op, args, n):
        if op == "create" and not refused and args[0].toString().endswith(
            "/.t._merge_tmp/_COMPACTING"
        ):
            refused.append(None)
            for writer, write in WRITERS.items():
                with pytest.raises(IOError, match="_COMPACTING"):
                    write(spark, p)
                refused.append(writer)
        return False

    with fault_fs(writers_arrive):
        assert case.call(spark, p) == case.expect
    assert refused[1:] == list(WRITERS)
    assert _rows(spark, p, case.batched) == pre
    assert not compaction_in_progress(spark, p)
    assert _hidden_siblings(p) == []

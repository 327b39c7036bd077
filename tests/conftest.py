from __future__ import annotations

import contextlib
import os

import duckdb
import pytest

from aws_pandas_etl_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Fresh DuckDB connection with the harness tables registered as
    views — mirrors the driver's oracle setup."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


class InjectedFault(Exception):
    """Raised by ``fault_fs``'s proxy filesystem in place of a Hadoop
    call."""


class FaultPlan:
    """Counts the ``rename``/``delete`` calls the sinks make (``n``,
    from 1) and raises InjectedFault, instead of running the call, on
    each one ``fail(op, args, n)`` accepts.  ``create`` calls are shown
    to ``fail`` too, with ``n=None``, so a test can act at one of them.
    Records the path of every ``create`` in ``created`` and the
    ``(src, dst)`` paths of every rename let through in ``renamed``."""

    def __init__(self, fail):
        self.fail = fail
        self.n = 0
        self.created: list[str] = []
        self.renamed: list[tuple[str, str]] = []
        self.injected = False

    def before(self, op: str, args: tuple) -> None:
        n = None
        if op == "create":
            self.created.append(args[0].toString())
        else:
            self.n += 1
            n = self.n
        if self.fail(op, args, n):
            self.injected = True
            raise InjectedFault(f"injected fault at {op} #{n}")
        if op == "rename":
            self.renamed.append((args[0].toString(), args[1].toString()))


class _FaultyFs:
    def __init__(self, fs, plan: FaultPlan):
        self._fs = fs
        self._plan = plan

    def __getattr__(self, name):
        attr = getattr(self._fs, name)
        if name not in ("rename", "delete", "create"):
            return attr

        def call(*args):
            self._plan.before(name, args)
            return attr(*args)

        return call


@pytest.fixture
def fault_fs(monkeypatch):
    """``with fault_fs(fail) as plan:`` routes every filesystem the
    sinks resolve (``sinks._hadoop_fs``) through a proxy driven by a
    FaultPlan, and restores the real one on exit."""
    from aws_pandas_etl_spark.sources import sinks

    real = sinks._hadoop_fs

    @contextlib.contextmanager
    def armed(fail):
        plan = FaultPlan(fail)

        def faulty(spark, path):
            fs, jpath = real(spark, path)
            return _FaultyFs(fs, plan), jpath

        monkeypatch.setattr(sinks, "_hadoop_fs", faulty)
        try:
            yield plan
        finally:
            monkeypatch.setattr(sinks, "_hadoop_fs", real)

    return armed

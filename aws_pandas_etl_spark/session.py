"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]`` (default all
cores); on a real cluster the same confs apply, with shuffle
partitions sized to the cluster (see ``for_scale`` notes).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "aws-pandas-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    Defaults are chosen for correctness-at-scale:
    - AQE enabled: runtime coalescing, skew-join splitting, dynamic
      join strategy switch — the 100 TB safety net.
    - Arrow enabled: pandas-UDF boundaries are vectorized.
    - UTC session timezone: deterministic timestamp semantics across
      engines (matters for the DuckDB oracle parity harness).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )
    # Local mode = driver-only JVM: spark.driver.memory is the one
    # memory knob (pyspark_guide).  Array-heavy intermediates (shingle/
    # signature tables) are size-UNDERestimated by Catalyst, so an
    # aggressive broadcast threshold + small heap can OOM the broadcast
    # build — threshold stays moderate and the heap explicit.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # hard ceiling on any single driver-bound result transfer: a
        # pathological collect (e.g. an un-bounded streaming join into
        # a memory sink) fails ITS query cleanly instead of driving the
        # whole JVM into the ground — unbounded results belong on the
        # executors' storage path (parquet sinks), never the driver
        .config("spark.driver.maxResultSize", os.environ.get("SPARK_GRAFT_MAX_RESULT", "1g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's *runtime-settable* confs to an externally
    provided session (e.g. the verification driver's).  Only touches
    confs that can change after session start."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set runtime ``confs`` for the duration of a block, then put each
    back: a key that was set before gets its prior value, a key that was
    not is unset again (so it falls back to Spark's default).

    Session confs are shared by every thread on the session; the window
    is meant for plan construction or one availableNow run, not for
    concurrent readers."""
    prior = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

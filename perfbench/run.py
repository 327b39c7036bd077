#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload history_load --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout of the repository.  In one Python
process it generates the workload's inputs from ``--seed`` (untimed),
launches a Spark ``local[K]`` session and runs a warm-up job, runs the
workload's set-up ``SETUP_REPEATS`` times, each from cold package caches
and an empty artifact root (``setup_s`` is the launch plus the median
set-up), times the workload's fixed number of closed-loop passes (one,
cold) right after set-up, checks the outputs against DuckDB
recomputations (untimed), and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Every time is steal-adjusted: the machine is a VM sharing its host, and
the wall time of each timed interval is multiplied by the share of the
CPUs' busy time the hypervisor did not steal (``probes.StealClock``).
``--seconds`` is accepted for the driver's interface; the amount of
timed work is fixed per workload, so that a faster program never turns
a cold pass into a mix of cold and warm ones.

With ``--trace 0`` the metrics are the end-to-end ones of
``BENCHMARK.json``; with ``--trace 1`` the per-layer ones, taken from
the same cold pass run traced (``trace.overhead_s`` is the time of the
work only the traced pass does: boundary materializations and counts).  All scratch data lives
under ``.perfbench/`` in the checkout and is removed on exit; span
traces are kept in ``.perfbench/traces/``.  ``--smoke`` runs the same
workload on the sf0.001 tables.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# local[K]: a few cores, never more than the machine has; the workloads
# are bound by per-job driver work (K=4 measured no faster than K=2)
K = min(2, os.cpu_count() or 1)
SHUFFLE_PARTITIONS = 8
DRIVER_MEM = "1g"
SETUP_REPEATS = 3

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "peak_mem_mb": "MB",
}

ENGINE_COUNTERS = {
    "jobs": "count", "tasks": "count", "executor_run_s": "s", "executor_cpu_s": "s",
    "gc_s": "s", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "core_busy_ratio": "ratio",
}
# Layers whose Spark jobs are attributed (by job group) in traced passes.
LAYERS = ["readers", "transforms", "sinks", "streaming", "text", "dedup", "queries"]
# Per-layer metrics; "per pass" figures are averaged over the traced
# passes of a run, and a layer a workload does not use reads 0.
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "setup.first_s": "s",
    "setup.median_s": "s",
    "artifacts.prebuild_s": "s",
    "artifacts.bytes": "bytes",
    "readers.load_table_s": "s",
    "readers.load_table_calls": "count",
    "readers.scan_s": "s",
    "readers.input_bytes": "bytes",
    "transforms.s": "s",
    "pipeline.table_s": "s",
    "pipeline.tables_failed": "count",
    "sinks.overwrite_s": "s",
    "sinks.reconcile_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "sinks.bytes_per_input_byte": "ratio",
    "sinks.merge_s": "s",
    "sinks.merge_write_amplification": "ratio",
    "streaming.batches": "count",
    "streaming.add_batch_s": "s",
    "streaming.overhead_s": "s",
    "text.score_s": "s",
    "dedup.shingle_s": "s",
    "dedup.lsh_s": "s",
    "dedup.rescore_s": "s",
    "dedup.cc_s": "s",
    "dedup.cc_jobs": "count",
    "dedup.decontam_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.pair_yield": "ratio",
    "dedup.dup_recall": "ratio",
    "dedup.dup_precision": "ratio",
    **{f"queries.{k}_s.{f}": "s" for k in ("plan", "exec") for f in ("tpch", "events", "retrieval")},
    "queries.plan_jobs": "count",
    "trace.overhead_s": "s",
    "trace.pass_s": "s",
    "host.steal_share": "ratio",
    "host.raw_pass_s": "s",
    **{f"spark.{c}.{lay}": u for lay in LAYERS for c, u in ENGINE_COUNTERS.items()},
}
# span name -> per-layer time metric (summed per pass)
SPAN_METRICS = {
    "text.score": "text.score_s",
    "dedup.shingle": "dedup.shingle_s",
    "dedup.lsh": "dedup.lsh_s",
    "dedup.rescore": "dedup.rescore_s",
    "dedup.cc": "dedup.cc_s",
    "dedup.decontam": "dedup.decontam_s",
}


def start_session(sdir: str):
    """A fresh SparkSession whose scratch (local dirs, warehouse, JVM
    and Python temp files, the package's artifact root) is ``sdir``."""
    from aws_pandas_etl_spark import get_spark

    tmp = os.path.join(sdir, "tmp")
    os.makedirs(tmp)
    tempfile.tempdir = tmp  # the artifact root and streaming scratch follow it
    return get_spark(
        app_name="perfbench",
        master=f"local[{K}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.local.dir": os.path.join(sdir, "local"),
            "spark.sql.warehouse.dir": os.path.join(sdir, "warehouse"),
            # a fixed-size heap keeps the JVM's share of peak memory from
            # depending on when the collector decides to grow the heap
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}",
            # keep every job/stage in the status store for attribution
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_jvm(spark) -> None:
    """Stop the session and the py4j gateway's JVM, and wait for it
    and every process it started (the Python workers) to end."""
    import probes
    from pyspark import SparkContext

    started = probes.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin pipe closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    probes.wait_gone(started)


def quantile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[int(round(q * 100)) - 1]


def set_up(spark, w, work: str) -> tuple[list[float], list[dict]]:
    """Run the workload's set-up ``SETUP_REPEATS`` times, each from cold
    package caches (the readers' schema and plan caches) and an empty
    artifact root; the artifact root of the last one stays in use."""
    from aws_pandas_etl_spark.sources import readers

    times, layers = [], []
    for i in range(SETUP_REPEATS):
        tempfile.tempdir = os.path.join(work, f"setup{i}")
        os.makedirs(tempfile.tempdir)
        readers._META_CACHE.clear()
        readers._DF_CACHE.clear()
        t0 = time.perf_counter()
        w.setup(spark)
        times.append(time.perf_counter() - t0)
        layers.append(getattr(w, "setup_layer", {}))
    return times, layers


def bench(args, work: str) -> dict:
    import probes
    import workloads
    from aws_pandas_etl_spark.sources import readers

    phases = {}
    t_phase = time.perf_counter()
    w = workloads.WORKLOADS[args.workload](args.seed, args.smoke, work)
    w.generate()
    phases["generate"] = time.perf_counter() - t_phase
    sampler = probes.MemSampler()
    sampler.start()
    spark = None
    try:
        clock = probes.StealClock()
        spark = start_session(os.path.join(work, "session"))
        start_s = time.perf_counter() - clock.t0
        # warm-up: the session's first job starts the executor threads
        spark.range(0, 100_000, 1, K).selectExpr("sum(id)").collect()
        launch_s = time.perf_counter() - clock.t0
        setups, setup_layer = set_up(spark, w, work)
        setup_wall, setup_stolen = clock.stop()
        # every set-up time below is steal-adjusted like the passes
        adj = 1.0 - setup_stolen
        launch = {
            "session.start_s": adj * start_s,
            "session.warmup_s": adj * (launch_s - start_s),
            "setup.first_s": adj * setups[0],
            "setup.median_s": adj * statistics.median(setups),
        }

        plain = probes.Tracer(spark, False)
        traced = probes.Tracer(spark, True)
        loads: list[float] = []
        cur = {"tr": plain}
        orig_load = readers.load_table

        def load_table(spark_, sf_dir, name):
            tr = cur["tr"]
            t0 = time.perf_counter()
            with tr.span("readers.load_table"):
                df = orig_load(spark_, sf_dir, name)
            if tr.enabled:
                loads.append(time.perf_counter() - t0)
            return df

        lat: list[float] = []
        walls = {False: [], True: []}  # steal-adjusted pass wall times
        raw = []  # (wall, stolen share) of every timed pass
        job_ranges = []
        sampler.active.set()
        with probes.patch(orig_load, load_table):
            attempted = failed = 0
            for n in range(w.PASSES):
                is_traced = bool(args.trace)
                tr = traced if is_traced else plain
                cur["tr"] = tr
                tr.pass_id = n
                lo = probes.next_job_id(spark) if is_traced else None
                clock = probes.StealClock()
                ops, f = w.run_pass(spark, tr)
                wall, stolen = clock.stop()
                attempted += len(ops) + f
                failed += f
                raw.append((wall, stolen))
                walls[is_traced].append(wall * (1.0 - stolen))
                if is_traced:
                    job_ranges.append((lo, probes.next_job_id(spark)))
                else:
                    lat.extend(ops)
        sampler.active.clear()

        t_phase = time.perf_counter()
        n_checks, bad = w.check(spark)
        phases["check"] = time.perf_counter() - t_phase
        for msg in bad:
            print(f"# check failed: {msg}", file=sys.stderr)
        attempted += n_checks
        failed += len(bad)

        if not args.trace:
            metrics = {
                "setup_s": adj * (launch_s + statistics.median(setups)),
                "ops_per_s": len(lat) / sum(walls[False]),
                "op_p50_ms": 1e3 * statistics.median(lat),
                "op_p90_ms": 1e3 * quantile(lat, 0.9),
                "peak_mem_mb": sampler.peak / 2**20,
            }
            units = END_TO_END
        else:
            metrics = layer_metrics(spark, w, traced, loads, job_ranges, setup_layer)
            metrics.update(launch)
            metrics["trace.pass_s"] = statistics.median(walls[True])
            metrics["host.steal_share"] = statistics.mean(s for _, s in raw)
            metrics["host.raw_pass_s"] = statistics.median(x for x, _ in raw)
            units = PER_LAYER
            os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
            with open(os.path.join(ROOT, ".perfbench", "traces",
                                   f"{args.workload}-seed{args.seed}.json"), "w") as fh:
                json.dump({"workload": args.workload, "seed": args.seed, "cores": K,
                           "spans": traced.spans}, fh)
        print(f"# {args.workload} seed={args.seed} K={K} ops={len(lat)} "
              f"setup: wall={setup_wall:.2f} stolen={setup_stolen:.3f} launch={launch_s:.2f} "
              f"sets={[round(s, 2) for s in setups]}; "
              f"passes (wall, stolen)={[(round(a, 2), round(b, 3)) for a, b in raw]}; "
              f"ops_s={[round(x, 2) for x in lat]} "
              f"{ {k: round(v, 2) for k, v in phases.items()} }",
              file=sys.stderr)
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()},
        }
    finally:
        sampler.stop()
        if spark is not None:
            stop_jvm(spark)


def layer_metrics(spark, w, traced, loads, job_ranges, setup_layer) -> dict:
    import probes

    passes = max(1, w.traced_passes)
    m = {k: v / passes for k, v in w.layer.items()}
    m.update(getattr(w, "quality", {}))
    for k in ("artifacts.prebuild_s", "artifacts.bytes"):
        vals = [s[k] for s in setup_layer if k in s]
        if vals:
            m[k] = statistics.median(vals)
    m["readers.load_table_s"] = statistics.mean(loads) if loads else 0.0
    m["readers.load_table_calls"] = len(loads) / passes
    for span, key in SPAN_METRICS.items():
        m[key] = traced.total(span) / passes
    if w.layer.get("sinks.merge_in_bytes"):
        m["sinks.merge_write_amplification"] = w.layer["sinks.merge_rewritten"] / w.layer["sinks.merge_in_bytes"]
    m["trace.overhead_s"] = traced.overhead() / passes
    counters, groups = probes.engine_counters(spark, LAYERS, K, traced.layer_wall(), job_ranges)
    for lay, cs in counters.items():
        for c, v in cs.items():
            m[f"spark.{c}.{lay}"] = v / passes if c != "core_busy_ratio" else v
    m["dedup.cc_jobs"] = groups.get("dedup.cc", 0) / passes
    m["queries.plan_jobs"] = groups.get("queries.plan", 0) / passes
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True,
                    choices=["history_load", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="run on the sf0.001 tables")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "aws_pandas_etl_spark", "__init__.py")):
        print(f"perfbench: no aws_pandas_etl_spark package under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    # Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    try:
        result = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

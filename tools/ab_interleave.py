#!/usr/bin/env python
"""Interleaved A/B harness for single-query optimization candidates.

This host's cross-session noise floor is +/-20-30% on 1-2 s queries
(r15 measurement: sequential A/Bs flipped verdicts twice), so every
per-query change is adjudicated with BASE and VARIANT alternating
inside ONE session: round i times base once and variant once,
back-to-back, and the verdict is min-of-rounds (the bench's own
statistic) plus the per-round ratio spread.

Arms:
  --query NAME            variant = the registered query as committed
  --base nopin            base    = same code with every
                          DataFrame.localCheckpoint() monkeypatched to
                          a no-op (isolates exactly the pin's effect)
  --base-fn mod:fn        base    = an explicit callable (e.g. an
                          old implementation kept in a side module
                          for restructuring A/Bs)
  --variant-fn mod:fn     override the variant arm the same way

--shape N runs N other registry queries once (alphabetic stride
sample) before timing, so the session carries full-bench-shaped JVM /
block-manager state — the r15 pmi pin won in a fresh session and lost
inside the full bench, which is exactly the gap this flag closes.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from aws_pandas_etl_spark.session import get_spark  # noqa: E402
from aws_pandas_etl_spark.plans import queries as Q  # noqa: E402


@contextlib.contextmanager
def nopin():
    """Disable every localCheckpoint pin (DataFrame method -> identity)."""
    from pyspark.sql import DataFrame

    orig = DataFrame.localCheckpoint
    DataFrame.localCheckpoint = lambda self, eager=True: self
    try:
        yield
    finally:
        DataFrame.localCheckpoint = orig


def _resolve(spec: str):
    mod, fn = spec.split(":")
    return getattr(importlib.import_module(mod), fn)


def _time_once(spark, fn, sf_dir: str) -> float:
    t0 = time.monotonic()
    try:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    finally:
        spark.catalog.clearCache()
    return time.monotonic() - t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--query", required=True)
    ap.add_argument("--base", choices=["nopin", "self"], default=None,
                    help="nopin: same fn, pins disabled; self: identical fn "
                         "both arms (noise-floor calibration)")
    ap.add_argument("--base-fn", default=None)
    ap.add_argument("--variant-fn", default=None)
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--shape", type=int, default=0,
                    help="run N other registry queries first (session shaping)")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    variant = (_resolve(args.variant_fn) if args.variant_fn
               else Q.QUERIES[args.query])
    if args.base_fn:
        base, base_label = _resolve(args.base_fn), args.base_fn
    elif args.base == "self":
        base, base_label = variant, "self"
    else:
        base, base_label = variant, "nopin"
        args.base = "nopin"

    spark = get_spark(app_name=f"ab_{args.query}")
    spark.range(1000).selectExpr("sum(id)").collect()
    try:
        Q.prebuild_shared_artifacts(spark, args.sf)
    except Exception as exc:
        print(f"# prebuild failed: {exc}", file=sys.stderr)

    if args.shape:
        names = [n for n in sorted(Q.QUERIES)
                 if n != args.query and not n.startswith("streaming_")]
        stride = max(1, len(names) // args.shape)
        for n in names[::stride][: args.shape]:
            try:
                _time_once(spark, Q.QUERIES[n], args.sf)
            except Exception as exc:
                print(f"# shape {n}: {exc}", file=sys.stderr)
        print(f"# session shaped with {min(args.shape, len(names))} queries",
              file=sys.stderr)

    # one untimed warm pass per arm (JIT, shuffle-file noise)
    if args.base == "nopin":
        with nopin():
            _time_once(spark, base, args.sf)
    else:
        _time_once(spark, base, args.sf)
    _time_once(spark, variant, args.sf)

    base_t, var_t = [], []
    for i in range(args.rounds):
        if args.base == "nopin":
            with nopin():
                b = _time_once(spark, base, args.sf)
        else:
            b = _time_once(spark, base, args.sf)
        v = _time_once(spark, variant, args.sf)
        base_t.append(b)
        var_t.append(v)
        print(f"# round {i}: base {b:.3f}s variant {v:.3f}s "
              f"ratio {v / b:.3f}", file=sys.stderr)

    out = {
        "query": args.query,
        "base": base_label,
        "rounds": args.rounds,
        "base_min": round(min(base_t), 3),
        "variant_min": round(min(var_t), 3),
        "ratio_min": round(min(var_t) / min(base_t), 3),
        "base_all": [round(x, 3) for x in base_t],
        "variant_all": [round(x, 3) for x in var_t],
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Smoke test of the benchmark itself: every workload end to end on
the sf0.001 tables, untraced and traced, with outputs checked.

    python3 perfbench/smoke.py

Exits 0 when every run printed a correct, failure-free result that
carries every metric ``BENCHMARK.json`` lists for its mode.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("history_load", "query_mix")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {0: {m["name"] for m in spec["end_to_end"]}, 1: {m["name"] for m in spec["per_layer"]}}
    bad = []
    for wl in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            try:
                res = json.loads(p.stdout.strip().splitlines()[-1])
            except (IndexError, json.JSONDecodeError):
                bad.append(f"{wl} trace={trace}: exit {p.returncode}, no result\n{p.stderr[-3000:]}")
                continue
            missing = want[trace] - set(res["metrics"])
            ok = p.returncode == 0 and res["correct"] and res["failed"] == 0 and not missing
            print(f"{wl:13s} trace={trace} correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']} missing={sorted(missing)}")
            if not ok:
                bad.append(f"{wl} trace={trace}: {res}")
    for b in bad:
        print("FAIL", b, file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

"""The benchmark's history_load workload end to end, on the sf0.001
tables: its DuckDB checks cover the pipeline, sink, text and dedup
code paths, so a change there that breaks the benchmark fails here."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_history_load_smoke_is_correct():
    cmd = [
        sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
        "--workload", "history_load", "--seed", "7", "--seconds", "1",
        "--trace", "0", "--smoke",
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0, (res, p.stderr[-3000:])

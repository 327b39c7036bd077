"""The benchmark's workloads end to end, on the sf0.001 tables: their
DuckDB checks cover the pipeline, sink, text, dedup and registry code
paths (``query_mix`` set-up builds the shingle and MinHash artifacts),
so a change there that breaks the benchmark fails here."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("workload", ["history_load", "query_mix"])
def test_perfbench_smoke_is_correct(workload):
    cmd = [
        sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", "0", "--smoke",
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0, (res, p.stderr[-3000:])

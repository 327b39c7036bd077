#!/usr/bin/env python
"""Full-registry oracle sweep at bench scale (COVERAGE.md's claim made
auditable, VERDICT r9 item 8): run EVERY ``queries()`` entry through
Spark AND its DuckDB ``oracle_sql()`` twin on the same parquet —
default sf0.1, the bench scale, one level above the driver's sf0.01
gate — and write one JSON artifact (``ORACLE_SWEEP.json``) with
per-query rows/schema/values verdicts.

Usage:
    python tools/oracle_sweep.py                       # sf0.1, all queries
    python tools/oracle_sweep.py --sf /root/testdata/sf0.01 --out X.json
"""

from __future__ import annotations

import argparse
import datetime as dt
import decimal
import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _normalize(v):
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(v))
    if isinstance(v, dt.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, dt.date):
        return ("d", v.isoformat())
    return v


def _canon(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_normalize(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=os.path.join(REPO, "ORACLE_SWEEP.json"))
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated query names: sweep just these (spot checks)",
    )
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entry
    from aws_pandas_etl_spark.session import get_spark

    spark = get_spark(app_name="oracle_sweep")
    queries, oracles = entry.queries(), entry.oracle_sql()
    if args.only:
        keep = {n.strip() for n in args.only.split(",") if n.strip()}
        missing = keep - set(queries)
        if missing:
            raise SystemExit(f"unknown query names: {sorted(missing)}")
        queries = {n: q for n, q in queries.items() if n in keep}

    results: dict[str, dict] = {}
    n_ok = 0
    for i, name in enumerate(sorted(queries), 1):
        rec: dict = {}
        t0 = time.monotonic()
        try:
            sdf = queries[name](spark, args.sf)
            spark_cols = sdf.columns
            spark_rows = [tuple(r) for r in sdf.collect()]
            rec["spark_sec"] = round(time.monotonic() - t0, 2)
            t1 = time.monotonic()
            con = duckdb.connect()
            try:
                for t in TABLES:
                    src = f"{args.sf}/{t}.parquet"
                    # directory-shaped tables (Spark-written clones,
                    # e.g. the 10x scale fixture) need a glob — DuckDB
                    # cannot read a bare directory path (r14's
                    # pathGlobFilter lesson, applied to the oracle side)
                    pat = src + "/**/*.parquet" if os.path.isdir(src) else src
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{pat}')"
                    )
                res = con.execute(oracles[name])
                duck_cols = [d[0] for d in res.description]
                duck_rows = res.fetchall()
            finally:
                con.close()
            rec["duck_sec"] = round(time.monotonic() - t1, 2)
            rec["spark_rows"] = len(spark_rows)
            rec["oracle_rows"] = len(duck_rows)
            rec["rows_match"] = len(spark_rows) == len(duck_rows)
            rec["schema_match"] = sorted(spark_cols) == sorted(duck_cols)
            rec["values_match"] = rec["rows_match"] and rec[
                "schema_match"
            ] and _canon(spark_rows, spark_cols) == _canon(
                duck_rows, duck_cols
            )
            rec["err"] = None
        except Exception as exc:  # record, keep sweeping
            rec["err"] = f"{type(exc).__name__}: {exc}"[:300]
            rec.setdefault("rows_match", False)
            rec.setdefault("schema_match", False)
            rec["values_match"] = False
        if rec["values_match"]:
            n_ok += 1
        results[name] = rec
        status = "ok" if rec["values_match"] else "FAIL"
        print(f"# [{i}/{len(queries)}] {name}: {status}", file=sys.stderr)
        spark.catalog.clearCache()

    from aws_pandas_etl_spark.plans.queries import TWS_STATE_API
    from aws_pandas_etl_spark.streaming.stateful import tws_available

    payload = {
        "sf_dir": args.sf,
        "n_queries": len(queries),
        "n_values_match": n_ok,
        "n_mismatch": len(queries) - n_ok,
        # which state API the TWS twins certified in THIS environment
        # (r15 verdict #2: green rows must be auditable about the path)
        "capabilities": {
            "protobuf": tws_available(),
            "tws_state_api": TWS_STATE_API,
        },
        "queries": results,
    }
    with open(args.out, "w") as fh:
        json.dump(payload, fh, indent=1)
    print(json.dumps({k: payload[k] for k in
                      ("sf_dir", "n_queries", "n_values_match", "n_mismatch")}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Comparator measurement for BASELINE.md — DuckDB on the identical
parquet inputs, same process style as bench.py.

Protocol (BASELINE.md §"Measurement protocol", items 1+3):
  * one long-lived connection, reused across all queries;
  * per query: 2 warm-ups, then median of 5 steady-state runs;
  * execution forced with fetchall() (result sets are small — the
    headline queries aggregate, so driver transfer is negligible);
  * the SQL measured is EXACTLY the registered oracle for each
    headline query (the same text the driver hash-checks against),
    so both engines answer the same question on the same files.

Prints one JSON line mirroring bench.py's shape:
  {"metric": "duckdb_comparator_total", "value": N, "unit": "sec",
   "queries": {...}, "sf": ...}

This script is the reconciliation the round-3 verdict asked for: the
BASELINE.md round-1 record (1.58 s) predates four rounds of oracle
hardening (type-strict CASTs, envelope recomputation arms) — the
oracle set got heavier, so the comparator must be re-measured at the
same commit as any Spark number it is compared against.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from bench import HEADLINE, RUNS, WARMUPS
from fcs_etl_reactor_spark.queries import ORACLE
from fcs_etl_reactor_spark.testkit import duck_connection


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    except ValueError:
        sf = -1.0  # basename not sf<number> — still measure, just untagged

    con = duck_connection(sf_dir)
    con.execute(f"SET threads TO {os.cpu_count() or 32}")

    timings = {}
    errors = {}
    for name in HEADLINE:
        sql = ORACLE[name]
        try:
            samples = []
            for i in range(WARMUPS + RUNS):
                t0 = time.perf_counter()
                con.sql(sql).fetchall()
                dt = time.perf_counter() - t0
                if i >= WARMUPS:
                    samples.append(dt)
            timings[name] = round(statistics.median(samples), 4)
        except Exception as exc:
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]

    out = {
        "metric": "duckdb_comparator_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "duckdb_version": duckdb.__version__,
    }
    if errors:
        out["errors"] = errors
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

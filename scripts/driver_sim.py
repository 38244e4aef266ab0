#!/usr/bin/env python
"""Driver replica: check the oracle pairs the way the driver does.

Imports __spark_entry__, runs entry() on a vanilla SparkSession, then
checks every oracle-paired query (or the named subset) with testkit's
copy of the driver's gate: schema, row count and order-insensitive
value hash against DuckDB. A failing query prints its first differing
canonical lines.

Usage:
  python scripts/driver_sim.py [sf_dir | --sf N] [query ...] [--tz ZONE]

`--sf N` expands to /root/testdata/sfN (default sf0.01). `--tz ZONE`
runs the session in ZONE with 7 shuffle partitions: io.load pins the
session timezone to UTC, and this shows the pin holds whatever
session the driver brings.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as ent
from fcs_etl_reactor_spark.testkit import run_all
from scripts.cliutil import require_dir

# perfbench/registry_iterative's oracle check imports these two from here
from fcs_etl_reactor_spark.io import TABLES
from fcs_etl_reactor_spark.testkit import value_hash

SF = "/root/testdata/sf0.01"


def _parse_args():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir", nargs="?", default=None, help=f"fixture directory (default {SF})")
    ap.add_argument("queries", nargs="*", help="optional subset of registered query names")
    ap.add_argument("--sf", metavar="N", help="scale factor shorthand: --sf 0.01 -> /root/testdata/sf0.01")
    ap.add_argument("--tz", metavar="ZONE", help="session timezone, with 7 shuffle partitions")
    args = ap.parse_args()
    if args.sf is not None:
        if args.sf_dir is not None:
            # `--sf 0.01 q1 q2` parses q1 into sf_dir; shift it back
            args.queries.insert(0, args.sf_dir)
        args.sf_dir = f"/root/testdata/sf{args.sf}"
    args.sf_dir = require_dir(ap, args.sf_dir or SF)
    unknown = [n for n in args.queries if n not in ent.oracle_sql()]
    if unknown:
        ap.error(f"no oracle-paired query named {unknown}")
    return args


def main():
    args = _parse_args()
    from pyspark.sql import SparkSession

    # vanilla session — deliberately NOT our tuned factory; the driver
    # brings its own. Keep default shuffle partitions etc.
    builder = SparkSession.builder.master("local[16]").appName("driver-sim")
    if args.tz:
        builder = builder.config("spark.sql.session.timeZone", args.tz).config(
            "spark.sql.shuffle.partitions", "7"
        )
    spark = builder.getOrCreate()

    # t1 smoke
    df = ent.entry(spark)
    rows = df.collect()
    print(f"t1 smoke: entry() -> {len(rows)} rows, schema={[f.name for f in df.schema.fields]}")
    assert len(rows) > 0

    names = args.queries or list(ent.oracle_sql())
    fails = []
    for res in run_all(spark, args.sf_dir, names):
        if res.ok:
            continue
        fails.append(res.name)
        print(f"  {res}", flush=True)
        for s, o in res.mismatches:
            print(f"    spark : {s}\n    oracle: {o}")
    tz = f" under session tz {args.tz}" if args.tz else ""
    print(f"t2: {len(names) - len(fails)}/{len(names)} oracle pairs hash-match at {args.sf_dir}{tz}")
    if fails:
        print("FAILURES:", fails)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

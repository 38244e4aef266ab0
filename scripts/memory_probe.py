#!/usr/bin/env python
"""Memory-pressure probe: do the expensive plans SPILL or OOM when
executor memory is a realistic fraction of the data?

Every other scale probe in this repo runs on a 125 GB box where the
10x fixtures fit in page cache many times over — it proves plans
parallelize, not that they survive memory pressure. At 100 TB,
completing-with-spill vs OOM is a first-class correctness property:
a plan whose hash aggregate or sort can't fall back to disk dies on
real executors no matter how well it scales on this box.

This script runs each probe query in a FRESH subprocess (own JVM) with
the heap capped (default 2g) and cores reduced (default local[8]) —
roughly the executor shape of a budget cluster node — against the
10x-replicated fixtures from scale_probe.py. Per query it records:

- outcome: ok / oom / error / timeout
- wall-clock under pressure
- spill and shuffle read/write bytes of the query's jobs, read by
  perfbench.spark_probe.SparkProbe from statusTracker and the status
  store (the same stage metrics a cluster operator would read), and
  the driver's peak JVM heap from the status store's executor list;
  the Spark UI stays off

The parent aggregates one markdown table (paste into BENCH.md). An
`ok` row with nonzero spill is the GOOD outcome at the
tight rung: the plan degraded to disk instead of dying. Spark's
SQL operators (hash agg, sort-merge join, window sort) all have
sort/spill fallbacks — this probe proves none of OUR compositions
(iterative checkpoint loops, applyInPandas session walks, pair-graph
builds) defeats them.

Usage:
  python scripts/memory_probe.py                   # default battery
  python scripts/memory_probe.py --heap 1g --cores 4
  python scripts/memory_probe.py --queries q5f_cc_star,q1q_quantile_sketch
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: the 10 most expensive rows of the 10x scale probe (BENCH.md), i.e.
#: the plans most likely to hold large hash tables / sort runs /
#: checkpoint state — plus q1w, the hottest densification-class row.
DEFAULT_QUERIES = [
    "q5f_cc_star",          # near-dup pair graph + star contraction
    "lsh_cross_decontam",   # cross-corpus LSH band explosion
    "q1q_quantile_sketch",  # compactor build + exact-rank verify arm
    "q1t_er_pipeline",      # blocking -> verify -> contraction chain
    "q3f_rfm_segments",     # 3x global_rank offset maps
    "q8f_pca_deflation",    # Gram matrix + two power chains
    "q5n_pagerank",         # iterative join+agg with checkpoints
    "q4z_theil_sen",        # calendar-bounded pair slopes
    "q9g_stream_stream_join",  # stream-stream interval join state
    "q8v_kmeans",           # Lloyd rounds, broadcast centroids
    "q1w_link_prediction_ra",  # RA wedge join (degree-budgeted)
]

OOM_MARKERS = (
    "java.lang.OutOfMemoryError",
    "Java heap space",
    "GC overhead limit exceeded",
    "SparkOutOfMemoryError",
    "Unable to acquire",  # TaskMemoryManager acquisition failure
)


def child(name: str, sf_dir: str) -> int:
    """Run ONE query under the capped session and print a MEMPROBE
    JSON line. Heap/cores arrive via SPARK_GRAFT_DRIVER_MEM and
    SPARK_GRAFT_CPUS (read by get_spark at JVM launch)."""
    from fcs_etl_reactor_spark.queries import QUERIES
    from fcs_etl_reactor_spark.session import get_spark, tune_for_input
    from perfbench.spark_probe import SparkProbe
    from scripts.scale_probe import _EXTRA_PROBES

    fn = QUERIES.get(name) or _EXTRA_PROBES.get(name)
    if fn is None:
        print(f"MEMPROBE {json.dumps({'query': name, 'outcome': 'unknown-query'})}")
        return 2
    spark = get_spark(
        app_name=f"mem-probe-{name}",
        extra_conf={
            # die fast on heap exhaustion instead of GC-thrashing, so
            # the parent classifies the run "oom", not "timeout"
            "spark.driver.extraJavaOptions": "-XX:+ExitOnOutOfMemoryError",
            # peak JVM metrics update on the heartbeat; poll every
            # second so short queries still report a real peak
            "spark.executor.metrics.pollingInterval": "1s",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    tune_for_input(spark, sf_dir)
    probe = SparkProbe(spark)
    group = probe.start(name)
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    counts = probe.collect(group)

    executors = spark.sparkContext._jsc.sc().statusStore().executorList(True)
    peak_heap = 0
    for i in range(executors.size()):
        peaks = executors.apply(i).peakMemoryMetrics()
        if peaks.isDefined():
            peak_heap = max(peak_heap, peaks.get().getMetricValue("JVMHeapMemory"))
    print(
        "MEMPROBE "
        + json.dumps(
            {
                "query": name,
                "outcome": "ok",
                "wall_s": round(wall, 2),
                "spill_mb": round(counts["spill_bytes"] / 1e6, 1),
                "shuffle_read_mb": round(counts["shuffle_read_bytes"] / 1e6, 1),
                "shuffle_write_mb": round(counts["shuffle_write_bytes"] / 1e6, 1),
                "peak_heap_mb": round(peak_heap / 1e6, 1),
            }
        ),
        flush=True,
    )
    return 0


def run_one(name: str, sf_dir: str, heap: str, cores: int, timeout_s: int) -> dict:
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM=heap, SPARK_GRAFT_CPUS=str(cores))
    cmd = [sys.executable, os.path.abspath(__file__), "--child", name, sf_dir]
    t0 = time.perf_counter()
    try:
        proc = subprocess.run(
            cmd, capture_output=True, text=True, timeout=timeout_s, env=env,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
    except subprocess.TimeoutExpired:
        return {"query": name, "outcome": "timeout", "wall_s": timeout_s}
    wall = time.perf_counter() - t0
    out = proc.stdout + proc.stderr
    for line in proc.stdout.splitlines():
        if line.startswith("MEMPROBE "):
            return json.loads(line[len("MEMPROBE "):])
    outcome = "oom" if any(m in out for m in OOM_MARKERS) else "error"
    tail = " | ".join(out.strip().splitlines()[-3:])[-300:]
    return {"query": name, "outcome": outcome, "wall_s": round(wall, 1), "err": tail}


def main() -> int:
    import argparse

    from scripts.cliutil import require_dir

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("sf_dir", nargs="?", default="/tmp/spark_graft_scale_probe",
                    help="fixture dir (default: the 10x scale-probe dir; "
                    "build it with scripts/scale_probe.py first)")
    ap.add_argument("--heap", default="2g", help="JVM heap cap (default 2g)")
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--timeout", type=int, default=900, help="per-query seconds")
    ap.add_argument("--queries", default=None,
                    help="comma-separated subset (default: the 11-query battery)")
    ap.add_argument("--child", nargs=2, metavar=("NAME", "SF"), default=None,
                    help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.child:
        return child(*args.child)
    require_dir(ap, args.sf_dir)
    probe = args.queries.split(",") if args.queries else DEFAULT_QUERIES

    print(f"# memory probe: heap={args.heap} local[{args.cores}] sf_dir={args.sf_dir}\n")
    rows = []
    for name in probe:
        r = run_one(name, args.sf_dir, args.heap, args.cores, args.timeout)
        rows.append(r)
        print(json.dumps(r), flush=True)

    print("\n| query | outcome | wall s | spill MB | shuffle w MB | peak heap MB |")
    print("|---|---|---|---|---|---|")
    for r in rows:
        print(
            f"| {r['query']} | {r['outcome']} | {r.get('wall_s', '')} | "
            f"{r.get('spill_mb', '')} | {r.get('shuffle_write_mb', '')} | "
            f"{r.get('peak_heap_mb', '')} |"
        )
    bad = [r["query"] for r in rows if r["outcome"] != "ok"]
    print(f"\n{len(rows) - len(bad)}/{len(rows)} completed under "
          f"{args.heap}/local[{args.cores}]; failures: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""End-to-end FCS ETL plan — the reference's full capability chain
(SURVEY.md §0.2 steps 1-6) as one lazy Spark plan:

    ingest (S4) → compensate (C1) → calibrate (C2) → gate (P2/P5)
    → summarize (A1-A5) → histogram (A11) → export (S5)

The ingest parses each file straight into wide event rows
(sources.fcs.read_fcs_wide), so everything up to the aggregations is a
single narrow pipeline — scan → mapInPandas parse → codegen
projections/filters — and the only shuffles are the per-sample
aggregations at the end, one for the stats and one for the histogram.
That is the 100 TB shape: files parallelize the scan, stats reduce
map-side. The point cloud is one projection (compensation, then
calibration, per channel) and at most one filter (the conjunction of
the gates). operators.gates builds every gate as a Column expression,
so with them the parse is the only Python in the plan.

The three outputs all derive from the gated point cloud.
``export_outputs`` persists it and submits the three writes at once
from a thread pool, so their job submission, planning and commit
overlap instead of queueing; the first write to reach a partition
computes its cached block and the others read it, so one export still
parses the input once.
"""

from __future__ import annotations

import operator
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fcs_etl_reactor_spark.io import write_parquet
from fcs_etl_reactor_spark.operators.beads import log_histogram
from fcs_etl_reactor_spark.operators.compensation import compensation_exprs
from fcs_etl_reactor_spark.sources.fcs import read_fcs_wide


def _stack(df: DataFrame, channels: list[str]) -> DataFrame:
    """Wide events → (sample_id, channel, value)."""
    args = ", ".join(f"'{c}', `{c}`" for c in channels)
    return df.select("sample_id", F.expr(f"stack({len(channels)}, {args}) AS (channel, value)"))


def channel_stats(df: DataFrame, channels: list[str]) -> DataFrame:
    """Per-sample-per-channel summary stats (the reference's stats CSV):
    count, mean, stddev, min/max, median, and geo-mean/geo-stddev over
    the positive values (null when a group has none), in one
    aggregation."""
    log_pos = F.when(F.col("value") > 0, F.log("value"))
    return (
        _stack(df, channels)
        .groupBy("sample_id", "channel")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.avg("value").alias("mean"),
            F.stddev_samp("value").alias("stddev"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
            F.percentile_approx("value", 0.5).alias("median_approx"),
            F.exp(F.avg(log_pos)).alias("geo_mean"),
            F.exp(F.stddev_samp(log_pos)).alias("geo_stddev"),
        )
    )


def export_outputs(
    outputs: dict[str, DataFrame], write: Callable[[str, DataFrame], None]
) -> None:
    """Call ``write(name, df)`` for every pipeline output, all at once,
    with the point cloud persisted: stats and histogram are built on it,
    so their plans read the cached rows instead of parsing the input
    again, and a block is computed once whichever write reaches it
    first. Each write runs on its own thread with the caller's job
    group, tags and local properties.

    Every write runs to its end even if another raises; then the first
    error in ``outputs`` order is re-raised, so a failed export may
    leave some outputs written. The cache is dropped once all writes
    have ended, whether or not one raised."""
    shared = outputs["point_cloud"].persist()
    inherit = inheritable_thread_target(shared.sparkSession)
    try:
        with ThreadPoolExecutor(len(outputs)) as pool:
            futures = [pool.submit(inherit(write), name, df) for name, df in outputs.items()]
        for future in futures:
            future.result()
    finally:
        shared.unpersist()


def run_fcs_pipeline(
    spark: SparkSession,
    fcs_path: str,
    channels: list[str],
    spillover_inverse: list[list[float]] | None = None,
    calibration: dict[str, tuple[float, float]] | None = None,
    gates: dict | None = None,
    output_path: str | None = None,
) -> dict[str, DataFrame]:
    """Run the reconstructed reference pipeline; returns the three
    reference outputs as DataFrames: point_cloud, stats, histogram.

    calibration maps channel → (a, b) for mefl = a*x + b (linear) —
    log-domain curves come from operators.beads.calibrate.
    """
    calibration = calibration or {}
    values = (
        compensation_exprs(channels, spillover_inverse)
        if spillover_inverse is not None
        else [F.col(c) for c in channels]
    )
    for i, ch in enumerate(channels):
        if ch in calibration:
            a, b = calibration[ch]
            values[i] = F.lit(a) * values[i] + F.lit(b)
    wide = read_fcs_wide(spark, fcs_path, channels).select(
        "sample_id", "event_id", *[v.alias(c) for c, v in zip(channels, values)]
    )
    if gates:
        wide = wide.filter(reduce(operator.and_, gates.values()))

    outputs = {
        "point_cloud": wide,
        "stats": channel_stats(wide, channels),
        "histogram": log_histogram(_stack(wide, channels), group_cols=["sample_id", "channel"]),
    }

    if output_path:
        export_outputs(
            outputs,
            lambda name, df: write_parquet(
                df,
                f"{output_path}/{name}",
                partition_by=["sample_id"] if name == "point_cloud" else None,
            ),
        )

    return outputs

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
map-side. The three outputs all derive from the gated point cloud;
``export_outputs`` persists it for the duration of the writes, so one
export parses the input once.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fcs_etl_reactor_spark.io import write_parquet
from fcs_etl_reactor_spark.operators.beads import log_histogram
from fcs_etl_reactor_spark.operators.compensation import compensate
from fcs_etl_reactor_spark.operators.gates import apply_gates
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
    """Call ``write(name, df)`` for every pipeline output with the point
    cloud persisted: stats and histogram are built on it, so their plans
    read the cached rows instead of parsing the input again. The cache
    is dropped when the writes end, whether or not one raised."""
    shared = outputs["point_cloud"].persist()
    try:
        for name, df in outputs.items():
            write(name, df)
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
    wide = read_fcs_wide(spark, fcs_path, channels)

    if spillover_inverse is not None:
        comp = compensate(wide, channels, spillover_inverse, keep=["sample_id", "event_id"])
        wide = comp.select(
            "sample_id",
            "event_id",
            *[F.col(f"comp_{c}").alias(c) for c in channels],
        )

    if calibration:
        for ch, (a, b) in calibration.items():
            wide = wide.withColumn(ch, F.lit(a) * F.col(ch) + F.lit(b))

    if gates:
        wide = apply_gates(wide, gates).filter(F.col("all_gates"))
        wide = wide.drop("all_gates", *gates.keys())

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

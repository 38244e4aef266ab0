#!/usr/bin/env python
"""Non-UTC driver-session probe: run the timestamp-heavy queries on a
SparkSession whose session timezone is America/New_York (odd shuffle
partition count too), and hash-compare against the naive-UTC DuckDB
oracles. io.load pins spark.sql.session.timeZone to UTC — this probe
proves that pin holds whatever session the driver brings.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

from fcs_etl_reactor_spark.queries import ORACLE, QUERIES
from fcs_etl_reactor_spark.testkit import schema_diff
from scripts.driver_sim import SF as DEFAULT_SF, TABLES, value_hash
from scripts.cliutil import sf_arg

TS_QUERIES = [
    "q41_event_gaps", "q47_time_frames", "q49_calendar_parts",
    "q62_datetime", "q95_tumbling_window", "q96_sliding_window",
    "q97_sessionization", "q98_streaming_tumbling",
    "q99_streaming_sessions", "q3a_funnel", "q3b_retention_cohorts",
    "q4d_gapfill", "q7e_equidepth_histogram", "q9a_watermark_late",
    "q9b_streaming_dedup", "q9c_stream_static_join",
    "q9d_stateful_counters", "q9e_foreach_batch_sink",
    "q9f_streaming_upsert", "q16_asof_join", "q42_running_total",
    "q2b_partition_pruned_scan", "q2c_recursive_month_spine",
    "q9g_stream_stream_join", "q7m_scd2_history", "q4f_interpolate",
    "q4g_ewma", "q3d_debounce", "q9h_stream_stream_left_outer",
    "q8q_group_ols",
    # round-5 continuation additions (timestamp-touching):
    "qt04_order_priority", "qt07_nation_volume", "qt12_ship_lag_priority",
    "qt20_excess_suppliers", "qt21_waiting_suppliers",
    "q4k_seasonal_decompose", "q3g_attribution", "q4l_bootstrap_ci",
    "q4m_chi_square", "q3i_top_paths", "q4o_kaplan_meier",
    "q4p_clamped_balance", "q4q_holt_forecast", "q3j_decayed_counts",
    "q4s_cusum", "q4t_interval_stabbing",
    "q4u_autocorrelation", "q9l_incremental_batches",
    # round-5 session additions (timestamp-touching):
    "q3k_pattern_vshape", "q4x_mutual_information", "q4y_dft_spectrum",
    "q4z_theil_sen", "q9o_dynamic_gap_sessions", "q9q_rocksdb_state_store",
    "q9r_chained_window_aggs", "q7x_psi_drift", "q3m_pacf",
    "q3n_interarrival", "q3o_rolling_wau", "q3q_dow_anomalies", "q7z_westgard_rules",
    # round-6 session additions (timestamp-touching):
    "q3r_funnel_conversion", "q3s_bh_fdr", "q3t_isotonic",
    "q1s_interval_union", "q3u_rolling_hll", "q3v_capped_sessions",
    # round-8 session additions (timestamp-touching):
    "q3x_changepoint",
    # round-9 session additions (timestamp-touching):
    "q3y_groups_frame",  # DATE peer groups derived from l_shipdate
    "q3z_frame_exclusion",  # day-index RANGE frames from o_orderdate
    # round-10 session additions (timestamp-touching):
    "q2y_keyset_pagination",  # seek predicate + output on o_orderdate
]


def main() -> int:
    sf = sf_arg(DEFAULT_SF)
    spark = (
        SparkSession.builder.master("local[16]")
        .appName("tz-probe")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.sql.shuffle.partitions", "7")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    bad = []
    for name in TS_QUERIES:
        try:
            sdf = QUERIES[name](spark, sf)
            srows = sdf.collect()
            rel = con.sql(ORACLE[name])
            orows = rel.fetchall()
            ok = (
                not schema_diff(sdf, rel)
                and len(srows) == len(orows)
                and value_hash(srows, sdf.columns)
                == value_hash(orows, list(rel.columns))
            )
        except Exception as exc:
            bad.append((name, repr(exc)[:160]))
            print(f"[ERR ] {name}: {exc}", flush=True)
            continue
        print(f"[{'OK  ' if ok else 'FAIL'}] {name}", flush=True)
        if not ok:
            bad.append((name, "hash/schema"))
    print(f"\n{len(TS_QUERIES) - len(bad)}/{len(TS_QUERIES)} green under "
          f"America/New_York session tz; failures: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Domain operators — the FCS pipeline re-expressed relationally
(SURVEY.md §2.9 C1-C5).

The reference pipeline (reconstructed in SURVEY §0.2; the checkout at
/root/reference is empty) is: compensate (spillover matrix multiply) →
calibrate (per-channel affine/log to MEFL) → gate → summarize →
histogram. The fixtures have no multi-channel FCS table, so C1/C2 are
exercised on a 3-"channel" frame built from lineitem measures — the
operator shape (broadcast matrix → generated per-row expressions) is
identical for real 12-channel cytometry data.

Scale: compensation is a per-row dense matvec with a broadcast
(channels × channels) matrix — generated column expressions keep it
inside WholeStageCodegen, zero Python, zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fcs_etl_reactor_spark.functions.exact import o_dsum
from fcs_etl_reactor_spark.io import load
from fcs_etl_reactor_spark.operators.compensation import compensate
from fcs_etl_reactor_spark.queries import query

# 3×3 inverse-spillover matrix for the synthetic channels
# (qty, price_k, disc); rows = output channel weights.
_COMP = [
    [1.0, -0.02, -0.001],
    [-0.05, 1.0, -0.002],
    [-0.01, -0.03, 1.0],
]
_CHANNELS = ["ch_qty", "ch_price_k", "ch_disc"]


def _channel_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return l.select(
        F.col("l_orderkey").alias("sample_id"),
        F.col("l_linenumber").alias("event_no"),
        F.col("l_quantity").alias("ch_qty"),
        (F.col("l_extendedprice") / 1000.0).alias("ch_price_k"),
        (F.col("l_discount") * 100.0).alias("ch_disc"),
    )


def _comp_sql_expr(i: int) -> str:
    terms = " + ".join(
        f"({_COMP[i][j]!r}) * ch_{n}" for j, n in enumerate(["qty", "price_k", "disc"])
    )
    return terms


@query(
    "q70_compensation",
    oracle=f"""
    WITH ch AS (
      SELECT
        l_orderkey AS sample_id,
        l_linenumber AS event_no,
        l_quantity AS ch_qty,
        l_extendedprice / 1000.0 AS ch_price_k,
        l_discount * 100.0 AS ch_disc
      FROM lineitem
    )
    SELECT
      sample_id, event_no,
      {_comp_sql_expr(0)} AS comp_ch_qty,
      {_comp_sql_expr(1)} AS comp_ch_price_k,
      {_comp_sql_expr(2)} AS comp_ch_disc
    FROM ch
    """,
)
def q70_compensation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: spillover compensation as generated expressions."""
    ch = _channel_frame(spark, sf_dir)
    return compensate(ch, _CHANNELS, _COMP, keep=["sample_id", "event_no"])


@query(
    "q71_calibration",
    oracle="""
    SELECT
      l_orderkey AS sample_id,
      l_linenumber AS event_no,
      2.5 * l_quantity + 10.0 AS mefl_linear,
      ROUND(POW(10, 0.8 * LOG10(l_extendedprice) + 0.2), 6) AS mefl_log
    FROM lineitem
    WHERE l_extendedprice > 0
    """,
)
def q71_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2: per-channel affine + log-domain calibration (MEFL units)."""
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") > 0)
    return l.select(
        F.col("l_orderkey").alias("sample_id"),
        F.col("l_linenumber").alias("event_no"),
        (2.5 * F.col("l_quantity") + 10.0).alias("mefl_linear"),
        F.round(F.pow(F.lit(10.0), 0.8 * F.log10("l_extendedprice") + 0.2), 6).alias(
            "mefl_log"
        ),
    )


# --------------------------------------------------------------------------
# q72 — long→wide pivot (C4): per-user event-type counts as columns.
# Values list is pinned so the schema is static (no extra pass) — at
# scale an unpinned pivot does a distinct scan first.
# --------------------------------------------------------------------------

_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


@query(
    "q72_pivot_wide",
    oracle="""
    SELECT
      user_id,
      COUNT(*) FILTER (WHERE event_type = 'click') AS click,
      COUNT(*) FILTER (WHERE event_type = 'view') AS view,
      COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
      COUNT(*) FILTER (WHERE event_type = 'error') AS error
    FROM events
    GROUP BY user_id
    """,
)
def q72_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, _EVENT_TYPES)
    )


# --------------------------------------------------------------------------
# q73 — wide→long unpivot (C4 reverse): lineitem measures to tidy
# (key, channel, value) triples — the engine-internal long format for
# dynamic-channel FCS data (SURVEY §1.1).
# --------------------------------------------------------------------------


@query(
    "q73_unpivot_long",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'qty' AS channel, l_quantity AS value FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'price', l_extendedprice FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'disc', l_discount FROM lineitem
    """,
)
def q73_unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(3, 'qty', l_quantity, 'price', l_extendedprice, 'disc', l_discount)"
            " AS (channel, value)"
        ),
    )


# --------------------------------------------------------------------------
# q75 — multimodal binary pipeline (L6): fixture documents become
# binary blobs (per-lang magic header + utf-8 payload), then the REAL
# media plumbing runs: magic-number sniffing and Arrow-batched
# byte-histogram feature extraction, aggregated per detected modality.
# The oracle recomputes what SQL can state exactly — the lang→modality
# routing and the byte volumes (octet_length of header‖utf8(text)) —
# and the features_ok boolean proves each extracted 8-bin histogram is
# a valid distribution (sums to 1 ± float32 rounding), so the decode
# path demonstrably ran over every blob.
# --------------------------------------------------------------------------


@query(
    "q75_multimodal_features",
    oracle="""
    SELECT
      CASE lang WHEN 'en' THEN 'image/png' WHEN 'de' THEN 'image/jpeg'
                WHEN 'fr' THEN 'audio/wav' WHEN 'es' THEN 'audio/mp3'
                ELSE 'video/mp4' END AS modality,
      COUNT(*) AS n_blobs,
      CAST(SUM(CASE lang WHEN 'en' THEN 6 WHEN 'de' THEN 4 WHEN 'fr' THEN 6
                    WHEN 'es' THEN 4 ELSE 8 END
          + OCTET_LENGTH(ENCODE(text))) AS BIGINT) AS sum_bytes,
      TRUE AS features_ok
    FROM documents
    GROUP BY 1
    """,
)
def q75_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fcs_etl_reactor_spark.operators.multimodal import (
        extract_features,
        sniff_media,
    )

    d = load(spark, sf_dir, "documents")
    header = (
        F.when(F.col("lang") == "en", F.lit(b"\x89PNG\r\n"))
        .when(F.col("lang") == "de", F.lit(b"\xff\xd8\xff\xe0"))
        .when(F.col("lang") == "fr", F.lit(b"RIFF\x00\x00"))
        .when(F.col("lang") == "es", F.lit(b"ID3\x03"))
        .otherwise(F.lit(b"\x00\x00\x00\x18ftyp"))
    )
    blobs = d.select(
        F.col("doc_id").cast("string").alias("path"),
        F.concat(header, F.encode("text", "utf-8")).alias("content"),
    )
    sniffed = sniff_media(blobs)
    feats = extract_features(sniffed, feature_dim=8)
    hist_sum = F.aggregate(
        "feature", F.lit(0.0), lambda acc, x: acc + x.cast("double")
    )
    per_blob = feats.join(
        sniffed.select("path", "n_bytes"), "path"
    ).select(
        "modality",
        "n_bytes",
        (F.abs(hist_sum - F.lit(1.0)) < F.lit(1e-3)).alias("_ok"),
    )
    return per_blob.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_blobs"),
        F.sum("n_bytes").alias("sum_bytes"),
        F.bool_and("_ok").alias("features_ok"),
    )


# --------------------------------------------------------------------------
# q76 — FCS write→parse roundtrip (S4): each event_type group becomes
# one synthetic float64 FCS file (spec-conformant header + TEXT +
# DATA built by make_fcs_bytes), which is immediately re-parsed by
# the production parser and summarized per channel — the ingest path
# exercised end-to-end inside the driver harness, on fixture-derived
# input. applyInPandas = one task per sample; at 100 TB samples are
# independent files (embarrassingly parallel).
# Float64 FCS roundtrips losslessly, so the per-channel scaled-int
# means equal the same statistics computed straight off the events
# table — which is exactly what the oracle does (VAL=value,
# USER=user_id), making the parser's output value-hash-verified.
# --------------------------------------------------------------------------


@query(
    "q76_fcs_roundtrip",
    oracle="""
    SELECT event_type AS sample_id, 'VAL' AS channel, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000000 / COUNT(*) AS mean_value
    FROM events GROUP BY event_type
    UNION ALL
    SELECT event_type, 'USER', COUNT(*),
           CAST(SUM(CAST(FLOOR(CAST(user_id AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
                AS DOUBLE) / 1000000 / COUNT(*)
    FROM events GROUP BY event_type
    """,
)
def q76_fcs_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fcs_etl_reactor_spark.sources.fcs import make_fcs_bytes, parse_fcs_bytes

    e = load(spark, sf_dir, "events")

    def roundtrip(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("event_id")
        sample = str(pdf["event_type"].iloc[0])
        mat = np.column_stack(
            [
                pdf["value"].to_numpy(np.float64),
                pdf["user_id"].to_numpy(np.float64),
            ]
        )
        blob = make_fcs_bytes(["VAL", "USER"], mat, datatype="D")
        _, channels, parsed = parse_fcs_bytes(blob)
        rows = []
        for i, ch in enumerate(channels):
            col = parsed[:, i]
            s = int(np.floor(col * 1e6 + 0.5).astype(np.int64).sum())
            rows.append((sample, ch, len(col), s / 1e6 / len(col)))
        return pd.DataFrame(rows, columns=["sample_id", "channel", "n", "mean_value"])

    return e.select("event_type", "event_id", "user_id", "value").groupBy(
        "event_type"
    ).applyInPandas(
        roundtrip, "sample_id string, channel string, n bigint, mean_value double"
    )


# --------------------------------------------------------------------------
# q77 — bead-calibration chain (C3): the TASBE color-model shape run
# on fixture data — events.value per event_type as the pseudo-bead
# samples: log10 histogram (A11) → lag/lead local-maxima peaks (W2) →
# per-sample np.polyfit via applyInPandas (U3). Raw rows never leave
# the executors; only ≤n_bins rows per sample reach the fit — the
# 100 TB-safe decomposition.
# The oracle replays the whole chain in SQL: histogram → peak rule →
# rank-matched ladder → REGR_SLOPE/REGR_INTERCEPT (a degree-1
# np.polyfit IS ordinary least squares; both sides round to 6dp to
# absorb lstsq-vs-closed-form last-ulp drift).
# --------------------------------------------------------------------------

_BEAD_LADDER = [2.0, 2.8, 3.5, 4.1, 4.7, 5.2]  # log10(MEFL), public TASBE-style


@query(
    "q77_bead_calibration",
    oracle=f"""
    WITH h AS (
      SELECT event_type AS sample_id,
             LEAST(GREATEST(CAST(FLOOR(LOG10(value) / 0.05) AS BIGINT), 0), 63) AS bin,
             COUNT(*) AS n
      FROM events WHERE value > 0 GROUP BY 1, 2
    ), hh AS (
      SELECT sample_id, bin, n, (bin + 0.5) * 0.05 AS bin_center,
             LAG(bin) OVER w AS pb, LAG(n) OVER w AS pn,
             LEAD(bin) OVER w AS nb, LEAD(n) OVER w AS nn
      FROM h WINDOW w AS (PARTITION BY sample_id ORDER BY bin)
    ), peaks AS (
      SELECT sample_id, bin_center FROM hh
      WHERE n >= 5
        AND n >  COALESCE(CASE WHEN pb = bin - 1 THEN pn ELSE 0 END, 0)
        AND n >= COALESCE(CASE WHEN nb = bin + 1 THEN nn ELSE 0 END, 0)
    ), ranked AS (
      SELECT sample_id, bin_center,
             ROW_NUMBER() OVER (PARTITION BY sample_id ORDER BY bin_center DESC) AS r,
             COUNT(*) OVER (PARTITION BY sample_id) AS n_peaks
      FROM peaks
    ), matched AS (
      SELECT sample_id, n_peaks, bin_center AS x,
             CASE r WHEN 1 THEN {_BEAD_LADDER[5]} WHEN 2 THEN {_BEAD_LADDER[4]}
                    WHEN 3 THEN {_BEAD_LADDER[3]} WHEN 4 THEN {_BEAD_LADDER[2]}
                    WHEN 5 THEN {_BEAD_LADDER[1]} WHEN 6 THEN {_BEAD_LADDER[0]}
             END AS y
      FROM ranked WHERE r <= 6
    )
    SELECT sample_id,
           ROUND(REGR_SLOPE(y, x), 6) AS slope,
           ROUND(REGR_INTERCEPT(y, x), 6) AS intercept,
           MAX(n_peaks) AS n_peaks
    FROM matched GROUP BY sample_id
    """,
)
def q77_bead_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fcs_etl_reactor_spark.operators.beads import (
        find_peaks,
        fit_calibration,
        log_histogram,
    )

    e = load(spark, sf_dir, "events").select(
        F.col("event_type").alias("sample_id"), "value"
    )
    hist = log_histogram(e, "value", ["sample_id"], lo=0.0, step=0.05, n_bins=64)
    peaks = find_peaks(hist, ["sample_id"], min_count=5)
    fit = fit_calibration(peaks, _BEAD_LADDER)
    return fit.select(
        "sample_id",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
        "n_peaks",
    )


# --------------------------------------------------------------------------
# q7h — arcsinh cofactor transform (the standard cytometry variance-
# stabilizing transform; flowCore's logicle is its iterative cousin,
# arcsinh(x/c) the accepted closed form — cofactor 5 per CyTOF
# convention, 150 for fluorescence). Computed as ln(x+√(x²+1)) on
# BOTH engines (DuckDB 1.0 has no ASINH; the identical expression
# graph keeps the float paths aligned, and 9-dp rounding absorbs the
# last-ulp libm-vs-JVM drift). Pure codegen — the transform adds zero
# shuffles to any plan it feeds.
# --------------------------------------------------------------------------


@query(
    "q7h_arcsinh_transform",
    oracle="""
    WITH t AS (
      SELECT l_returnflag,
             l_quantity / 5.0 AS x
      FROM lineitem
    )
    SELECT l_returnflag,
           COUNT(*) AS n,
           ROUND(MIN(LN(x + SQRT(x * x + 1))), 9) AS asinh_min,
           ROUND(MAX(LN(x + SQRT(x * x + 1))), 9) AS asinh_max,
           ROUND(CAST(CAST(SUM(CAST(FLOOR(LN(x + SQRT(x * x + 1)) * 1000000000.0)
                       AS HUGEINT)) AS DOUBLE) / 1000000000.0 AS DOUBLE), 6)
             AS asinh_sum
    FROM t GROUP BY l_returnflag
    """,
)
def q7h_arcsinh_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    x = F.col("l_quantity") / 5.0
    a = F.log(x + F.sqrt(x * x + 1))
    scaled = F.floor(a * 1_000_000_000.0).cast("decimal(38,0)")
    return l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min(a), 9).alias("asinh_min"),
        F.round(F.max(a), 9).alias("asinh_max"),
        F.round(
            (F.sum(scaled).cast("double") / 1_000_000_000.0).cast("double"), 6
        ).alias("asinh_sum"),
    )


# --------------------------------------------------------------------------
# q7i — cross-sample quantile normalization (the flowCore/limma-style
# batch-effect correction): each sample's value distribution is mapped
# onto the average quantile profile across samples. Rows rank into 100
# equal-population buckets per sample (deterministic ntile tie-break),
# the per-(sample, bucket) means average across samples per bucket,
# and every row's normalized value is its bucket's cross-sample
# target. Two window-free aggregations after the ntile sort; the
# bucket tables are (samples × 100) rows — metadata-sized at any
# corpus scale. Exact scaled-integer arithmetic end-to-end.
# --------------------------------------------------------------------------


@query(
    "q7i_quantile_normalization",
    oracle="""
    WITH b AS (
      SELECT l_returnflag AS sample_id, l_quantity,
             NTILE(100) OVER (PARTITION BY l_returnflag
                              ORDER BY l_quantity, l_orderkey, l_linenumber)
               AS bucket
      FROM lineitem
    ), bm AS (
      SELECT sample_id, bucket,
             COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS HUGEINT)) AS DOUBLE)
               / 100.0 / COUNT(*) AS bucket_mean
      FROM b GROUP BY 1, 2
    )
    SELECT sample_id, CAST(bucket AS INTEGER) AS bucket, n,
           ROUND(bucket_mean, 9) AS bucket_mean,
           ROUND(CAST(SUM(CAST(FLOOR(bucket_mean * 1000000.0) AS HUGEINT))
                        OVER (PARTITION BY bucket) AS DOUBLE)
                 / 1000000.0
                 / (COUNT(*) OVER (PARTITION BY bucket)), 9) AS target
    FROM bm
    """,
)
def q7i_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    l = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_quantity", "l_orderkey", "l_linenumber"
    )
    b = l.select(
        F.col("l_returnflag").alias("sample_id"),
        "l_quantity",
        F.ntile(100).over(w).alias("bucket"),
    )
    bm = b.groupBy("sample_id", "bucket").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.floor(F.col("l_quantity") * 100 + 0.5).cast("long")).cast("double")
            / 100.0
            / F.count(F.lit(1))
        ).alias("bucket_mean"),
    )
    # cross-sample target per bucket: floor-scaled so the 3-addend
    # double sum is partition-order independent
    wb = Window.partitionBy("bucket")
    target = (
        F.sum(F.floor(F.col("bucket_mean") * 1_000_000.0).cast("long")).over(wb)
        .cast("double")
        / 1_000_000.0
        / F.count(F.lit(1)).over(wb)
    )
    return bm.select(
        "sample_id",
        "bucket",
        "n",
        F.round("bucket_mean", 9).alias("bucket_mean"),
        F.round(target, 9).alias("target"),
    )


# --------------------------------------------------------------------------
# q7j — the FULL reference pipeline chain as one driver-verified query:
# FCS binary ingest (S4) → spillover compensation (C1) → affine MEFL
# calibration (C2) → range gate (P2) → per-sample exact stats (A1).
# Input FCS files are rendered from events (one float64 file per
# event_type — lossless roundtrip), so the oracle replays the whole
# chain arithmetically from the events table. This is plans/
# fcs_pipeline.py's shape with the stats stage swapped for exact
# scaled-integer aggregation (driver hashes need bit-equality, not
# float avg/stddev). One narrow pipeline scan→parse→codegen through
# the gate; the only shuffle is the final per-sample aggregation.
# --------------------------------------------------------------------------

_PIPE_ROOT = "/tmp/spark_graft_fcs_pipe"


def _fcs_pipeline_dir(spark: SparkSession, sf_dir: str) -> str:
    """One float64 FCS file per event_type, rendered on executors
    (local mode: shared FS) — fingerprint-keyed like the stream dirs."""
    import os
    import shutil

    from fcs_etl_reactor_spark.io import source_fingerprint

    key = (
        sf_dir.rstrip("/").strip("/").replace("/", "_")
        + "_"
        + source_fingerprint(sf_dir, "events")
    )
    dest = os.path.join(_PIPE_ROOT, key)
    marker = os.path.join(dest, "_READY")
    if not os.path.exists(marker):
        shutil.rmtree(dest, ignore_errors=True)
        os.makedirs(dest, exist_ok=True)
        e = load(spark, sf_dir, "events")

        def render(pdf):
            import numpy as np
            import pandas as pd

            from fcs_etl_reactor_spark.sources.fcs import make_fcs_bytes

            pdf = pdf.sort_values("event_id")
            sample = str(pdf["event_type"].iloc[0])
            mat = np.column_stack(
                [
                    pdf["value"].to_numpy(np.float64),
                    pdf["user_id"].to_numpy(np.float64),
                ]
            )
            blob = make_fcs_bytes(["VAL", "USER"], mat, datatype="D")
            with open(os.path.join(dest, f"{sample}.fcs"), "wb") as fh:
                fh.write(blob)
            return pd.DataFrame({"sample_id": [sample]})

        e.select("event_type", "event_id", "user_id", "value").groupBy(
            "event_type"
        ).applyInPandas(render, "sample_id string").collect()
        with open(marker, "w") as fh:
            fh.write("ok")
    return dest


@query(
    "q7j_fcs_pipeline",
    # the chain replayed from events: comp_val = value − 0.1·user,
    # cal = 2·comp + 10, gate 10 ≤ cal ≤ 400 — identical double ops
    oracle="""
    WITH chain AS (
      SELECT event_type AS sample_id,
             2.0 * (value - 0.1 * CAST(user_id AS DOUBLE)) + 10.0 AS cal_val,
             CAST(user_id AS DOUBLE) AS usr
      FROM events
    )
    SELECT sample_id, COUNT(*) AS n_gated,
           CAST(SUM(CAST(FLOOR(cal_val * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000000 / COUNT(*) AS mean_cal_val,
           CAST(SUM(CAST(FLOOR(usr * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000000 / COUNT(*) AS mean_user
    FROM chain
    WHERE cal_val BETWEEN 10.0 AND 400.0
    GROUP BY sample_id
    """,
)
def q7j_fcs_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fcs_etl_reactor_spark.operators.gates import apply_gates, range_gate
    from fcs_etl_reactor_spark.sources.fcs import read_fcs_wide

    src = _fcs_pipeline_dir(spark, sf_dir)
    wide = read_fcs_wide(spark, src + "/*.fcs", ["VAL", "USER"])
    # row i of the matrix is comp_channel_i's weights over raw channels
    comp = compensate(
        wide, ["VAL", "USER"], [[1.0, -0.1], [0.0, 1.0]],
        keep=["sample_id", "event_id"],
    )
    cal = comp.select(
        F.regexp_replace("sample_id", r"\.fcs$", "").alias("sample_id"),
        (2.0 * F.col("comp_VAL") + 10.0).alias("cal_val"),
        F.col("comp_USER").alias("usr"),
    )
    gated = apply_gates(cal, {"in_range": range_gate("cal_val", 10.0, 400.0)}).filter(
        F.col("all_gates")
    )
    scaled = lambda c: F.sum(F.floor(F.col(c) * 1e6 + 0.5).cast("long")).cast(  # noqa: E731
        "double"
    ) / 1e6 / F.count(F.lit(1))
    return gated.groupBy("sample_id").agg(
        F.count(F.lit(1)).alias("n_gated"),
        scaled("cal_val").alias("mean_cal_val"),
        scaled("usr").alias("mean_user"),
    )


# --------------------------------------------------------------------------
# q7s — spillover-matrix ESTIMATION from single-stain controls (C8).
# q70 APPLIES a known compensation matrix; the reference pipeline's
# color-model build step goes the other way: for each single-stain
# control sample, the spillover coefficient into every secondary
# channel is the through-origin regression slope
# s_j = Σ(obs_j·v) / Σ(v²) over that control's events.
#
# Fixture mapping (the q77 convention — fixtures re-interpreted as
# cytometry): each event_type is one control sample, `value` is the
# primary-channel signal, and two secondary channels are synthesized
# per event with a deterministic md5 "noise" term so the estimator has
# real residuals to average out. The oracle replays the identical
# synthesis + the identical scaled-long sums, so parity checks the
# ESTIMATOR's arithmetic, not a hardcoded truth.
#
# Scale shape: pure per-row expressions + one groupBy(sample) of four
# exact sums — map-side combinable, one shuffle, any number of events.
# --------------------------------------------------------------------------


def _spill_noise_sql(tag: str) -> str:
    return (
        f"(CAST(('0x' || SUBSTR(MD5(CAST(event_id AS VARCHAR) || '{tag}'), 1, 8)) "
        "AS BIGINT) / 4294967296.0 - 0.5)"
    )


@query(
    "q7s_spillover_estimate",
    oracle=f"""
    WITH obs AS (
      SELECT event_type AS sample_id, value AS v,
             0.12 * value + 2.0 * {_spill_noise_sql('chA')} AS obs_a,
             0.05 * value + 2.0 * {_spill_noise_sql('chB')} AS obs_b
      FROM events WHERE value > 0
    ),
    s AS (
      SELECT sample_id,
             COUNT(*) AS n_events,
             {o_dsum("obs_a * v", "sxa", "10000.0")},
             {o_dsum("obs_b * v", "sxb", "10000.0")},
             {o_dsum("v * v", "sxx", "10000.0")}
      FROM obs GROUP BY sample_id
    )
    SELECT sample_id, CAST(n_events AS BIGINT) AS n_events,
           ROUND(sxa / sxx, 9) AS spill_a,
           ROUND(sxb / sxx, 9) AS spill_b
    FROM s
    """,
)
def q7s_spillover_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fcs_etl_reactor_spark.functions.exact import dsum

    def noise(tag: str):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("event_id").cast("string"), F.lit(tag))),
                    1, 8,
                ),
                16, 10,
            ).cast("bigint")
            / F.lit(4294967296.0)
            - F.lit(0.5)
        )

    e = load(spark, sf_dir, "events").filter(F.col("value") > 0)
    obs = e.select(
        F.col("event_type").alias("sample_id"),
        F.col("value").alias("v"),
        (0.12 * F.col("value") + 2.0 * noise("chA")).alias("obs_a"),
        (0.05 * F.col("value") + 2.0 * noise("chB")).alias("obs_b"),
    )
    s = obs.groupBy("sample_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("obs_a") * F.col("v"), "sxa", scale=1e4),
        dsum(F.col("obs_b") * F.col("v"), "sxb", scale=1e4),
        dsum(F.col("v") * F.col("v"), "sxx", scale=1e4),
    )
    return s.select(
        "sample_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round(F.col("sxa") / F.col("sxx"), 9).alias("spill_a"),
        F.round(F.col("sxb") / F.col("sxx"), 9).alias("spill_b"),
    )


# --------------------------------------------------------------------------
# q7t — per-sample QC report (C-family): the acquisition-quality
# screen a cytometry pipeline runs before any analysis — event count,
# saturation fraction (signal pinned at the detector ceiling),
# negative/zero fraction (air bubbles / electronic noise), and TIME
# DRIFT (regression slope of signal vs acquisition time; a clogged
# flow cell shows as a trend). Fixture mapping as in q77: event_type
# = sample, value = channel signal, ts = acquisition clock. One
# groupBy pass of exact sums; the drift slope reuses the q8q
# normal-equation shape with x = seconds since epoch start scaled to
# hours (keeps the scaled-long products in range).
# --------------------------------------------------------------------------

_QC_SATURATION = 950.0  # detector ceiling in fixture units
# time origin for the drift regressor: hours since 2024-01-01 rather
# than since 1970 — slope is shift-invariant, and keeping |t_h| small
# (0..~10^3) keeps t_h^2 inside the scaled-long accumulator at ANY
# corpus size (hours-since-epoch squared overflows it at ~20k rows)
_QC_T0_US = 1_704_067_200_000_000


@query(
    "q7t_qc_report",
    oracle=f"""
    WITH x AS (
      SELECT event_type AS sample_id, value,
             (EPOCH_US(ts) - 1704067200000000) / 3600000000.0 AS t_h
      FROM events
    ),
    s AS (
      SELECT sample_id,
             COUNT(*) AS n,
             COUNT(*) FILTER (value >= {_QC_SATURATION}) AS n_sat,
             COUNT(*) FILTER (value <= 0) AS n_nonpos,
             SUM(CAST(FLOOR(t_h * 1000000.0 + 0.5) AS BIGINT)) AS sx_scaled,
             {o_dsum("t_h * t_h", "sxx", "10000.0")},
             {o_dsum("value", "sy", "10000.0")},
             {o_dsum("t_h * value", "sxy", "100.0")}
      FROM x GROUP BY sample_id
    )
    SELECT sample_id, CAST(n AS BIGINT) AS n_events,
           ROUND(CAST(n_sat AS DOUBLE) / n, 9) AS saturation_frac,
           ROUND(CAST(n_nonpos AS DOUBLE) / n, 9) AS nonpos_frac,
           ROUND((n * sxy - (CAST(sx_scaled AS DOUBLE) / 1000000.0) * sy)
                 / (n * sxx - (CAST(sx_scaled AS DOUBLE) / 1000000.0)
                              * (CAST(sx_scaled AS DOUBLE) / 1000000.0)), 6)
             AS drift_per_hour
    FROM s
    """,
)
def q7t_qc_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fcs_etl_reactor_spark.functions.exact import dsum

    e = load(spark, sf_dir, "events")
    t_h = (F.unix_micros("ts") - F.lit(_QC_T0_US)) / F.lit(3600000000.0)
    x = e.select(
        F.col("event_type").alias("sample_id"),
        "value",
        t_h.alias("t_h"),
    )
    s = x.groupBy("sample_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("value") >= _QC_SATURATION, 1)).alias("n_sat"),
        F.count(F.when(F.col("value") <= 0, 1)).alias("n_nonpos"),
        F.sum(F.floor(F.col("t_h") * 1e6 + F.lit(0.5)).cast("long")).alias(
            "sx_scaled"
        ),
        dsum(F.col("t_h") * F.col("t_h"), "sxx", scale=1e4),
        dsum("value", "sy", scale=1e4),
        dsum(F.col("t_h") * F.col("value"), "sxy", scale=1e2),
    )
    sx = F.col("sx_scaled").cast("double") / F.lit(1e6)
    slope = (F.col("n") * F.col("sxy") - sx * F.col("sy")) / (
        F.col("n") * F.col("sxx") - sx * sx
    )
    return s.select(
        "sample_id",
        F.col("n").cast("bigint").alias("n_events"),
        F.round(F.col("n_sat").cast("double") / F.col("n"), 9).alias(
            "saturation_frac"
        ),
        F.round(F.col("n_nonpos").cast("double") / F.col("n"), 9).alias(
            "nonpos_frac"
        ),
        F.round(slope, 6).alias("drift_per_hour"),
    )


# --------------------------------------------------------------------------
# q7w — doublet-discrimination gate (C-family): the standard
# cytometry preprocessing step that precedes every analysis gate —
# events whose pulse AREA exceeds pulse HEIGHT by more than a
# tolerance ratio are coincident doublets and are dropped, reported
# per sample. On the synthetic channel frame, area = price/1000 and
# height = area / (1 + tax) (tax models the pulse widening), so the
# area/height ratio gate is the same division-and-compare expression
# a real FSC-A/FSC-H gate runs; both engines evaluate the identical
# IEEE chain, so the keep decision never flips. Retained-population
# stats use the exact scaled-long mean.
# Scale: pure per-row expression gate at scan parallelism + one
# sample-keyed aggregation — the same shape as q70's compensation.
# --------------------------------------------------------------------------

_DBL_RATIO = 1.06


@query(
    "q7w_doublet_gate",
    oracle=f"""
    WITH ch AS (
      SELECT l_orderkey AS sample_id,
             l_extendedprice / 1000.0 AS area,
             (l_extendedprice / 1000.0) / (1.0 + l_tax) AS height,
             l_quantity AS ch_qty
      FROM lineitem
    )
    SELECT sample_id,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN area / height <= {_DBL_RATIO}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_singlets,
           CAST(SUM(CASE WHEN area / height <= {_DBL_RATIO}
                         THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS singlet_rate,
           CAST(SUM(CASE WHEN area / height <= {_DBL_RATIO}
                         THEN CAST(FLOOR(ch_qty * 100.0 + 0.5) AS BIGINT)
                         ELSE 0 END) AS DOUBLE) / 100.0
             AS singlet_qty_sum
    FROM ch GROUP BY sample_id
    """,
)
def q7w_doublet_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    area = F.col("l_extendedprice") / F.lit(1000.0)
    height = (F.col("l_extendedprice") / F.lit(1000.0)) / (
        F.lit(1.0) + F.col("l_tax")
    )
    singlet = (area / height) <= F.lit(_DBL_RATIO)
    qty_scaled = F.floor(F.col("l_quantity") * F.lit(100.0) + F.lit(0.5)).cast(
        "long"
    )
    return (
        l.select(
            F.col("l_orderkey").alias("sample_id"),
            singlet.alias("s"),
            qty_scaled.alias("q"),
        )
        .groupBy("sample_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("s"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_singlets"),
            (
                F.sum(F.when(F.col("s"), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("singlet_rate"),
            (
                F.sum(F.when(F.col("s"), F.col("q")).otherwise(0)).cast("double")
                / 100.0
            ).alias("singlet_qty_sum"),
        )
    )


# --------------------------------------------------------------------------
# q7y — batch-effect correction by median alignment: acquisition
# batches (deterministic user_id % 4 stands in for the cytometer run)
# drift in level; the standard first-line correction shifts each
# batch so its median matches the global median. Per-batch exact
# medians (QUANTILE_CONT ≡ Spark percentile) and the derived shifts
# are the whole computation — one groupBy for batch medians, a 1-row
# global broadcast, and the shifted-median identity
# median(v + c) = median(v) + c makes the post-correction check
# exact. Rounded to 6 dp on both engines (q23's discipline).
# --------------------------------------------------------------------------


@query(
    "q7y_batch_effect",
    oracle="""
    WITH b AS (
      SELECT user_id % 4 AS batch, value FROM events
    ),
    med AS (
      SELECT batch, COUNT(*) AS n,
             QUANTILE_CONT(value, 0.5) AS batch_median
      FROM b GROUP BY batch
    ),
    g AS (SELECT QUANTILE_CONT(value, 0.5) AS global_median FROM b)
    SELECT CAST(batch AS BIGINT) AS batch,
           CAST(n AS BIGINT) AS n,
           ROUND(batch_median, 6) AS batch_median,
           ROUND(global_median - batch_median, 6) AS shift,
           ROUND(batch_median + (global_median - batch_median), 6)
             AS post_median
    FROM med, g
    """,
)
def q7y_batch_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    b = e.select((F.col("user_id") % 4).alias("batch"), "value")
    med = b.groupBy("batch").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile("value", F.lit(0.5)).alias("batch_median"),
    )
    g = b.agg(F.percentile("value", F.lit(0.5)).alias("global_median"))
    return med.crossJoin(F.broadcast(g)).select(
        F.col("batch").cast("bigint").alias("batch"),
        F.col("n").cast("bigint").alias("n"),
        F.round("batch_median", 6).alias("batch_median"),
        F.round(F.col("global_median") - F.col("batch_median"), 6).alias("shift"),
        F.round(
            F.col("batch_median") + (F.col("global_median") - F.col("batch_median")),
            6,
        ).alias("post_median"),
    )


# --------------------------------------------------------------------------
# q7z — Levey-Jennings / Westgard QC rules on a control series: the
# rule engine a clinical/cytometry lab runs over nightly control
# measurements. Control series = mean purchase value per day (stand-in
# for the bead-control channel); limits from the series' own exact
# integer sums; rules evaluated on the 9-dp-ROUNDED z so thresholds
# can never straddle an engine ulp: 1_3s (|z| > 3) and 2_2s (two
# consecutive beyond 2σ on the same side, via one lag). One bucket
# agg + one ordered window over the day series (calendar-bounded).
# --------------------------------------------------------------------------


@query(
    "q7z_westgard_rules",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS sc,
             COUNT(*) AS n
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    series AS (
      SELECT d, CAST(sc AS DOUBLE) / 100.0 / n AS m FROM daily
    ),
    stats AS (
      SELECT COUNT(*) AS k,
             CAST(SUM(CAST(FLOOR(m * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1000000.0 AS sm,
             CAST(SUM(CAST(FLOOR(m * m * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1000000.0 AS smm
      FROM series
    ),
    z AS (
      SELECT d,
             ROUND((m - sm / k)
                   / NULLIF(SQRT(smm / k - (sm / k) * (sm / k)), 0), 9) AS zs
      FROM series, stats
    ),
    flagged AS (
      SELECT d, zs, LAG(zs) OVER (ORDER BY d) AS prev
      FROM z
    )
    SELECT d AS day, zs AS z_score,
           CASE WHEN ABS(zs) > 3.0 THEN '1_3s'
                WHEN zs > 2.0 AND prev > 2.0 THEN '2_2s'
                WHEN zs < -2.0 AND prev < -2.0 THEN '2_2s'
           END AS rule
    FROM flagged
    WHERE ABS(zs) > 3.0
       OR (zs > 2.0 AND prev > 2.0)
       OR (zs < -2.0 AND prev < -2.0)
    """,
)
def q7z_westgard_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    daily = e.filter(F.col("event_type") == "purchase").groupBy(
        F.to_date("ts").alias("d")
    ).agg(
        F.sum(F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("sc"),
        F.count(F.lit(1)).alias("n"),
    )
    series = daily.select(
        "d", (F.col("sc").cast("double") / F.lit(100.0) / F.col("n")).alias("m")
    )

    def rsum(term, name):
        return (
            F.sum(F.floor(term * F.lit(1e6) + F.lit(0.5)).cast("bigint")).cast(
                "double"
            )
            / F.lit(1e6)
        ).alias(name)

    stats = series.agg(
        F.count(F.lit(1)).alias("k"),
        rsum(F.col("m"), "sm"),
        rsum(F.col("m") * F.col("m"), "smm"),
    )
    mu = F.col("sm") / F.col("k")
    sd = F.sqrt(F.col("smm") / F.col("k") - mu * mu)
    z = series.crossJoin(F.broadcast(stats)).select(
        "d", F.round((F.col("m") - mu) / F.nullif(sd, F.lit(0.0)), 9).alias("zs")
    )
    w = Window.orderBy("d")  # calendar-bounded series (≤ #days rows)
    flagged = z.select("d", "zs", F.lag("zs").over(w).alias("prev"))
    rule = (
        F.when(F.abs(F.col("zs")) > 3.0, "1_3s")
        .when((F.col("zs") > 2.0) & (F.col("prev") > 2.0), "2_2s")
        .when((F.col("zs") < -2.0) & (F.col("prev") < -2.0), "2_2s")
    )
    return (
        flagged.select(F.col("d").alias("day"), F.col("zs").alias("z_score"), rule.alias("rule"))
        .filter(F.col("rule").isNotNull())
    )

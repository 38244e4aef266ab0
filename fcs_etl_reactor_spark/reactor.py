"""Message-driven entry point — the reactor surface, Spark-native.

The reference is an Abaco actor: it receives a JSON message naming
FCS inputs + instrument/color-model config, validates it against a
JSON Schema, and triggers the compute pipeline (SURVEY.md §0.2,
[public: SD2E/fcs-etl-reactor, reconstruction]). This module is that
surface re-expressed for this engine: a validated message dict goes
in, the full lazy pipeline plan (plans/fcs_pipeline.py) runs, and the
three reference outputs (point cloud, per-channel stats, histograms)
come back / are exported.

No Abaco, no Agave jobs: `handle_message` is a plain function so any
scheduler (Airflow task, Lambda, spark-submit step, REST shim) can be
the trigger — at 100 TB the orchestration layer is whatever the
deployment already runs; the engine contract is just (message → data).

Message shape (all validation errors are collected and reported
together, like a JSON-Schema report — not first-error-wins):

    {
      "fcs_dir": "/path/to/*.fcs",          required
      "channels": ["FSC-A", ...],           required, non-empty
      "spillover_inverse": [[...], ...],    optional, |ch| × |ch|
      "calibration": {"FL1-A": [a, b]},     optional per-channel affine
      "gates": {...},                       optional (operators/gates)
      "output_dir": "/path/out",            optional → CSV export
    }
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import SparkSession

REQUIRED = ("fcs_dir", "channels")


def validate_message(msg: dict) -> list[str]:
    """Collect ALL problems (the reference's jsonschema behavior)."""
    errors = []
    if not isinstance(msg, dict):
        return ["message must be a JSON object"]
    for key in REQUIRED:
        if key not in msg:
            errors.append(f"missing required field: {key}")
    if "fcs_dir" in msg and not isinstance(msg["fcs_dir"], str):
        errors.append("fcs_dir must be a string path")
    channels = msg.get("channels")
    if "channels" in msg and (
        not isinstance(channels, list)
        or not channels
        or not all(isinstance(c, str) for c in channels)
    ):
        errors.append("channels must be a non-empty list of strings")
    spill = msg.get("spillover_inverse")
    if spill is not None:
        if not isinstance(channels, list) or not channels:
            # shape is defined relative to channels; checking against
            # n=0 would emit a misleading "0×0 matrix" error on top of
            # the channels error already collected above
            errors.append(
                "spillover_inverse requires a valid channels list to "
                "check its shape against"
            )
        else:
            n = len(channels)
            ok = (
                isinstance(spill, list)
                and len(spill) == n
                and all(
                    isinstance(r, list)
                    and len(r) == n
                    and all(
                        isinstance(x, (int, float)) and not isinstance(x, bool)
                        for x in r
                    )
                    for r in spill
                )
            )
            if not ok:
                errors.append(
                    "spillover_inverse must be a |channels|×|channels| "
                    "matrix of numbers"
                )
    calib = msg.get("calibration")
    if calib is not None:
        if not isinstance(calib, dict):
            errors.append("calibration must map channel -> [a, b]")
        else:
            known = set(channels or [])
            for ch, ab in calib.items():
                if ch not in known:
                    errors.append(f"calibration for unknown channel: {ch}")
                if not (
                    isinstance(ab, (list, tuple))
                    and len(ab) == 2
                    and all(
                        isinstance(x, (int, float)) and not isinstance(x, bool)
                        for x in ab
                    )
                ):
                    errors.append(f"calibration[{ch}] must be [a, b] numbers")
    if "output_dir" in msg and not isinstance(msg["output_dir"], str):
        errors.append("output_dir must be a string path")
    return errors


def handle_message(spark: SparkSession, msg: dict) -> dict:
    """Validate, run the pipeline, export if asked.

    Returns {"outputs": {name: DataFrame}, "written": [paths]}, with
    ``written`` in ``outputs`` order. The export writes the three CSVs
    concurrently over one shared parse of the input
    (plans.fcs_pipeline.export_outputs); if a write fails, the other
    writes still finish and the first error is raised, so a failed
    message may leave some outputs on disk. The returned DataFrames
    stay lazy and uncached: the shared cache is dropped before
    returning, so a caller can chain further plans onto them without
    holding cached blocks.
    """
    from fcs_etl_reactor_spark.io import write_csv
    from fcs_etl_reactor_spark.plans.fcs_pipeline import export_outputs, run_fcs_pipeline

    errors = validate_message(msg)
    if errors:
        raise ValueError("invalid message: " + "; ".join(errors))

    calibration = (
        {ch: (float(a), float(b)) for ch, (a, b) in msg["calibration"].items()}
        if msg.get("calibration")
        else None
    )
    outputs = run_fcs_pipeline(
        spark,
        msg["fcs_dir"],
        list(msg["channels"]),
        spillover_inverse=msg.get("spillover_inverse"),
        calibration=calibration,
        gates=msg.get("gates"),
        output_path=None,  # export handled here so formats stay in one place
    )
    written = []
    out_dir = msg.get("output_dir")
    if out_dir:
        dests = {name: f"{out_dir.rstrip('/')}/{name}" for name in outputs}
        export_outputs(outputs, lambda name, df: write_csv(df, dests[name]))
        written = list(dests.values())
    return {"outputs": outputs, "written": written}


def main(argv: list[str] | None = None) -> int:
    """CLI: `python -m fcs_etl_reactor_spark.reactor message.json`."""
    from fcs_etl_reactor_spark.session import get_spark

    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 1:
        print("usage: python -m fcs_etl_reactor_spark.reactor <message.json>")
        return 2
    with open(argv[0]) as fh:
        msg = json.load(fh)
    spark = get_spark(app_name="fcs-etl-reactor")
    result = handle_message(spark, msg)
    summary = {
        "outputs": {name: df.count() for name, df in result["outputs"].items()},
        "written": result["written"],
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Reactor-surface tests: message validation, end-to-end dispatch,
CSV export, CLI summary."""

import json

import numpy as np
import pytest
from pyspark import StorageLevel

from fcs_etl_reactor_spark.reactor import handle_message, validate_message
from fcs_etl_reactor_spark.sources.fcs import make_fcs_bytes

CHANNELS = ["FSC-A", "SSC-A", "FL1-A"]


@pytest.fixture(scope="module")
def spool(tmp_path_factory):
    d = tmp_path_factory.mktemp("reactor_fcs")
    rng = np.random.default_rng(7)
    for name in ("s1.fcs", "s2.fcs"):
        mat = rng.uniform(1.0, 1000.0, size=(50, 3))
        (d / name).write_bytes(make_fcs_bytes(CHANNELS, mat))
    return str(d)


class TestValidate:
    def test_valid_minimal(self):
        assert validate_message({"fcs_dir": "/x", "channels": CHANNELS}) == []

    def test_all_errors_collected(self):
        errs = validate_message(
            {
                "channels": [],
                "spillover_inverse": [[1.0]],
                "calibration": {"NOPE": [1]},
                "output_dir": 7,
            }
        )
        # missing fcs_dir, bad channels, bad matrix shape, unknown
        # calibration channel, bad calibration pair, bad output_dir
        assert len(errs) >= 5

    def test_invalid_message_raises(self, spark):
        with pytest.raises(ValueError, match="invalid message"):
            handle_message(spark, {"channels": CHANNELS})


class TestDispatch:
    def test_end_to_end_with_export(self, spark, spool, tmp_path):
        ident = [[1.0, 0, 0], [0, 1.0, 0], [0, 0, 1.0]]
        msg = {
            "fcs_dir": spool,
            "channels": CHANNELS,
            "spillover_inverse": ident,
            "calibration": {"FL1-A": [2.0, 0.0]},
            "output_dir": str(tmp_path / "out"),
        }
        res = handle_message(spark, msg)
        assert set(res["outputs"]) == {"point_cloud", "stats", "histogram"}
        pc = res["outputs"]["point_cloud"]
        assert pc.count() == 100  # 2 samples × 50 events
        stats = res["outputs"]["stats"].collect()
        assert {r["channel"] for r in stats} == set(CHANNELS)
        assert len(res["written"]) == 3
        # the exported stats CSV is readable and row-complete
        back = spark.read.option("header", "true").csv(
            str(tmp_path / "out" / "stats")
        )
        assert back.count() == len(stats)

    def test_cli_main_prints_summary(self, spool, tmp_path, capsys):
        from fcs_etl_reactor_spark.reactor import main

        msg_path = tmp_path / "msg.json"
        msg_path.write_text(
            json.dumps({"fcs_dir": spool, "channels": CHANNELS})
        )
        assert main([str(msg_path)]) == 0
        line = capsys.readouterr().out.strip().splitlines()[-1]
        summary = json.loads(line)
        assert summary["outputs"]["point_cloud"] == 100
        assert summary["written"] == []


def _persistent_rdd_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


class TestSharedParseLifetime:
    """The export persists the point cloud for its three writes; no
    cached block may outlive handle_message. Compared against the ids
    persisted before the call, so blocks held by other tests in the
    same session do not count."""

    def test_no_persisted_rdds_after_export(self, spark, spool, tmp_path):
        before = _persistent_rdd_ids(spark)
        res = handle_message(
            spark,
            {"fcs_dir": spool, "channels": CHANNELS, "output_dir": str(tmp_path / "out")},
        )
        assert len(res["written"]) == 3
        assert _persistent_rdd_ids(spark) == before
        assert res["outputs"]["point_cloud"].storageLevel == StorageLevel.NONE
        # the returned frames stay usable and do not re-cache on reuse
        assert res["outputs"]["stats"].count() == 2 * len(CHANNELS)
        assert _persistent_rdd_ids(spark) == before

    def test_no_cache_entry_when_output_dir_is_a_file(self, spark, spool, tmp_path):
        from fcs_etl_reactor_spark.plans.fcs_pipeline import run_fcs_pipeline

        blocker = tmp_path / "not_a_dir"
        blocker.write_text("x")
        with pytest.raises(Exception):
            handle_message(
                spark, {"fcs_dir": spool, "channels": CHANNELS, "output_dir": str(blocker)}
            )
        # the first write fails before any block is cached; the cache
        # entry registered for the point cloud must be gone all the same
        same_plan = run_fcs_pipeline(spark, spool, CHANNELS)["point_cloud"]
        assert same_plan.storageLevel == StorageLevel.NONE

    def test_no_persisted_rdds_when_a_later_write_raises(
        self, spark, spool, tmp_path, monkeypatch
    ):
        import fcs_etl_reactor_spark.io as io_mod

        real_write = io_mod.write_csv

        def write_then_fail(df, path):
            if path.endswith("/stats"):
                raise OSError("disk full")
            real_write(df, path)

        monkeypatch.setattr(io_mod, "write_csv", write_then_fail)
        before = _persistent_rdd_ids(spark)
        with pytest.raises(OSError, match="disk full"):
            handle_message(
                spark,
                {"fcs_dir": spool, "channels": CHANNELS, "output_dir": str(tmp_path / "out")},
            )
        # the point cloud was written (its cache built) before the failure
        assert (tmp_path / "out" / "point_cloud").exists()
        assert _persistent_rdd_ids(spark) == before

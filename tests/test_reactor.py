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


def _count_parsed_rows(spark, monkeypatch):
    """Route the pipeline's ingest through a pass-through mapInPandas that
    adds every parsed row to an accumulator; return the accumulator."""
    import fcs_etl_reactor_spark.plans.fcs_pipeline as pipeline

    parsed = spark.sparkContext.accumulator(0)
    real_read = pipeline.read_fcs_wide

    def counted_read(*args, **kwargs):
        df = real_read(*args, **kwargs)

        def count(batches):
            for pdf in batches:
                parsed.add(len(pdf))
                yield pdf

        return df.mapInPandas(count, df.schema)

    monkeypatch.setattr(pipeline, "read_fcs_wide", counted_read)
    return parsed


class TestConcurrentExport:
    """The export writes its three outputs at once from a thread pool;
    the shared cache must still hold one parse, and the caller's job
    group and the order of ``written`` must not depend on the threads."""

    N_EVENTS = 100  # the spool fixture: 2 files × 50 events

    def test_one_parse_per_csv_export(self, spark, spool, tmp_path, monkeypatch):
        parsed = _count_parsed_rows(spark, monkeypatch)
        res = handle_message(
            spark,
            {"fcs_dir": spool, "channels": CHANNELS, "output_dir": str(tmp_path / "out")},
        )
        assert len(res["written"]) == 3
        assert parsed.value == self.N_EVENTS

    def test_one_parse_per_parquet_export(self, spark, spool, tmp_path, monkeypatch):
        from fcs_etl_reactor_spark.plans.fcs_pipeline import run_fcs_pipeline

        parsed = _count_parsed_rows(spark, monkeypatch)
        run_fcs_pipeline(spark, spool, CHANNELS, output_path=str(tmp_path / "out"))
        assert parsed.value == self.N_EVENTS
        assert (tmp_path / "out" / "histogram").exists()

    def test_job_group_and_written_order_survive_the_pool(
        self, spark, spool, tmp_path, monkeypatch
    ):
        import threading
        import warnings

        import fcs_etl_reactor_spark.io as io_mod

        # each write waits for the one after it in ``outputs`` order, so
        # the writes end in reverse order, and only if they run at once
        real_write = io_mod.write_csv
        done = {n: threading.Event() for n in ("point_cloud", "stats", "histogram")}
        waits_for = {"point_cloud": "stats", "stats": "histogram"}
        finished = []

        def write_in_reverse(df, path):
            name = path.rsplit("/", 1)[-1]
            if name in waits_for:
                assert done[waits_for[name]].wait(60), "writes ran one after another"
            real_write(df, path)
            finished.append(name)
            done[name].set()

        monkeypatch.setattr(io_mod, "write_csv", write_in_reverse)
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        listener_bus = sc._jsc.sc().listenerBus()
        listener_bus.waitUntilEmpty(30_000)
        ungrouped_before = set(tracker.getJobIdsForGroup(None))
        group = "reactor-concurrent-export"
        out = str(tmp_path / "out")
        sc.setJobGroup(group, "one reactor message")
        try:
            with warnings.catch_warnings(record=True) as caught:
                warnings.simplefilter("always")
                res = handle_message(
                    spark, {"fcs_dir": spool, "channels": CHANNELS, "output_dir": out}
                )
        finally:
            sc.setJobGroup(None, None)
        listener_bus.waitUntilEmpty(30_000)

        assert finished == ["histogram", "stats", "point_cloud"]
        assert res["written"] == [f"{out}/point_cloud", f"{out}/stats", f"{out}/histogram"]
        assert len(tracker.getJobIdsForGroup(group)) >= 3
        assert set(tracker.getJobIdsForGroup(None)) <= ungrouped_before
        assert not [w for w in caught if "will not be inherited" in str(w.message)]

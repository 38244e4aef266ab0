"""FCS binary ingest + gating + bead calibration tests
(SURVEY.md §5.2-3: synthetic FCS binaries, hand-computed goldens)."""

import math

import pytest
from pyspark.sql import functions as F

from fcs_etl_reactor_spark.operators.beads import (
    calibrate,
    find_peaks,
    fit_calibration,
    log_histogram,
)
from fcs_etl_reactor_spark.operators.gates import (
    apply_gates,
    ellipse_gate,
    polygon_gate,
    range_gate,
)
from fcs_etl_reactor_spark.plans.fcs_pipeline import channel_stats, run_fcs_pipeline
from fcs_etl_reactor_spark.sources.fcs import (
    fcs_wide,
    make_fcs_bytes,
    parse_fcs_bytes,
    read_fcs_long,
    read_fcs_metadata,
    read_fcs_wide,
)

WIDE_CHANNELS = ["FSC-A", "SSC-A", "FL1-A"]


@pytest.fixture(scope="module")
def fcs_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("fcs")
    mat_a = [[100.0, 5.0, 1.0], [200.0, 6.0, 2.0], [300.0, 7.0, 3.0]]
    mat_b = [[10.0, 1.0, 9.0], [20.0, 2.0, 8.0]]
    (d / "sample_a.fcs").write_bytes(make_fcs_bytes(["FSC-A", "SSC-A", "FL1-A"], mat_a))
    (d / "sample_b.fcs").write_bytes(
        make_fcs_bytes(["FSC-A", "SSC-A", "FL1-A"], mat_b, datatype="D",
                       little_endian=False)
    )
    return str(d)


class TestFcsParser:
    def test_roundtrip_float32_le(self):
        mat = [[1.5, 2.5], [3.5, 4.5]]
        kv, channels, parsed = parse_fcs_bytes(make_fcs_bytes(["X", "Y"], mat))
        assert channels == ["X", "Y"]
        assert kv["$TOT"] == "2" and kv["$PAR"] == "2"
        assert parsed.tolist() == mat

    def test_roundtrip_float64_be(self):
        mat = [[1.25, -2.0]]
        _, _, parsed = parse_fcs_bytes(
            make_fcs_bytes(["A", "B"], mat, datatype="D", little_endian=False)
        )
        assert parsed.tolist() == mat

    def test_integer_datatype(self):
        mat = [[7.0, 9.0]]
        _, _, parsed = parse_fcs_bytes(make_fcs_bytes(["A", "B"], mat, datatype="I"))
        assert parsed.tolist() == mat

    def test_delimiter_escaping(self):
        b = make_fcs_bytes(["A"], [[1.0]], extra_text={"$CYT": "Foo/Bar"})
        kv, _, _ = parse_fcs_bytes(b)
        assert kv["$CYT"] == "Foo/Bar"

    def test_pne_log_amplification(self):
        # $PnE "4,1": value = 10^(4*x/1024) * 1
        b = make_fcs_bytes(["A"], [[256.0]], extra_text={"$P1E": "4,1", "$P1R": "1024"})
        _, _, parsed = parse_fcs_bytes(b)
        assert parsed[0][0] == pytest.approx(10.0)

    def test_rejects_garbage(self):
        with pytest.raises(ValueError):
            parse_fcs_bytes(b"not an fcs file at all, definitely not")


class TestFcsSpark:
    def test_long_ingest(self, spark, fcs_dir):
        df = read_fcs_long(spark, fcs_dir)
        assert df.columns == ["sample_id", "event_id", "channel", "value"]
        counts = {r["sample_id"]: r["n"] for r in
                  df.groupBy("sample_id").agg(F.count("*").alias("n")).collect()}
        assert counts == {"sample_a.fcs": 9, "sample_b.fcs": 6}

    def test_metadata(self, spark, fcs_dir):
        meta = read_fcs_metadata(spark, fcs_dir)
        rows = {(r["sample_id"], r["key"]): r["value"] for r in meta.collect()}
        assert rows[("sample_a.fcs", "$TOT")] == "3"
        assert rows[("sample_b.fcs", "$DATATYPE")] == "D"

    def test_wide_pivot(self, spark, fcs_dir):
        wide = fcs_wide(read_fcs_long(spark, fcs_dir), ["FSC-A", "SSC-A", "FL1-A"])
        a0 = wide.filter("sample_id = 'sample_a.fcs' AND event_id = 0").collect()[0]
        assert (a0["FSC-A"], a0["SSC-A"], a0["FL1-A"]) == (100.0, 5.0, 1.0)

    def test_wide_reader_equals_pivot(self, spark, fcs_dir):
        # fcs_dir holds a float32 little-endian and a float64 big-endian file
        direct = read_fcs_wide(spark, fcs_dir, WIDE_CHANNELS)
        pivot = fcs_wide(read_fcs_long(spark, fcs_dir), WIDE_CHANNELS)
        assert direct.schema == pivot.schema
        order = ["sample_id", "event_id"]
        got = [tuple(r) for r in direct.orderBy(order).collect()]
        assert got == [tuple(r) for r in pivot.orderBy(order).collect()]
        assert len(got) == 5

    def test_wide_reader_missing_and_repeated_channels(self, spark, tmp_path):
        d = tmp_path / "mixed_channels"
        d.mkdir()
        (d / "no_fl1.fcs").write_bytes(
            make_fcs_bytes(["FSC-A", "SSC-A"], [[1.0, 2.0], [3.0, 4.0]])
        )
        # FSC-A appears twice: the first occurrence (column 0) wins
        (d / "dup.fcs").write_bytes(
            make_fcs_bytes(["FSC-A", "FL1-A", "FSC-A", "SSC-A"], [[5.0, 6.0, 7.0, 8.0]])
        )
        rows = read_fcs_wide(spark, str(d), WIDE_CHANNELS).orderBy(
            "sample_id", "event_id"
        ).collect()
        assert [tuple(r) for r in rows] == [
            ("dup.fcs", 0, 5.0, 8.0, 6.0),
            ("no_fl1.fcs", 0, 1.0, 2.0, None),
            ("no_fl1.fcs", 1, 3.0, 4.0, None),
        ]
        # a missing channel is null, as the long→wide pivot gives it
        no_fl1 = str(d / "no_fl1.fcs")
        pivot = fcs_wide(read_fcs_long(spark, no_fl1), WIDE_CHANNELS)
        assert sorted(tuple(r) for r in pivot.collect()) == [tuple(r) for r in rows[1:]]


class TestGates:
    def _pts(self, spark):
        return spark.createDataFrame(
            [(0.5, 0.5), (2.0, 2.0), (0.0, 0.0), (0.9, 0.1), (-1.0, 0.5)],
            "x DOUBLE, y DOUBLE",
        )

    def test_range_gate(self, spark):
        got = self._pts(spark).filter(range_gate("x", 0.0, 1.0)).count()
        assert got == 3  # 0.5, 0.0, 0.9

    def test_polygon_gate_unit_square(self, spark):
        square = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]
        got = self._pts(spark).withColumn("inside", polygon_gate("x", "y", square))
        inside = {(r["x"], r["y"]): r["inside"] for r in got.collect()}
        assert inside[(0.5, 0.5)] is True
        assert inside[(0.9, 0.1)] is True
        assert inside[(2.0, 2.0)] is False
        assert inside[(-1.0, 0.5)] is False
        # a Column expression: no Python runner in the plan
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan

    def test_polygon_gate_triangle(self, spark):
        tri = [(0.0, 0.0), (2.0, 0.0), (0.0, 2.0)]
        df = spark.createDataFrame([(0.5, 0.5), (1.5, 1.5)], "x DOUBLE, y DOUBLE")
        got = {(r["x"], r["y"]): r["i"] for r in
               df.withColumn("i", polygon_gate("x", "y", tri)).collect()}
        assert got[(0.5, 0.5)] is True and got[(1.5, 1.5)] is False

    def test_polygon_gate_null_coordinate_is_outside(self, spark):
        square = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]
        df = spark.createDataFrame(
            [(None, 0.5), (0.5, None), (0.5, 0.5)], "x DOUBLE, y DOUBLE"
        )
        got = [r["i"] for r in df.withColumn("i", polygon_gate("x", "y", square)).collect()]
        assert got == [False, False, True]

    def test_ellipse_gate_rotation(self, spark):
        df = spark.createDataFrame([(3.0, 3.0), (3.0, -3.0)], "x DOUBLE, y DOUBLE")
        # ellipse along y=x diagonal: long axis catches (3,3), not (3,-3)
        g = ellipse_gate("x", "y", 0.0, 0.0, 5.0, 1.0, theta=math.pi / 4)
        got = {(r["x"], r["y"]): r["i"] for r in df.withColumn("i", g).collect()}
        assert got[(3.0, 3.0)] is True and got[(3.0, -3.0)] is False

    def test_apply_gates_conjunction(self, spark):
        df = self._pts(spark)
        out = apply_gates(df, {"gx": range_gate("x", 0.0, 1.0),
                               "gy": range_gate("y", 0.0, 0.4)})
        kept = out.filter("all_gates").collect()
        assert [(r["x"], r["y"]) for r in kept] == [(0.0, 0.0), (0.9, 0.1)]


class TestBeads:
    def test_histogram_peaks_and_fit(self, spark):
        # two bead populations at ~10^1 and ~10^3
        rows = [("s", 10.0 * (1 + 0.001 * i)) for i in range(50)]
        rows += [("s", 1000.0 * (1 + 0.001 * i)) for i in range(80)]
        df = spark.createDataFrame(rows, "sample_id STRING, value DOUBLE")
        hist = log_histogram(df, "value", ["sample_id"], lo=0.0, step=0.5, n_bins=10)
        peaks = find_peaks(hist, ["sample_id"], min_count=10)
        centers = sorted(r["bin_center"] for r in peaks.collect())
        assert len(centers) == 2
        assert centers[0] == pytest.approx(1.25)  # bin for log10(10)=1
        assert centers[1] == pytest.approx(3.25)  # bin for log10(1000)=3

        fit = fit_calibration(peaks, known_log_mefl=[2.0, 4.0]).collect()[0]
        assert fit["n_peaks"] == 2
        assert fit["slope"] == pytest.approx(1.0)  # (4-2)/(3.25-1.25)
        assert fit["intercept"] == pytest.approx(0.75)

        cal = calibrate(df.limit(1), "value", fit["slope"], fit["intercept"])
        assert cal.collect()[0]["value_mefl"] == pytest.approx(
            10 ** (math.log10(10.0) + 0.75), rel=1e-6
        )


class TestPipeline:
    def test_end_to_end(self, spark, fcs_dir, tmp_path):
        out = run_fcs_pipeline(
            spark,
            fcs_dir,
            channels=["FSC-A", "SSC-A", "FL1-A"],
            spillover_inverse=[[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]],
            calibration={"FL1-A": (2.0, 0.0)},
            gates={"fsc": range_gate("FSC-A", 50.0, 1000.0)},
            output_path=str(tmp_path / "out"),
        )
        stats = {(r["sample_id"], r["channel"]): r for r in out["stats"].collect()}
        # sample_a rows all pass fsc gate; sample_b rows (10,20) all fail
        assert stats[("sample_a.fcs", "FSC-A")]["n_events"] == 3
        assert ("sample_b.fcs", "FSC-A") not in stats
        # calibration doubled FL1-A: mean of (2,4,6) = 4
        assert stats[("sample_a.fcs", "FL1-A")]["mean"] == pytest.approx(4.0)
        # outputs written
        assert (tmp_path / "out" / "stats").exists()
        pc = spark.read.parquet(str(tmp_path / "out" / "point_cloud"))
        assert pc.count() == 3

    def test_channel_stats_without_positive_values(self, spark):
        df = spark.createDataFrame(
            [("s", 0, -1.0, 2.0), ("s", 1, 0.0, 8.0), ("s", 2, -3.0, -4.0)],
            "sample_id STRING, event_id BIGINT, NEG DOUBLE, MIX DOUBLE",
        )
        got = {r["channel"]: r for r in channel_stats(df, ["NEG", "MIX"]).collect()}
        assert got["NEG"]["n_events"] == 3
        assert got["NEG"]["geo_mean"] is None and got["NEG"]["geo_stddev"] is None
        # geo stats use only the positive values 2 and 8; counts use all
        assert got["MIX"]["n_events"] == 3
        assert got["MIX"]["geo_mean"] == pytest.approx(4.0)
        assert got["MIX"]["geo_stddev"] == pytest.approx(
            math.exp(math.sqrt(2) * math.log(4.0) / 2)
        )


class TestFcsDataSource:
    def test_format_fcs_equals_mapinpandas_path(self, spark, fcs_dir):
        # the Python Data Source connector and the binaryFile+
        # mapInPandas path share parse_fcs_bytes — same rows exactly
        from fcs_etl_reactor_spark.sources.fcs_datasource import register

        register(spark)
        via_ds = spark.read.format("fcs").load(fcs_dir)
        assert via_ds.schema.simpleString() == (
            "struct<sample_id:string,event_id:bigint,channel:string,value:double>"
        )
        a = {tuple(r) for r in via_ds.collect()}
        b = {tuple(r) for r in read_fcs_long(spark, fcs_dir).collect()}
        assert a == b and len(a) > 0

    def test_format_fcs_one_partition_per_file(self, spark, fcs_dir):
        from fcs_etl_reactor_spark.sources.fcs_datasource import register

        register(spark)
        df = spark.read.format("fcs").load(fcs_dir)
        assert df.rdd.getNumPartitions() == 2  # two fixture files


class TestFcsStreamSource:
    def test_streaming_fcs_tails_directory(self, spark, tmp_path):
        import numpy as np

        from fcs_etl_reactor_spark.sources.fcs_datasource import register

        register(spark)
        d = tmp_path / "spool"
        d.mkdir()
        mat1 = np.arange(6, dtype=float).reshape(3, 2)
        (d / "a.fcs").write_bytes(make_fcs_bytes(["FSC-A", "SSC-A"], mat1))

        stream = spark.readStream.format("fcs").load(str(d))
        q = (
            stream.writeStream.format("memory")
            .queryName("fcs_stream_sink")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            assert spark.table("fcs_stream_sink").count() == 6  # 3 ev × 2 ch

            mat2 = np.arange(4, dtype=float).reshape(2, 2)
            (d / "b.fcs").write_bytes(make_fcs_bytes(["FSC-A", "SSC-A"], mat2))
            q.processAllAvailable()
            got = spark.table("fcs_stream_sink")
            assert got.count() == 10
            assert {r["sample_id"] for r in got.select("sample_id").distinct().collect()} == {
                "a.fcs", "b.fcs"
            }
        finally:
            q.stop()

    def test_streaming_fcs_late_early_sorting_name(self, spark, tmp_path):
        """A file whose name sorts BEFORE already-committed files must
        still be picked up (offsets track names, not list positions)."""
        import numpy as np

        from fcs_etl_reactor_spark.sources.fcs_datasource import register

        register(spark)
        d = tmp_path / "spool2"
        d.mkdir()
        mat = np.arange(4, dtype=float).reshape(2, 2)
        # 'z' commits first; 'a' arrives later but sorts earlier
        (d / "z.fcs").write_bytes(make_fcs_bytes(["FSC-A", "SSC-A"], mat))

        stream = spark.readStream.format("fcs").load(str(d))
        q = (
            stream.writeStream.format("memory")
            .queryName("fcs_stream_late")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            assert spark.table("fcs_stream_late").count() == 4
            (d / "a.fcs").write_bytes(make_fcs_bytes(["FSC-A", "SSC-A"], mat))
            q.processAllAvailable()
            got = spark.table("fcs_stream_late")
            assert got.count() == 8
            assert {
                r["sample_id"]
                for r in got.select("sample_id").distinct().collect()
            } == {"a.fcs", "z.fcs"}
        finally:
            q.stop()


class TestFcsStreamLegacyOffsets:
    def test_legacy_count_offset_upgrades_to_name_set(self, tmp_path):
        """Back-compat path: a pre-fix checkpoint stored {"n": count}
        over a sorted listing. Restarting from it must (a) translate
        without re-reading the committed prefix, (b) upgrade the next
        committed offset to the name-set scheme, and (c) afterwards
        read a lexicographically-early late arrival exactly once —
        including on the readBetweenOffsets recovery replay."""
        import numpy as np

        from fcs_etl_reactor_spark.sources.fcs_datasource import FCSStreamReader

        d = tmp_path / "legacy_spool"
        d.mkdir()
        mat = np.arange(4, dtype=float).reshape(2, 2)
        (d / "b.fcs").write_bytes(make_fcs_bytes(["FSC-A", "SSC-A"], mat))
        (d / "z.fcs").write_bytes(make_fcs_bytes(["FSC-A", "SSC-A"], mat))

        reader = FCSStreamReader({"path": str(d)})

        # restart from a legacy offset covering both committed files
        legacy = {"n": 2}
        rows, upgraded = reader.read(legacy)
        assert list(rows) == []  # nothing re-read
        assert upgraded == {"files": ["b.fcs", "z.fcs"]}  # name-set now

        # a file sorting BEFORE every committed name arrives late
        (d / "a.fcs").write_bytes(make_fcs_bytes(["FSC-A", "SSC-A"], mat))
        rows2, end2 = reader.read(upgraded)
        got = list(rows2)
        assert {r[0] for r in got} == {"a.fcs"} and len(got) == 4
        assert end2 == {"files": ["a.fcs", "b.fcs", "z.fcs"]}

        # recovery replay of that exact batch pair: a.fcs exactly once
        replay = list(reader.readBetweenOffsets(upgraded, end2))
        assert {r[0] for r in replay} == {"a.fcs"} and len(replay) == 4


class TestBadFileTolerance:
    def test_on_error_skip_drops_corrupt_files(self, spark, tmp_path):
        import numpy as np

        d = tmp_path / "mixed"
        d.mkdir()
        mat = np.arange(12, dtype=float).reshape(4, 3)
        (d / "good.fcs").write_bytes(make_fcs_bytes(WIDE_CHANNELS, mat))
        (d / "bad.fcs").write_bytes(b"NOT-AN-FCS-FILE" * 10)

        # default: the corrupt file fails the job
        with pytest.raises(Exception):
            read_fcs_long(spark, str(d)).count()
        # skip mode: good file parses fully, bad contributes nothing
        out = read_fcs_long(spark, str(d), on_error="skip")
        assert out.count() == 12  # 4 events × 3 channels
        assert {r["sample_id"] for r in out.select("sample_id").distinct().collect()} == {
            "good.fcs"
        }
        # the wide reader applies the same skip
        with pytest.raises(Exception):
            read_fcs_wide(spark, str(d), WIDE_CHANNELS).count()
        wide = read_fcs_wide(spark, str(d), WIDE_CHANNELS, on_error="skip")
        assert [tuple(r) for r in wide.orderBy("event_id").collect()] == [
            ("good.fcs", i, *mat[i].tolist()) for i in range(4)
        ]

    def test_on_error_validates(self, spark):
        with pytest.raises(ValueError):
            read_fcs_long(spark, "/nonexistent", on_error="maybe")
        with pytest.raises(ValueError):
            read_fcs_wide(spark, "/nonexistent", WIDE_CHANNELS, on_error="maybe")

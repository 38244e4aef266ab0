"""Measurement tooling: session sizing, the registry sweep, and the
scripts under ``scripts/``."""

import importlib
import os
import subprocess
import sys

import pytest

from fcs_etl_reactor_spark.session import tune_for_input
from tests.conftest import SF_SMALL

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(
    f[:-3]
    for f in os.listdir(os.path.join(REPO, "scripts"))
    if f.endswith(".py") and f != "__init__.py"
)


def test_tune_for_input_sizes_table_directories(spark, tmp_path):
    """A Spark-written table is a directory of part files: it must be
    sized by its files, not by the directory entry's inode."""
    part = tmp_path / "t.parquet" / "part-0"
    part.parent.mkdir()
    with open(part, "wb") as fh:
        fh.truncate(320 << 20)  # sparse: 320 MB on paper, no disk used
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        tune_for_input(spark, str(tmp_path))
        assert spark.conf.get("spark.sql.shuffle.partitions") == "10"
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_registry_sweep_counts_jobs_and_dumps_plans(spark, tmp_path):
    sweep = importlib.import_module("scripts.registry_sweep").sweep
    names = ["q1_pricing_summary", "q5n_pagerank"]
    results, counters, _, errors = sweep(
        spark, names, SF_SMALL, runs=1, plans=str(tmp_path)
    )
    assert errors == {}
    assert set(results) == set(names)
    jobs = {n: counters[n]["jobs"] for n in names}
    assert jobs["q1_pricing_summary"] >= 1
    # q5n checkpoints its rounds eagerly at plan-build time
    assert jobs["q5n_pagerank"] > jobs["q1_pricing_summary"]
    for n in names:
        assert "== Physical Plan ==" in (tmp_path / f"{n}.txt").read_text()
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


@pytest.mark.parametrize("name", SCRIPTS)
def test_script_imports(name):
    importlib.import_module(f"scripts.{name}")


def test_driver_sim_runs_from_any_directory(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "driver_sim.py"), "--help"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "--tz" in proc.stdout


def test_extra_conf_reaches_driver_jvm_options():
    """``extra_conf`` static confs reach the JVM launch: the memory
    probe relies on this for -XX:+ExitOnOutOfMemoryError."""
    code = (
        "from fcs_etl_reactor_spark.session import get_spark\n"
        "spark = get_spark(app_name='jvm-options', extra_conf="
        "{'spark.driver.extraJavaOptions': '-XX:+ExitOnOutOfMemoryError'})\n"
        "mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()\n"
        "print('JVMARGS', list(mx.getInputArguments()))\n"
        "spark.stop()\n"
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="512m")
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    args = [ln for ln in proc.stdout.splitlines() if ln.startswith("JVMARGS")]
    assert args and "-XX:+ExitOnOutOfMemoryError" in args[0]

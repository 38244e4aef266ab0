"""SparkSession factory (SURVEY.md §4 physical-execution defaults).

Tuned for the local[32] test box but written for a 1000-executor
cluster: every setting here is either scale-neutral (UTC, ANSI, Arrow)
or sized from the environment (shuffle partitions ~ 2x cores locally;
on a real cluster you'd let AQE coalesce from a high initial number).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "fcs-etl-reactor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # ~1x cores at local scale: each query's data fits one wave of
        # tasks; on a cluster raise this and let AQE coalesce instead.
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Fixtures are single parquet files; a 128 MB split would scan
        # them single-threaded. 16 MB keeps all cores busy locally; on
        # a real cluster with many files leave the 128 MB default.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Kryo for shuffle/broadcast record serialization: measured
        # ~20% off broadcast-build-heavy queries (q10 0.38→0.30 s)
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local"):
        # LOCAL-MODE ONLY (core confs, fixed at context start): shuffle
        # blocks live in the page cache and are tiny at test SFs, so
        # codec init/deflate per task is pure overhead (~2-4% off the
        # small-query bench, A/B-measured); locality is moot in one
        # JVM. On a real cluster leave compression ON — network and
        # disk dominate at 100 TB — and keep the default locality wait.
        builder = (
            builder.config("spark.shuffle.compress", "false")
            .config("spark.shuffle.spill.compress", "false")
            .config("spark.broadcast.compress", "false")
            .config("spark.locality.wait", "0s")
        )
    # last-wins overrides for diagnostic harnesses (e.g. the memory
    # probe passes -XX:+ExitOnOutOfMemoryError as
    # spark.driver.extraJavaOptions); static confs here only take
    # effect in a fresh process, like the rest
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable defaults to an externally provided session.

    The driver hands us its own SparkSession; static configs (driver
    memory) can't change post-start, but these can.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    return spark


def tune_for_input(spark: SparkSession, sf_dir: str) -> SparkSession:
    """Size runtime-settable knobs from the actual input volume — the
    auto-tuning a production submit wrapper does from table stats.

    Shuffle parallelism should track data size, not core count alone:
    at 100 TB you want thousands of reduce tasks (AQE coalescing from
    a high initial number, skew-join splitting ON); at tens of MB the
    same settings just schedule hundreds of empty tasks and add an
    AQE stage-materialization round-trip per shuffle (~100 ms per
    sub-second query, measured). Target ≈ 32 MB per reduce task,
    clamped to [8, 4096]; AQE engages above ~1 GB where runtime
    re-planning pays for itself.
    """
    total = 0
    try:
        for f in os.listdir(sf_dir):
            path = os.path.join(sf_dir, f)
            if os.path.isdir(path):
                # a Spark-written table is a directory of part files;
                # the directory entry's own size is its inode's
                total += sum(
                    os.path.getsize(os.path.join(path, p)) for p in os.listdir(path)
                )
            else:
                total += os.path.getsize(path)
    except OSError:
        total = 1 << 40  # unknown size: assume big, keep scale defaults
    parts = min(max(total // (32 << 20), 8), 4096)
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    spark.conf.set("spark.sql.adaptive.enabled", str(total > (1 << 30)).lower())
    return spark

"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the sandbox (single JVM, ``local[N]``) but expressed so
the same session config is what you would submit to a 1000-executor cluster:
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
Arrow on (every pandas UDF crosses the JVM/Python boundary in columnar
batches), UTC session time zone (determinism), and shuffle partitions sized
from the available parallelism rather than Spark's legacy 200.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """Parallelism the sandbox grants us (driver exports SPARK_GRAFT_CPUS)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if not cpus.strip().isdecimal() or int(cpus) == 0:
        # int() would raise without naming the variable, and 0 would
        # build a local[0] master that fails at session start
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {cpus!r}")
    return int(cpus)


def _driver_memory_env() -> str | None:
    """SPARK_GRAFT_DRIVER_MEM, checked: a JVM size such as ``4g`` or
    ``512m`` (a typo would otherwise surface as a JVM start failure)."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env and not re.fullmatch(r"[1-9][0-9]*[kmgtKMGT]", env):
        raise ValueError(
            f"SPARK_GRAFT_DRIVER_MEM must be a JVM size such as 4g or 512m, got {env!r}"
        )
    return env


# both knobs fail the import, not the first session start
default_parallelism()
_driver_memory_env()


def _default_driver_memory() -> str:
    """Driver heap sized from the host, not from the sandbox's 128 GiB.

    local-mode the driver JVM IS the executor (task threads + caches +
    broadcasts share one heap), so more helps — but a fixed 32g default
    fails JVM startup or swaps on smaller hosts. Use ~25% of physical
    RAM, clamped to [2g, 32g]; SPARK_GRAFT_DRIVER_MEM overrides (the
    bench harness exports 32g on the 128 GiB sandbox).
    """
    env = _driver_memory_env()
    if env:
        return env
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_gib = int(line.split()[1]) / (1024 * 1024)
                    return f"{max(2, min(32, int(total_gib // 4)))}g"
    except OSError:
        pass
    return "8g"


def get_spark(
    app_name: str = "crawl4ai_llm_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    On a real cluster the ``master``/executor topology comes from
    spark-submit; everything below is orthogonal to deployment mode.
    """
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- determinism ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- runtime optimization (AQE): coalesce tiny shuffle partitions,
        #     split skewed ones, convert to broadcast join when a side turns
        #     out small at runtime ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce small shuffles by SIZE, not to defaultParallelism — a
        # 1 MB shuffle output as 32 tasks is pure scheduling overhead; any
        # stage that needs guaranteed width (Python fetch) repartitions
        # explicitly
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing: at 100 TB this is set to ~2-3x total cores via
        #     AQE's initialPartitionNum; locally we pin it to the core count ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- Arrow: all pandas UDF / toPandas traffic is columnar ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- scan sizing: 128 MB splits keep task count proportional to
        #     input bytes at any scale ---
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- broadcast threshold: dimension tables (region/nation/robots
        #     rules/host tables) should always broadcast ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # 8g showed GC/mmap churn at 100k-doc crawl waves (content-dedup
        # leg: match 0.246 → 0.187 ms/doc just from raising it); sized
        # from physical RAM so the default works off-sandbox too. On a
        # real cluster executor memory comes from spark-submit instead.
        .config("spark.driver.memory", _default_driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver-provided parquet table (TESTDATA.md)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")

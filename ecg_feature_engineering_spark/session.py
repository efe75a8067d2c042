"""SparkSession factory with configs pinned for correctness + local-mode scale testing.

Design notes (100 TB target):
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting — the
  events/phash tables have hot keys by construction (FIXTURES.md §1 "5% share one
  hot phash prefix").
- Arrow on, with a bounded records-per-batch so binary image payload batches fit
  executor memory (SURVEY.md §4.2 "Arrow exchange tuning").
- session timezone pinned UTC so timestamp semantics match the DuckDB oracle.
- shuffle partitions default to the local core count; on a real cluster this is
  overridden by spark-submit conf (and AQE coalesces anyway).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch sizing: image payloads are O(10 KB) each at test scale but O(1 MB)
# at production scale; 2048 rows/batch keeps a worst-case batch around 2 GB/16
# concurrent tasks well under a 16 GB executor. Overridable via env.
_ARROW_BATCH = os.environ.get("ENGINE_ARROW_BATCH", "2048")


def get_spark(
    app_name: str = "ecg_feature_engineering_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cores`` drives ``local[N]`` in sandbox mode; on a real cluster the
    master comes from spark-submit and this argument is ignored by Spark.
    """
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = os.environ.get("SPARK_MASTER", f"local[{cores}]")
    n_shuffle = shuffle_partitions or (
        int(cores) if str(cores).isdigit() else (os.cpu_count() or 8)
    )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", _ARROW_BATCH)
        .config("spark.driver.memory", os.environ.get("ENGINE_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # call-site capture for error contexts costs ~6 py4j round trips
        # per DataFrame/Column API call (over a third of the gateway
        # commands that building the flagship plan sends); plan building
        # is serial and latency-bound, so those round trips set both its
        # time and how much it swings on a busy host
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def warm_python_workers(spark: SparkSession, tasks_per_core: int = 2) -> None:
    """Run a trivial Arrow-UDF job across every core so the Python worker
    pool is forked and numpy/pandas are imported before a measured run —
    otherwise the first measured stage pays ~1s of worker spin-up, which
    skews scaling-efficiency comparisons between core counts."""
    import pandas as pd  # noqa: F401

    cores = spark.sparkContext.defaultParallelism

    def touch(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        for b in batches:
            yield b

    n = cores * tasks_per_core
    spark.range(0, n, 1, n).mapInPandas(touch, schema="id long") \
        .write.format("noop").mode("overwrite").save()

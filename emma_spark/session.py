"""SparkSession factory with scale-oriented defaults.

The reference engine delegates physical execution to Spark 2.2
(``/root/reference/pom.xml:136``); we target Spark 4.x and turn on the
modern machinery the reference never had: AQE (runtime re-planning,
skew-join splitting, partition coalescing), Arrow for any Python
boundary crossing, and a broadcast threshold suited to dimension
tables.

Tunables are environment-overridable so the same code runs on
``local[32]`` for tests and on a real cluster unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "emma-spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Scale notes (100 TB target):
    - AQE on: coalesces post-shuffle partitions, converts sort-merge to
      broadcast joins at runtime, splits skewed partitions.
    - ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound;
      on a cluster set it ~2-3x total cores.
    - Arrow on: every pandas UDF / ``mapInPandas`` crossing is batched.
    - Checkpoint files of reliable pins are deleted once their RDD is
      unreachable (``cleanCheckpoints``), so a loop that pins every
      round does not leave one directory per round.

    Master: ``master``, else ``$SPARK_GRAFT_MASTER``, else
    ``local[$SPARK_GRAFT_CPUS]`` (32 cores when unset) — unless
    ``$SPARK_MASTER`` is set, which leaves the choice to Spark
    (spark-submit). The environment is read at call time.
    """
    env = os.environ.get
    master = master or env("SPARK_GRAFT_MASTER") or (
        None if env("SPARK_MASTER") else f"local[{env('SPARK_GRAFT_CPUS', '32')}]"
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions", env("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # read timestamp[ns] parquet columns as long; the IO layer converts
        # them back to (truncated) timestamps — Spark has no native NANOS.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", env("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # PySpark 4 wraps EVERY DataFrame API call in call-site capture
        # for error context — a Python stack walk plus ~4 py4j round
        # trips per call. Measured with cProfile at sf0.1: plan
        # construction is 45-75% of headline query wall time, and this
        # wrapper is ~55% of construction (ml_gbdt_residual_boost
        # 2.30s -> 1.30s, pipeline_corpus_curation 1.94s -> 1.14s with
        # it off). Cost: error messages lose the Python-file:line
        # fragment (JVM-side plan context is unaffected).
        # SPARK_GRAFT_DF_DEBUG=1/true/yes turns it back on for
        # debugging. PySpark caches is_debugging_enabled() process-wide
        # on first use, so the conf must be set on the FIRST session
        # created in the process.
        .config(
            "spark.python.sql.dataFrameDebugging.enabled",
            "true"
            if env("SPARK_GRAFT_DF_DEBUG", "").lower()
            in ("1", "true", "yes")
            else "false",
        )
    )
    if master is not None:
        builder = builder.master(master)
    return builder.getOrCreate()

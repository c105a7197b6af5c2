"""SparkSession construction with scale-appropriate defaults.

The reference relies on Databricks Runtime defaults; here we make the
engine-relevant settings explicit so the same code runs from local[*]
tests up to a 1000-executor cluster:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy)
- Arrow on (every pandas UDF / toPandas crossing is vectorized; the
  reference's row-pickled UDFs — 02_Data Ingest.py:137-204 — are the
  single biggest perf bug we fix)
- shuffle partitions sized to the session, overridable per deployment
- UTC session timezone (deterministic date arithmetic for the oracle gate)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "computer_vision_foundations_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[N]`` with N from ``$SPARK_GRAFT_CPUS``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{DEFAULT_SHUFFLE_PARTITIONS}]")

    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    conf = {
        "spark.sql.shuffle.partitions": str(n_shuffle),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        # nested-field pruning so wide metadata/statistics structs
        # (SURVEY §1.3) don't defeat parquet column pruning
        "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
        "spark.sql.parquet.aggregatePushdown": "true",
        # File-listing strategy: below this path count, list on the
        # driver instead of launching a cluster job. The default (32)
        # fires a whole-cluster job to stat a few hundred local files —
        # measured ~5 s/micro-batch of pure scheduling overhead on the
        # small-file streaming ingest bench. Above 10k paths (real
        # object-store landing zones) the parallel listing still kicks
        # in, which is where it actually pays.
        "spark.sql.sources.parallelPartitionDiscovery.threshold": "10000",
        # Python workers fork from the library's daemon, which is
        # pyspark.daemon except that a task's importlib.invalidate_caches()
        # no longer re-reads pyspark.zip's directory through every
        # zipimporter (~0.2 s of worker CPU per task on Python 3.11;
        # see _daemon.py). Executors must be able to import the package
        # when the daemon starts (installed or on PYTHONPATH); a copy
        # that reaches workers only per task (SparkContext.addPyFile)
        # arrives too late.
        "spark.python.daemon.module": "computer_vision_foundations_spark._daemon",
        "spark.ui.enabled": os.environ.get("SPARK_GRAFT_UI", "false"),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
    }
    conf.update(extra_conf or {})
    for k, v in conf.items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

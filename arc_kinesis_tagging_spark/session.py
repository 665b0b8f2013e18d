"""SparkSession factory with scale-oriented defaults.

The session is configured for correctness-portability (UTC, ANSI off to
match the permissive reference semantics) and for the execution profile
we target at 100 TB: AQE with skew-join handling, Arrow for any
Python-side exchange, nested-schema pruning so ANS-style nested
projections (reference app.py:57-67) prune at the parquet scan.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults are sized for the local[32] test harness; on a real cluster
# the same knobs are what you would tune (shuffle partitions ~= 2-3x
# total cores, maxPartitionBytes 128-256 MB so tasks stay memory-fit).
_DEFAULTS = {
    # Catalyst/AQE: let runtime stats re-plan shuffles, coalesce small
    # partitions, and split skewed ones — the main defense against
    # key skew at 100 TB without hand-salting every join.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Shuffle sizing: small for local tests; cluster deployments
    # override via SPARK_GRAFT_SHUFFLE_PARTITIONS.
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"
    ),
    # Arrow makes every pandas_udf / mapInPandas exchange columnar.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Prune nested struct fields at the scan (projection of
    # body.headlines.basic must not read the whole body struct).
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    # Deterministic timestamp arithmetic for oracle comparison.
    "spark.sql.session.timeZone": "UTC",
    # The events table stores TIMESTAMP(NANOS) parquet, which Spark
    # cannot represent natively; read as long and convert in the
    # loader (sources/tables.py) by truncating to microseconds.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Broadcast threshold: dims (region/nation/customer at test SF)
    # broadcast; AQE also converts post-shuffle when sizes allow.
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # Keep driver results bounded; the engine never collects hot-path
    # data to the driver anyway.
    "spark.driver.maxResultSize": "4g",
    # local-mode driver == executor JVM: size the heap for the 128 GiB
    # box instead of the 1g default (only effective at JVM launch, i.e.
    # when this factory creates the first session of the process).
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
    "spark.ui.enabled": "false",
    # Generated-code cache (JVM-wide, static): Spark's default keeps 100
    # classes, but one pass of bench.py's 74 entries at sf0.1 compiles
    # 1,329 distinct classes (4 cores), so a repeated query set larger
    # than the cache recompiled every class on every pass (LRU misses
    # in order). 2000 holds one pass with headroom.
    "spark.sql.codegen.cache.maxEntries": "2000",
}


# Parent of the package directory, for the Python workers' PYTHONPATH.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _session_conf(overrides: dict) -> dict:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    conf = {"spark.master": os.environ.get("SPARK_MASTER", f"local[{cpus}]"), **_DEFAULTS}
    conf.update({k: str(v) for k, v in overrides.items()})
    if conf["spark.master"].startswith("local"):
        # Python workers fork from this daemon, which keeps each zip
        # finder's directory across tasks instead of re-reading
        # pyspark.zip, py4j and the Spark core jar at the start of every
        # task (worker_daemon.py). The daemon imports the package when it
        # starts, before any --py-files arrive, so the package's parent
        # goes on the workers' PYTHONPATH and the driver may run from any
        # cwd. Only a local master's workers share the driver's file
        # system; a cluster keeps Spark's default daemon unless the
        # package is installed in the executor image (DEPLOY.md).
        conf.setdefault(
            "spark.python.daemon.module", "arc_kinesis_tagging_spark.worker_daemon"
        )
        conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
            p for p in (_PACKAGE_PARENT, conf.get("spark.executorEnv.PYTHONPATH")) if p
        )
    return conf


def get_session(app_name: str = "arc-kinesis-tagging-spark", **overrides: str) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    Master defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]) for
    the test harness; under spark-submit on a cluster the master from
    the environment wins.
    """
    builder = SparkSession.builder.appName(app_name)
    for k, v in _session_conf(overrides).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

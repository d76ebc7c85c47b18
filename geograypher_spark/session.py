"""SparkSession factory with scale-oriented defaults.

Single place where all engine jobs, tests and benchmarks get their session.
Defaults are chosen for a real multi-executor cluster (AQE on, skew-join
handling on, Arrow on) and merely *sized down* via parameters for the
local[k] sandbox.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Conservative defaults for the local sandbox; on a real cluster these are
# overridden by spark-submit conf. shuffle.partitions is sized to ~2-3x the
# core count locally; at 100 TB you want AQE coalescing from a high initial
# count instead (set initialPartitionNum high, let AQE shrink).
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def _inject_worker_sitecustomize() -> None:
    """Put ``workerenv/`` (a ``sitecustomize.py`` shim) on ``$PYTHONPATH``
    so every Python worker imports it at interpreter startup.

    The shim backports Python 3.12's mtime-guarded
    ``zipimporter.invalidate_caches`` — without it, pyspark's per-task
    ``importlib.invalidate_caches()`` (``worker_util.py:144``) re-parses
    the pyspark.zip central directory on EVERY task: a measured fixed
    ~125-300 ms/task of pure overhead that dominates small Arrow tasks
    (see workerenv/sitecustomize.py for the full measurement). Must run
    BEFORE the JVM launches; a no-op when the dir is already present.
    """
    d = os.path.join(os.path.dirname(os.path.abspath(__file__)), "workerenv")
    parts = os.environ.get("PYTHONPATH", "")
    if d not in parts.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            d + os.pathsep + parts if parts else d)


def get_spark(
    app_name: str = "geograypher_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS or *]`` in the sandbox;
    under spark-submit on a cluster, leave it None and the submit conf wins.
    """
    _inject_worker_sitecustomize()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        shuffle_partitions = min(64, max(8, n))
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

"""SparkSession factory with scale-aware defaults.

Local test sessions use ``local[N]``; the same builder config is what a
``spark-submit --py-files`` cluster deployment would use (AQE on, Arrow
on, skew-join handling on).  Nothing here is local-mode specific except
the master URL.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "data-reconciliation-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    AQE is enabled so shuffle partition counts self-tune at scale and
    skewed sort-merge joins are split at runtime; the blocking
    self-join's hot-block guard (operators/blocking.py) covers the skew
    AQE cannot see (a hot *logical* key's quadratic pair count).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of shuffle partitions + skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for pandas UDFs (the only Python in the hot path).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Keep broadcast autodetection on; AQE may upgrade SMJ->BHJ.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 8)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

"""SparkSession construction with scale-appropriate defaults.

Tests run on local[N]; the conf is written for a multi-executor cluster:
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
broadcast threshold sized for dimension tables, ZSTD parquet (the reference
compresses PSDB blocks opportunistically with ZSTD —
online-feature-store/internal/compression/zstd.go; parquet's codec is the
columnar analog), and Arrow enabled for the few pandas_udf paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "bharatmlstack_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS or *]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-coalesce the output partitioning of CACHED plans too
        # (default false): this engine persists multi-consumer intermediates
        # (hashed shingle sets, banded signatures, BPE word tables), and
        # without this every one of them freezes the static
        # spark.sql.shuffle.partitions constant into its cache layout — the
        # exact anti-pattern the optimization guide §2 warns about (partition
        # count as a constant instead of derived from bytes). With it on,
        # cached-plan partitioning follows the same AQE advisory sizing as
        # everything else at every scale. Measured 0.77-0.92x on the
        # cache-heavy bench rows (OPTIMIZATION_r16.md).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # dimension tables (region/nation/supplier, schema registry joins) are
        # tiny; let Catalyst broadcast aggressively.
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # runtime bloom filters prune the big side of shuffle joins on
        # selective keys (complements broadcast + AQE at fact-fact scale)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: don't spin up 200 tasks for 60k-row inputs; AQE coalesces
        # anyway, but a sane floor keeps the smoke tests fast.
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Python workers skip re-reading Spark's zip archives on every task
        # (worker_daemon.py); the package's parent dir on the workers' path
        # lets the daemon start whatever the working directory
        .config("spark.python.daemon.module", "bharatmlstack_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

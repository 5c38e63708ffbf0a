"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the configuration below is written so
the same code runs unchanged on a multi-executor cluster: AQE handles runtime
re-planning (skew joins, partition coalescing), Arrow is enabled for every
pandas-UDF boundary, and shuffle partitions default to the core count rather
than Spark's legacy 200.

Python workers are forked from :mod:`docarray_spark.worker_daemon`
(``spark.python.daemon.module``), not ``pyspark.daemon``: a reused PySpark
worker otherwise spends about 150-200 ms of CPU per Arrow task re-reading
the zip archives on its import path and collecting its whole heap, more
than a 10k-row ``match`` kernel costs (that module's docstring says why). The
package must therefore be importable by the executors' Python at start-up
(installed, or on ``PYTHONPATH`` as set below), not only shipped per task
with ``--py-files``; ``extra_conf`` can set the daemon module back to
``pyspark.daemon`` like any other setting.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "docarray_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # Make the package importable on python workers regardless of the
    # driver's cwd (cluster mode would ship a wheel / --py-files instead).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(":"):
        os.environ["PYTHONPATH"] = f"{repo_root}:{existing}" if existing else repo_root

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    driver_memory = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.python.daemon.module", "docarray_spark.worker_daemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

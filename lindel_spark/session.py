"""SparkSession factory with scale-appropriate defaults.

Tests and bench run on local[N]; the configs below are the ones that
matter at cluster scale too (AQE on, Arrow on, sane shuffle
parallelism) — nothing here is local-mode-specific except the master.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from lindel_spark import jvm


def get_spark(app_name: str = "lindel-spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # the curve functions' JVM kernels (lindel_spark/Curves.java),
        # compiled on first use in a checkout
        .config("spark.jars", jvm.jar_path())
    )
    # Harness-only knob, applied ONLY when the harness sets it: the
    # value-level oracle sweeps collect full query results (at the
    # derived sf1 a 6M-row x 16-wide round-trip serializes >1 GiB, past
    # the 1g default). bench.py / tools/oracle_check.py export
    # SPARK_GRAFT_MAX_RESULT=4g; library users keep Spark's default so
    # an accidental data-sized collect still fails fast instead of
    # ballooning the driver (ADVICE round-9).
    max_result = os.environ.get("SPARK_GRAFT_MAX_RESULT")
    if max_result:
        b = b.config("spark.driver.maxResultSize", max_result)
    return b.getOrCreate()

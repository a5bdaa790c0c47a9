"""SparkSession factory tuned for the engine.

Local testing runs ``local[N]``; the same config block is what we would
ship on a real cluster (AQE on, skew-join handling on, Arrow on, sane
shuffle-partition default).  Session timezone is pinned to UTC so
date/time functions are deterministic and match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from kats_spark.sources.load import read_parquet


def get_spark(app_name: str = "kats_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def tables(spark: SparkSession, sf_dir: str) -> dict:
    """Load the standard test tables from a scale-factor directory.

    Returns a dict name -> DataFrame; caller selects what it needs so
    Catalyst prunes columns down to the parquet scan.
    """
    names = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    out = {}
    for n in names:
        path = os.path.join(sf_dir, f"{n}.parquet")
        if os.path.exists(path):
            out[n] = read_parquet(spark, path)
    return out

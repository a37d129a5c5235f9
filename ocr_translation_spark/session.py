"""SparkSession factory with scale-aware defaults.

Local defaults mirror what the same job would set on a real cluster:
AQE on (runtime re-plan + skew-join splitting), Arrow on for the
pandas-UDF stages, and a deliberately SMALL Arrow batch size — media
payloads are large, so the default 10k rows/batch would balloon Python
worker memory (SURVEY.md section 4, "in-memory transport" row).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
ARROW_MAX_RECORDS = 512  # media bytes are KB-scale here, MB-scale in prod
# orderBy().limit(k) plans as TakeOrderedAndProject, whose per-task top-k
# buffer is sized from k: a "no limit" k such as 10**9 takes the driver
# heap. Above this k Spark plans a full sort + limit instead.
TOPK_SORT_FALLBACK = 100_000


def get_spark(
    app_name: str = "ocr-translation-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS)
        )
        .config(
            "spark.sql.execution.topKSortFallbackThreshold",
            str(TOPK_SORT_FALLBACK),
        )
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

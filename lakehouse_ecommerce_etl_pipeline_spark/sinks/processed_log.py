"""Processed-file marker log — Spark-native idempotency.

reference: the marker system is split across
lambda/lakehouse_check_processed_marker/lambda_function.py:17-28 (check)
and glue_jobs/archive_and_mark_processed.py:30-44 (write), with a path
bug: the checker reads ``processed/processed_log/...`` while the writer
writes ``processed/_processed_log/...`` — markers never match, so every
file reprocesses and MERGE idempotency silently absorbs it
(SURVEY.md §2.12-O1).

We implement the *intended* semantics with consistent paths: a managed
``_processed_log`` table of (dataset, file_name, processed_at). The
MERGE layer remains the safety net, exactly as the reference
effectively behaves — both layers are now correct and testable.
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse_ecommerce_etl_pipeline_spark.sources import table as managed

SCHEMA = T.StructType(
    [
        T.StructField("dataset", T.StringType()),
        T.StructField("file_name", T.StringType()),
        T.StructField("processed_at", T.TimestampType()),
    ]
)


def log_path(base_path: str) -> str:
    return os.path.join(base_path, "_processed_log")


def is_processed(spark: SparkSession, base_path: str, dataset: str, file_name: str) -> bool:
    """reference: lakehouse_check_processed_marker/lambda_function.py:17-28
    (marker existence check, with the path bug fixed)."""
    p = log_path(base_path)
    if not managed.exists(p):
        return False
    log = managed.read(spark, p)
    return (
        log.filter((log.dataset == dataset) & (log.file_name == file_name))
        .limit(1)
        .count()
        > 0
    )


def mark_processed(
    spark: SparkSession, base_path: str, dataset: str, file_name: str
) -> None:
    """reference: archive_and_mark_processed.py:37-44 (marker put).

    The one-row frame is built in the JVM (``spark.range``) rather than
    from a Python list, which would map through a Python worker."""
    now = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    new = spark.range(1).select(
        F.lit(dataset).alias("dataset"),
        F.lit(file_name).alias("file_name"),
        F.lit(now).alias("processed_at"),
    ).to(SCHEMA)
    p = log_path(base_path)
    if managed.exists(p):
        new = managed.read(spark, p).unionByName(new)
    managed.write(spark, new, p)

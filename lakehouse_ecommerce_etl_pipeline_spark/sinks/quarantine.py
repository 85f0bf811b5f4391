"""Rejected-records quarantine sink.

reference: glue_jobs/product_etl.py:64-70 — invalid rows get a
constant ``rejection_reason`` and are written as CSV *inside* the Delta
table directory (a layout bug, SURVEY.md §2.2-K3: readers of the table
path would pick up the CSVs). Fixed here: the quarantine is its own
managed table at ``<path>_rejected``, written with the same atomic
snapshot mechanics. Also fixed: the reference computes invalid rows for
orders/order_items and then silently drops them (orders_etl.py:60-62);
our pipeline quarantines every dataset's rejects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.sources import table as managed

DEFAULT_REASON = "Missing required fields"  # product_etl.py:66


def with_reason(df: DataFrame, reason: str = DEFAULT_REASON) -> DataFrame:
    """Tag rejects (reference: lit column, product_etl.py:65-67).
    Rows already carrying a ``rejection_reason`` keep it — upstream
    operators (FK checks) tag with finer-grained reasons."""
    if "rejection_reason" in df.columns:
        return df
    return df.withColumn("rejection_reason", F.lit(reason))


def quarantine_path(table_path: str) -> str:
    return f"{table_path.rstrip('/')}_rejected"


def write_rejected(
    spark: SparkSession,
    invalid: DataFrame,
    table_path: str,
    reason: str = DEFAULT_REASON,
) -> int:
    """Append rejects to the quarantine table; returns rejected count.

    The count gates the write, as product_etl.py:64 does (write only
    when non-empty), and is the returned counter. It is one extra
    action over ``invalid``: callers persist the frame ``invalid`` is
    filtered from (pipeline/driver.py), so the count reads memory
    instead of re-parsing the source.
    """
    tagged = with_reason(invalid, reason)
    n = tagged.count()
    if n == 0:
        return 0
    qpath = quarantine_path(table_path)
    if managed.exists(qpath):
        existing = managed.read(spark, qpath)
        tagged = existing.unionByName(tagged, allowMissingColumns=True)
    managed.write(spark, tagged, qpath)
    return n

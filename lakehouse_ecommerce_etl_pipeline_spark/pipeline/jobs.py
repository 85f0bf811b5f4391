"""Dataset job definitions — the three reference ETL jobs as declarative
configs over the engine's operators.

reference job shape (§3.2): source read → validate (null split) →
dedup by PK → [order_items: FK semi-joins] → audit columns →
MERGE-or-initial-write → catalog DDL. Shapes below cite the exact
reference lines they reproduce; divergences are the deliberate fixes
from SURVEY.md §7 (declared schemas everywhere, quarantine for every
dataset, distributed Excel).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse_ecommerce_etl_pipeline_spark.functions.datetime import (
    with_audit_columns,
)
from lakehouse_ecommerce_etl_pipeline_spark.operators.dedup import dedup_arbitrary
from lakehouse_ecommerce_etl_pipeline_spark.operators.validate import (
    not_null_predicate,
)
from lakehouse_ecommerce_etl_pipeline_spark.sinks.quarantine import DEFAULT_REASON
from lakehouse_ecommerce_etl_pipeline_spark.sources.excel import read_workbooks
from lakehouse_ecommerce_etl_pipeline_spark.sources.files import read_csv

# --- declared schemas (SURVEY.md §1.2, honest-types fix §7.3) ---------

PRODUCTS_SCHEMA = T.StructType(
    [
        T.StructField("product_id", T.StringType()),
        # README.md:71 promises Integer; code reads string
        # (product_etl.py:44) — we declare the honest Integer.
        T.StructField("department_id", T.IntegerType()),
        T.StructField("department", T.StringType()),
        T.StructField("product_name", T.StringType()),
    ]
)

ORDERS_SCHEMA = T.StructType(
    [
        T.StructField("order_num", T.StringType()),
        T.StructField("order_id", T.StringType()),
        T.StructField("user_id", T.StringType()),
        T.StructField("order_timestamp", T.TimestampType()),
        # README.md:80 promises Decimal; the code never casts — we
        # ingest double (Excel/pandas) then cast at the job boundary.
        T.StructField("total_amount", T.DoubleType()),
    ]
)

ORDER_ITEMS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("order_id", T.StringType()),
        T.StructField("user_id", T.StringType()),
        T.StructField("days_since_prior_order", T.IntegerType()),
        T.StructField("product_id", T.StringType()),
        T.StructField("add_to_cart_order", T.IntegerType()),
        # README.md:90 promises Boolean; raw data is 0/1 int — cast in job.
        T.StructField("reordered", T.IntegerType()),
        T.StructField("order_timestamp", T.TimestampType()),
    ]
)


@dataclass
class DatasetJob:
    name: str
    source_format: str  # "csv" | "workbook"
    schema: T.StructType
    required: list[str]
    merge_key: str
    partition_by: list[str]
    ts_col: str | None = None  # audit/partition timestamp source
    fks: dict[str, str] = field(default_factory=dict)  # child col -> parent dataset


JOBS: dict[str, DatasetJob] = {
    # reference: product_etl.py (CSV, all 4 required, key product_id,
    # partition department)
    "products": DatasetJob(
        name="products",
        source_format="csv",
        schema=PRODUCTS_SCHEMA,
        required=["product_id", "department_id", "department", "product_name"],
        merge_key="product_id",
        partition_by=["department"],
    ),
    # reference: orders_etl.py (Excel, 3 required, key order_id,
    # partition date)
    "orders": DatasetJob(
        name="orders",
        source_format="workbook",
        schema=ORDERS_SCHEMA,
        required=["order_id", "user_id", "order_timestamp"],
        merge_key="order_id",
        partition_by=["date"],
        ts_col="order_timestamp",
    ),
    # reference: order_items_etl.py (Excel, 5 required, FK semi-joins,
    # key id, partition date)
    "order_items": DatasetJob(
        name="order_items",
        source_format="workbook",
        schema=ORDER_ITEMS_SCHEMA,
        required=["id", "order_id", "user_id", "product_id", "order_timestamp"],
        merge_key="id",
        partition_by=["date"],
        ts_col="order_timestamp",
        fks={"order_id": "orders", "product_id": "products"},
    ),
}

# FK parent key per parent dataset (order_items_etl.py:45-56)
PARENT_KEYS = {"orders": "order_id", "products": "product_id"}

# the reference's processing order (lakehouse_etl_stepfunction.json:3,
# 44,103,162 — products → orders → order_items, FK dependency order)
DATASET_ORDER = ["products", "orders", "order_items"]


def read_source(spark: SparkSession, job: DatasetJob, path: str) -> DataFrame:
    if job.source_format == "csv":
        return read_csv(spark, path, job.schema)  # product_etl.py:49-52
    return read_workbooks(spark, path, job.schema, job.required).drop(
        "source_file", "sheet_name"
    )


def label(
    df: DataFrame,
    job: DatasetJob,
    parents: dict[str, DataFrame],
) -> DataFrame:
    """Every row of ``df`` plus ``rejection_reason``: null for a clean
    row, else the first failed check — a null required field, then the
    first dangling FK in ``job.fks`` order. Same tags as
    ``split_valid_invalid`` → ``fk_violations`` / ``referential_filter``
    (operators/), computed in one pass.

    Each FK check is an IN-subquery on the parent's key set, which plans
    as one existence join per parent (broadcast when the parent is
    small, no distinct); a null or unmatched key is a violation, the
    semi-join semantics of ``referential_filter``."""
    reason = F.when(~not_null_predicate(job.required), F.lit(DEFAULT_REASON))
    for child, parent in job.fks.items():
        parent_keys = parents[parent].select(PARENT_KEYS[parent])
        found = F.coalesce(F.col(child).isin(parent_keys), F.lit(False))
        reason = reason.when(~found, F.lit(f"FK violation: {child}"))
    return df.withColumn("rejection_reason", reason)


def transform(
    df: DataFrame,
    job: DatasetJob,
    parents: dict[str, DataFrame],
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(labelled, clean, rejected) — the per-dataset transformation core.

    ``labelled`` tags every input row once (``label``); clean and
    rejected are two filters on it, so persisting ``labelled`` makes
    every later action read the source once (pipeline/driver.py).
    clean = untagged rows → dedup → audit/typed columns; rejected =
    tagged rows (fixing the reference's silently-dropped invalid rows,
    §2.13). Plan construction only: launches no Spark job.
    """
    labelled = label(df, job, parents)
    reason = F.col("rejection_reason")
    rejected = labelled.filter(reason.isNotNull())
    clean = dedup_arbitrary(  # orders_etl.py:74
        labelled.filter(reason.isNull()).drop("rejection_reason"), [job.merge_key]
    )

    if job.ts_col:
        clean = with_audit_columns(clean, job.ts_col)  # orders_etl.py:75-80
    else:
        clean = clean.withColumn("ingestion_timestamp", F.current_timestamp())

    if job.name == "orders":
        # README.md:80 Decimal promise, honored at the boundary
        clean = clean.withColumn(
            "total_amount", F.col("total_amount").cast("decimal(12,2)")
        )
    if job.name == "order_items":
        clean = clean.withColumn("reordered", F.col("reordered").cast("boolean"))
    return labelled, clean, rejected

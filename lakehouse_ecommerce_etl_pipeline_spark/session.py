"""SparkSession factory.

Reproduces the session configuration every reference Glue job builds
(reference: glue_jobs/orders_etl.py:26-37 — Delta extension + catalog),
plus the scale hygiene the reference leaves to Glue defaults: AQE with
partition coalescing and skew-join handling, Arrow for any
pandas-interop path, a pinned UTC session timezone (required for
oracle parity with DuckDB's naive timestamps), and an explicit
broadcast threshold so dimension-table joins (region/nation/part)
broadcast instead of shuffling.

100 TB design notes
-------------------
- ``spark.sql.shuffle.partitions`` defaults here to the local core
  count; on a 1000-executor cluster set it (or let AQE coalesce from)
  ~2-3x total cores. AQE re-plans at runtime either way.
- ``spark.sql.files.maxPartitionBytes`` = 128 MiB keeps scan tasks
  right-sized for 100 TB inputs (~800k tasks — fine for Spark's
  scheduler; raise to 256 MiB if task overhead dominates).
- ``autoBroadcastJoinThreshold`` = 64 MiB: every TPC-H-style dimension
  (region/nation/supplier/part at single-node scale) broadcasts; fact-
  fact joins fall through to sort-merge with AQE skew splitting.
- Delta Lake is optional at runtime: if ``delta-spark`` is importable
  the extension + catalog are configured exactly as the reference does;
  otherwise the sinks fall back to the parquet-backed managed-table
  layer in ``sources/table.py`` (same semantics, versioned dirs).
"""

from __future__ import annotations

import importlib.util
import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "lakehouse-ecommerce-etl-pipeline-spark"


def delta_available() -> bool:
    """True when delta-spark is importable (not baked into this image)."""
    return importlib.util.find_spec("delta") is not None


# the directory holding this package: Python workers import the engine
# from it whatever the driver's working directory
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_EXECUTOR_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def _executor_pythonpath(existing: str | None) -> str:
    """``existing`` with the package's parent directory in front (once)."""
    rest = [p for p in (existing or "").split(os.pathsep) if p and p != _PACKAGE_PARENT]
    return os.pathsep.join([_PACKAGE_PARENT, *rest])


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    reference: glue_jobs/orders_etl.py:26-37 (SparkSession with Delta
    extension + catalog — applied here only when delta-spark exists);
    glue_jobs/product_etl.py:21-30 (identical config in every job).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "snappy")
        # UI off by default (bench hygiene); SPARK_GRAFT_UI=true flips it
        # on for the measured shuffle audit (scripts/shuffle_audit.py
        # reads stage metrics over the REST API)
        .config(
            "spark.ui.enabled",
            "true"
            if os.environ.get("SPARK_GRAFT_UI", "").lower()
            in ("true", "1", "yes", "on")
            else "false",
        )
        # bucketed tables need a catalog warehouse; keep it off the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/lakehouse_spark_warehouse"
            ),
        )
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanos timestamp type — read as long and convert at the source
        # (plans/_helpers.load truncates to micros, matching DuckDB)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # JVM (pre-4.1) case mapping for lower()/upper() under
        # UTF8_BINARY: Spark 4.1's ICU path builds a full-Unicode
        # title-case table in a single-threaded class init (~5 min per
        # fresh JVM on this host, all other task threads blocked on the
        # init monitor — thread-dump evidence in OPTIMIZATION_r12.md).
        # Result-identical here: the corpus is pure ASCII at every SF
        # (audited) and no initcap/titlecase expression exists in the
        # package, so ICU and JVM mappings agree bit-for-bit (pinned by
        # tests/test_icu_casemap.py). Re-evaluate for non-ASCII corpora.
        .config("spark.sql.icu.caseMappings.enabled", "false")
        # naive parquet timestamps (isAdjustedToUTC=false) read as
        # session-UTC TIMESTAMP, not TIMESTAMP_NTZ: time-arithmetic
        # (unix_micros, window(), watermarks) requires TIMESTAMP, and the
        # DuckDB oracle compares equal under the pinned-UTC session
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )

    if delta_available():
        builder = (
            builder.config(
                "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
            ).config(
                "spark.sql.catalog.spark_catalog",
                "org.apache.spark.sql.delta.catalog.DeltaCatalog",
            )
        )

    # the workers' PYTHONPATH also gets the driver's $PYTHONPATH from
    # Spark itself; a caller's own entries (extra_conf) are kept
    conf = dict(extra_conf or {})
    conf[_EXECUTOR_PYTHONPATH] = _executor_pythonpath(conf.get(_EXECUTOR_PYTHONPATH))
    for k, v in conf.items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""End-to-end pipeline test per FIXTURES.md §A4: run the three-dataset
DAG over dirty fixtures, assert PK uniqueness, FK closure, rejected
counts, and idempotency (second run is a marker-skip no-op)."""

from __future__ import annotations

import os

import pytest

from lakehouse_ecommerce_etl_pipeline_spark.pipeline import run_pipeline
from lakehouse_ecommerce_etl_pipeline_spark.pipeline.driver import table_path
from lakehouse_ecommerce_etl_pipeline_spark.sinks.quarantine import quarantine_path
from lakehouse_ecommerce_etl_pipeline_spark.sources import table as managed


def _snapshot(spark, base, dataset, drop=("ingestion_timestamp",)):
    df = managed.read(spark, table_path(base, dataset))
    return sorted(
        tuple(row) for row in df.drop(*drop).collect()
    )


def test_pipeline_end_to_end(spark, raw_zone):
    results = run_pipeline(spark, raw_zone)

    # products: 8 raw - 2 null-rejects = 6 valid, -1 dup = 5 loaded
    assert results["products"] == {"loaded": 5, "rejected": 2}

    # orders: 20 good + 3 dirty (1 dup-key merged, 2 null-rejects) → 20
    assert results["orders"]["loaded"] == 20
    assert results["orders"]["rejected"] == 2

    # order_items: 40 good + dup(i0 merged) + null reject + 2 FK rejects
    assert results["order_items"]["loaded"] == 40
    assert results["order_items"]["rejected"] == 3

    orders = managed.read(spark, table_path(raw_zone, "orders"))
    items = managed.read(spark, table_path(raw_zone, "order_items"))
    products = managed.read(spark, table_path(raw_zone, "products"))

    # PK uniqueness
    for df, k in [(orders, "order_id"), (items, "id"), (products, "product_id")]:
        assert df.count() == df.select(k).distinct().count()

    # FK closure of order_items
    assert items.join(orders, "order_id", "left_anti").count() == 0
    assert items.join(products, "product_id", "left_anti").count() == 0

    # audit/typed columns present
    assert dict(orders.dtypes)["total_amount"] == "decimal(12,2)"
    assert dict(orders.dtypes)["date"] == "date"
    assert dict(items.dtypes)["reordered"] == "boolean"

    # quarantine tables hold the rejects with reasons
    rej = managed.read(spark, quarantine_path(table_path(raw_zone, "order_items")))
    reasons = sorted(r.rejection_reason for r in rej.collect())
    assert reasons == [
        "FK violation: order_id",
        "FK violation: product_id",
        "Missing required fields",
    ]

    # raw files archived, raw zone drained
    assert os.listdir(os.path.join(raw_zone, "raw", "orders")) == []
    assert len(os.listdir(os.path.join(raw_zone, "archived", "orders"))) == 1

    # idempotency: rerun is a marker-skip no-op (nothing to discover,
    # markers present) — tables byte-identical
    before = {d: _snapshot(spark, raw_zone, d) for d in ("products", "orders", "order_items")}
    results2 = run_pipeline(spark, raw_zone)
    assert results2 == {}  # nothing new processed
    after = {d: _snapshot(spark, raw_zone, d) for d in ("products", "orders", "order_items")}
    assert before == after


def test_pipeline_marker_skip_on_restored_file(spark, raw_zone, tmp_path):
    """A file that reappears after processing is skipped via the marker
    log (the reference's *intended* O1 semantics)."""
    run_pipeline(spark, raw_zone)
    # restore the archived products file into raw/
    src = os.path.join(raw_zone, "archived", "products", "products.csv")
    dst = os.path.join(raw_zone, "raw", "products", "products.csv")
    import shutil

    shutil.copy(src, dst)
    results = run_pipeline(spark, raw_zone)
    assert results == {}  # marker hit → skipped
    assert os.path.exists(dst)  # not re-archived


def test_pipeline_second_monthly_batch_upserts(spark, raw_zone):
    """The reference's real cadence: a May batch lands after April.
    Overlapping keys update in place (MERGE), new keys insert, markers
    accumulate per file (reference: monthly file naming,
    lakehouse_etl_stepfunction.json:96)."""
    import datetime as dt

    import pandas as pd

    from lakehouse_ecommerce_etl_pipeline_spark.sources.excel import (
        write_fake_workbook,
    )

    run_pipeline(spark, raw_zone)
    orders_before = managed.read(spark, table_path(raw_zone, "orders"))
    assert orders_before.count() == 20

    t1 = dt.datetime(2025, 5, 1, 9, 0, 0)
    may = pd.DataFrame(
        [
            # update: o5 re-sent with a corrected amount
            {"order_num": "n5", "order_id": "o5", "user_id": "u0",
             "order_timestamp": t1, "total_amount": 777.77},
            # inserts: two genuinely new orders
            {"order_num": "n100", "order_id": "o100", "user_id": "u1",
             "order_timestamp": t1, "total_amount": 50.0},
            {"order_num": "n101", "order_id": "o101", "user_id": "u2",
             "order_timestamp": t1, "total_amount": 60.0},
        ]
    )
    write_fake_workbook(
        os.path.join(raw_zone, "raw", "orders", "orders_may_2025.bundle"),
        {"Sheet1": may},
    )
    results = run_pipeline(spark, raw_zone)
    assert results["orders"]["loaded"] == 22  # 20 + 2 inserts

    orders = managed.read(spark, table_path(raw_zone, "orders"))
    row = orders.filter("order_id = 'o5'").collect()[0]
    assert float(row.total_amount) == 777.77  # updated in place
    assert str(row.date) == "2025-05-01"      # re-derived partition col
    assert orders.filter("order_id IN ('o100','o101')").count() == 2
    # both monthly files archived + marked
    archived = sorted(os.listdir(os.path.join(raw_zone, "archived", "orders")))
    assert archived == ["orders_apr_2025.bundle", "orders_may_2025.bundle"]


def test_cli_entrypoint_runs_dag_and_prints_summary(spark, raw_zone, capsys):
    import json

    from lakehouse_ecommerce_etl_pipeline_spark.pipeline.__main__ import main

    rc = main([str(raw_zone)])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(out["datasets"]) == {"products", "orders", "order_items"}
    # second invocation: marker log skips everything, summary is empty
    rc = main([str(raw_zone)])
    assert rc == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["datasets"] == {}


# --- single-pass ingest: labelled transform, observed counts, one parse ---


def _source(raw_zone, dataset):
    d = os.path.join(raw_zone, "raw", dataset)
    return os.path.join(d, sorted(os.listdir(d))[0])


def _operator_composition(df, job, parents):
    """(valid, rejected) the way the pipeline composed the operators
    before it labelled rows in one pass: null split, FK violations of
    the valid side, semi-join filter."""
    from pyspark.sql import functions as F

    from lakehouse_ecommerce_etl_pipeline_spark.operators.joins import (
        fk_violations,
        referential_filter,
    )
    from lakehouse_ecommerce_etl_pipeline_spark.operators.validate import (
        split_valid_invalid,
    )
    from lakehouse_ecommerce_etl_pipeline_spark.pipeline.jobs import PARENT_KEYS

    valid, invalid = split_valid_invalid(df, job.required)
    rejected = invalid.withColumn("rejection_reason", F.lit("Missing required fields"))
    if job.fks:
        fk_map = {c: (parents[p], PARENT_KEYS[p]) for c, p in job.fks.items()}
        bad = fk_violations(valid, fk_map).withColumn(
            "rejection_reason", F.concat(F.lit("FK violation: "), F.col("fk_violation"))
        ).drop("fk_violation")
        rejected = rejected.unionByName(bad)
        valid = referential_filter(valid, fk_map)
    return valid, rejected


def test_labelled_transform_matches_operator_composition(spark, raw_zone, monkeypatch):
    import datetime as dt

    from pyspark.sql import functions as F

    from lakehouse_ecommerce_etl_pipeline_spark.pipeline import jobs
    from lakehouse_ecommerce_etl_pipeline_spark.pipeline.driver import run_dataset

    def rows(df, cols):
        return sorted((tuple(r) for r in df.select(*cols).collect()), key=repr)

    for parent in ("products", "orders"):
        run_dataset(spark, raw_zone, parent, _source(raw_zone, parent))
    parents = {p: managed.read(spark, table_path(raw_zone, p)) for p in ("products", "orders")}
    t0 = dt.datetime(2025, 4, 1, 12, 0, 0)
    extra = spark.createDataFrame(
        [
            # dangles both FKs: tagged with the first in job.fks order
            ("ix3", "o_missing", "u1", 1, "p_missing", 1, 0, t0),
            # null order_id: a missing required field, not an FK violation
            ("ix4", None, "u1", 1, "p1", 1, 0, t0),
        ],
        jobs.ORDER_ITEMS_SCHEMA,
    )
    # dedup keeps an arbitrary row per key: compare the rows before it
    monkeypatch.setattr(jobs, "dedup_arbitrary", lambda df, keys: df)
    for dataset, job in jobs.JOBS.items():
        raw = jobs.read_source(spark, job, _source(raw_zone, dataset))
        if dataset == "order_items":
            raw = raw.unionByName(extra)
        _, clean, rejected = jobs.transform(raw, job, parents)
        valid, old_rejected = _operator_composition(raw, job, parents)
        cols = raw.columns
        typed = [F.col(f.name).cast(f.dataType) for f in raw.schema.fields]
        assert rows(clean.select(*typed), cols) == rows(valid, cols), dataset
        rcols = [*cols, "rejection_reason"]
        assert rows(rejected, rcols) == rows(old_rejected, rcols), dataset

    tags = {r.id: r.rejection_reason for r in rejected.collect()}
    assert tags["ix3"] == "FK violation: order_id"
    assert tags["ix4"] == "Missing required fields"


def test_loaded_is_the_observed_snapshot_count(spark, raw_zone):
    """``loaded`` comes from an Observation on the MERGE write; it must
    equal COUNT(*) through the catalog name, on the initial-write path
    (batch 1) and the rewrite path (a second orders workbook)."""
    import pandas as pd

    from lakehouse_ecommerce_etl_pipeline_spark.sinks import catalog
    from lakehouse_ecommerce_etl_pipeline_spark.sources.excel import write_fake_workbook

    def check(results):
        for dataset, counters in results.items():
            tpath = table_path(raw_zone, dataset)
            name = catalog.register_table_external(
                spark, managed.current_data_path(tpath), dataset
            )
            assert counters["loaded"] == catalog.count_star(spark, name), dataset

    first = run_pipeline(spark, raw_zone)
    assert set(first) == {"products", "orders", "order_items"}
    check(first)
    may = pd.DataFrame(
        [{"order_num": "n200", "order_id": "o200", "user_id": "u1",
          "order_timestamp": pd.Timestamp("2025-05-02 08:00:00"), "total_amount": 5.0},
         {"order_num": "n3", "order_id": "o3", "user_id": "u3",
          "order_timestamp": pd.Timestamp("2025-05-02 09:00:00"), "total_amount": 6.0}]
    )
    write_fake_workbook(
        os.path.join(raw_zone, "raw", "orders", "orders_may_2025.bundle"), {"Sheet1": may}
    )
    second = run_pipeline(spark, raw_zone)
    assert second["orders"] == {"loaded": 21, "rejected": 0}
    check(second)


def _persisted_rdds(spark):
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def test_run_pipeline_leaves_nothing_persisted(spark, raw_zone, monkeypatch):
    from lakehouse_ecommerce_etl_pipeline_spark.pipeline import driver

    before = _persisted_rdds(spark)
    run_pipeline(spark, raw_zone)
    assert _persisted_rdds(spark) == before

    # a failed attempt (after the persisted frame was filled by the
    # quarantine write) releases it too, on every retry
    def failing_merge(*args, **kwargs):
        raise RuntimeError("merge failed")

    monkeypatch.setattr(driver, "merge_upsert", failing_merge)
    # the archived workbook under a new name, which the marker log lacks
    os.rename(
        os.path.join(raw_zone, "archived", "orders", "orders_apr_2025.bundle"),
        os.path.join(raw_zone, "raw", "orders", "orders_may_2025.bundle"),
    )
    with pytest.raises(RuntimeError, match="merge failed"):
        run_pipeline(spark, raw_zone, retry_attempts=2, retry_delay=0.0)
    assert _persisted_rdds(spark) == before


# Spark jobs per run_dataset call on the conftest raw zone (batch 1,
# initial writes): count + cache fill, quarantine write, MERGE write,
# catalog registration — the workbook is parsed once per file. Before
# the single labelled pass these were products 8, orders 8,
# order_items 20.
JOBS_PER_RUN_DATASET = {"products": 7, "orders": 7, "order_items": 9}


def test_jobs_per_run_dataset_ratchet(spark, raw_zone, monkeypatch):
    from lakehouse_ecommerce_etl_pipeline_spark.pipeline import driver

    sc = spark.sparkContext
    run_dataset = driver.run_dataset
    groups = {}

    def grouped(spark, base_dir, dataset, source_path):
        group = groups[dataset] = f"ratchet-run_dataset-{dataset}-{id(groups)}"
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, group)
        try:
            return run_dataset(spark, base_dir, dataset, source_path)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", outer)

    monkeypatch.setattr(driver, "run_dataset", grouped)
    run_pipeline(spark, raw_zone)
    tracker = sc.statusTracker()
    got = {d: len(tracker.getJobIdsForGroup(g)) for d, g in groups.items()}
    assert got == JOBS_PER_RUN_DATASET

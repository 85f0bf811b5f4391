"""MERGE upsert — the reference's core idempotency primitive.

reference: glue_jobs/orders_etl.py:82-91 (merge on ``order_id`` with
``whenMatchedUpdateAll / whenNotMatchedInsertAll``), identical shape in
order_items_etl.py:109-118 (key ``id``) and product_etl.py:72-81 (key
``product_id``).

Semantics (last-write-wins upsert):
  result = source ∪ (target ⟕̸ source)          -- anti-join + union

``merge_frames`` is the pure-DataFrame relational core (what the
oracle checks); ``merge_upsert`` is the storage operator that applies
it to a managed table — dispatching to real ``DeltaTable.merge`` when
delta-spark is present, else computing the merged snapshot and
atomically publishing it (sources/table.py).

Invariant (load-bearing, SURVEY.md §7 hard-part 2): the source must be
unique on the merge keys — Delta MERGE throws on duplicate source
matches, and the reference guarantees this by deduplicating first
(orders_etl.py:74). ``merge_frames`` asserts the same contract via an
optional runtime check.

100 TB: Delta MERGE rewrites only files containing matched keys (file
skipping by min/max stats); the fallback rewrites the table, which is
correct but O(table) — acceptable single-node, noted as the reason the
Delta path exists. The anti-join shuffles on the merge key; with a
date-partitioned target and date-bounded sources, partition pruning
bounds the rewrite set.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.session import delta_available
from lakehouse_ecommerce_etl_pipeline_spark.sources import table as managed


def merge_frames(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    evolve_schema: bool = False,
) -> DataFrame:
    """Relational MERGE result: every source row (update-all ∪
    insert-all) + target rows whose key has no source match.

    ``evolve_schema=True`` is the reference's *claimed* schema
    evolution (README.md:104,117 — never wired in its code, no
    mergeSchema anywhere): new source columns are added to the result
    (NULL for untouched target rows), missing source columns become
    NULL — Delta's ``mergeSchema`` semantics."""
    kept = target.join(source.select(*keys).distinct(), on=list(keys), how="left_anti")
    if evolve_schema:
        return kept.unionByName(source, allowMissingColumns=True)
    cols = target.columns
    return kept.select(*cols).unionByName(source.select(*cols))


def _write_counted(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] | None,
) -> int:
    """Publish ``df`` as the table's next snapshot; returns its row
    count, observed on the write itself (no extra pass)."""
    obs = Observation()
    counted = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    managed.write(spark, counted, path, partition_by=list(partition_by or []))
    return obs.get["rows"]


def merge_upsert(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    keys: Sequence[str],
    partition_by: Sequence[str] | None = None,
    evolve_schema: bool = False,
) -> int | None:
    """Upsert ``source`` into the managed table at ``path``; initial
    write if the table doesn't exist yet (reference: merge-or-initial
    branch, orders_etl.py:82-96).

    Returns the row count of the snapshot it publishes, observed on the
    write; ``None`` on the Delta path, whose MERGE cannot be observed."""
    if not managed.exists(path):
        return _write_counted(spark, source, path, partition_by)
    if delta_available():
        from delta.tables import DeltaTable  # type: ignore

        if evolve_schema:
            spark.conf.set("spark.databricks.delta.schema.autoMerge.enabled", "true")
        cond = " AND ".join(f"t.{k} = s.{k}" for k in keys)
        (
            DeltaTable.forPath(spark, path)
            .alias("t")
            .merge(source.alias("s"), cond)
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
        return None
    target = managed.read(spark, path)
    merged = merge_frames(target, source, keys, evolve_schema=evolve_schema)
    return _write_counted(spark, merged, path, partition_by)


def apply_changes_frames(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    op_col: str = "op",
) -> DataFrame:
    """Relational CDC-apply (MERGE with a delete branch): ``source``
    rows are last-write-wins upserts unless ``op_col == 'delete'``,
    which removes the key from the target — the
    ``whenMatchedDelete`` clause the plain reference MERGE
    (glue_jobs/orders_etl.py:82-91) lacks, required the day an
    upstream emits retractions.

        result = (target ⟕̸ source.keys) ∪ σ[op≠delete](source)

    Same uniqueness contract as ``merge_frames``: source unique per
    key (one op per key per batch)."""
    kept = target.join(
        source.select(*keys).distinct(), on=list(keys), how="left_anti"
    )
    cols = target.columns
    upserts = source.filter(F.col(op_col) != "delete").select(*cols)
    return kept.select(*cols).unionByName(upserts)


def apply_changes(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    keys: Sequence[str],
    op_col: str = "op",
    partition_by: Sequence[str] | None = None,
) -> None:
    """Storage CDC-apply on a managed table: Delta
    ``whenMatchedDelete(op='delete') / whenMatchedUpdateAll /
    whenNotMatchedInsert(op≠'delete')`` when delta-spark is present,
    else the snapshot rewrite of ``apply_changes_frames``.

    100 TB: identical file-skipping profile to MERGE — only files
    holding matched keys rewrite; deletes are logical (tombstoned by
    the new file list) until VACUUM reclaims them."""
    if not managed.exists(path):
        managed.write(
            spark,
            source.filter(F.col(op_col) != "delete").drop(op_col),
            path,
            partition_by=list(partition_by or []),
        )
        return
    if delta_available():
        from delta.tables import DeltaTable  # type: ignore

        cond = " AND ".join(f"t.{k} = s.{k}" for k in keys)
        data_cols = [c for c in source.columns if c != op_col]
        (
            DeltaTable.forPath(spark, path)
            .alias("t")
            .merge(source.alias("s"), cond)
            .whenMatchedDelete(condition=f"s.{op_col} = 'delete'")
            .whenMatchedUpdate(set={c: f"s.{c}" for c in data_cols})
            .whenNotMatchedInsert(
                condition=f"s.{op_col} != 'delete'",
                values={c: f"s.{c}" for c in data_cols},
            )
            .execute()
        )
        return
    target = managed.read(spark, path)
    merged = apply_changes_frames(target, source, keys, op_col=op_col)
    managed.write(spark, merged, path, partition_by=list(partition_by or []))


def assert_unique_keys(df: DataFrame, keys: Sequence[str]) -> None:
    """Guard for the MERGE source-uniqueness contract (raises on dupes).
    An action — use in tests/pipeline, not in lazy plans."""
    dupes = (
        df.groupBy(*[F.col(k) for k in keys]).count().filter(F.col("count") > 1)
    )
    if dupes.limit(1).count() > 0:
        raise ValueError(f"MERGE source has duplicate keys on {list(keys)}")

"""Key-equality upsert (MERGE) into a partitioned parquet table.

Capability parity with the reference's Delta MERGE
(``product_etl.py:63-74``, ``orders_etl.py:65-74``, ``order_items_etl.py:
100-109``): ``WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *``
keyed on the PK, with create-if-absent (S3/S4/S5 in SURVEY.md §2.1).

delta-spark is not available in this environment, so the upsert is
re-expressed as a native Spark plan with the same partition-touch profile
Delta MERGE has:

1. restrict the rewrite to *affected partitions* — target partitions that
   contain at least one source key (a broadcast semi join on the partition
   columns of the tiny distinct-partitions set of the source);
2. within those partitions, keep target rows whose PK is absent from the
   source (broadcast anti join — the source batch is the small side in an
   incremental load), union the source rows;
3. write with **dynamic partition overwrite** so untouched partitions'
   files are never rewritten — the moral equivalent of Delta rewriting only
   files containing matches.

Durability note: parquet overwrite is not ACID. The ACID form of the same
upsert is ``sources.snapshots.merge_commit`` (same ``merge_plan``, published
as an atomic snapshot version).

Like Delta MERGE (which throws on duplicate source keys — SURVEY.md §7.3),
the source must be deduplicated by PK first; ``check_source_unique=True``
enforces it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
    dedup as D,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.tables import TableSpec


def table_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe (the reference's create-if-absent check, S5)."""
    if not os.path.isdir(path):
        return False
    for root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") or f == "_SUCCESS" for f in files):
            return True
    return False


def affected_partitions(
    source: DataFrame, target: DataFrame, spec: TableSpec
) -> DataFrame:
    """Partitions the upsert may rewrite: partitions the source writes into
    ∪ partitions holding a matched key (a row whose partition value changed
    must have its old copy rewritten away — Delta's find-touched-files join
    equivalent)."""
    pk = spec.primary_key
    parts = list(spec.partition_by)
    keys = F.broadcast(source.select(pk))
    source_parts = source.select(*parts).distinct()
    matched_parts = (
        target.join(keys, on=pk, how="left_semi").select(*parts).distinct()
    )
    return source_parts.union(matched_parts).distinct()


def merge_plan(
    source: DataFrame,
    target: DataFrame,
    spec: TableSpec,
) -> DataFrame:
    """The pure-relational core of the upsert: rows that must exist in the
    affected partitions afterwards = source ∪ (target in affected partitions
    ∖ source-by-PK). Exposed separately so the correctness oracle can check
    it as a query (SQL: UNION ALL + NOT EXISTS)."""
    pk = spec.primary_key
    parts = list(spec.partition_by)
    keys = F.broadcast(source.select(pk))
    if parts:
        affected = affected_partitions(source, target, spec)
        target_scope = target.join(F.broadcast(affected), on=parts, how="left_semi")
    else:
        target_scope = target
    kept = target_scope.join(keys, on=pk, how="left_anti")
    cols = [f.name for f in spec.schema.fields]
    return source.select(*cols).unionByName(kept.select(*cols))


def apply_changes(
    target: DataFrame,
    changes: DataFrame,
    key: str,
    op_col: str = "op",
    ts_col: str | None = None,
) -> DataFrame:
    """CDC apply (the Delta Live Tables ``apply_changes`` shape): a
    change feed with ``op ∈ {I, U, D}`` rows lands on the target in one
    relational plan — inserts/updates upsert, deletes drop, and when
    ``ts_col`` is given the batch first collapses to the LATEST change
    per key (last-writer-wins, deterministic (ts, op) tie-break), so an
    out-of-order feed containing U then D for one key applies only the
    later one.

    Plan: one window over the (small) change batch, one anti join to
    clear changed keys from the target, one union of surviving upserts —
    target scans once; at scale combine with partition-scoped merge
    (merge_commit) so only touched partitions rewrite."""
    from pyspark.sql import Window

    c = changes
    if ts_col is not None:
        w = Window.partitionBy(key).orderBy(
            F.col(ts_col).desc(), F.col(op_col).desc()
        )
        c = (
            c.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    changed_keys = F.broadcast(c.select(key))
    kept = target.join(changed_keys, key, "left_anti")
    cols = target.columns
    upserts = c.filter(F.col(op_col) != "D").select(*cols)
    return kept.unionByName(upserts)


def _cluster_for_write(df: DataFrame, partition_by) -> DataFrame:
    """Cluster rows by partition value before a partitioned write.

    Without clustering, every write task emits one file per partition value
    it happens to hold (tasks × values small files). A plain
    ``repartition(cols)`` fixes that but pins each hot value to exactly one
    task and one giant file — AQE's skew splitting does NOT apply to user
    repartitions (only to skew joins and rebalance nodes). The REBALANCE
    hint keeps the value-per-task clustering while letting
    ``OptimizeSkewInRebalancePartitions`` split a hot partition value
    across several tasks (several files for that value — the right
    tradeoff at scale)."""
    return df.hint("rebalance", *list(partition_by))


def require_unique_keys(source: DataFrame, spec: TableSpec) -> None:
    """Raise if ``source`` holds a primary key twice — MERGE needs one
    source row per key (Delta MERGE throws on the same input)."""
    if D.duplicate_keys(source, [spec.primary_key]).limit(1).count() > 0:
        raise ValueError(
            f"merge source has duplicate {spec.primary_key!r} keys; "
            "dedup before merge"
        )


def _delete_path(spark: SparkSession, path: str) -> None:
    """Filesystem-agnostic recursive delete via the Hadoop FileSystem API
    (works for file://, s3a://, hdfs:// alike)."""
    jvm = spark._jvm  # type: ignore[attr-defined]
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())  # type: ignore[attr-defined]
    fs.delete(p, True)


def merge_upsert(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    spec: TableSpec,
    check_source_unique: bool = True,
    evolve_schema: bool = False,
) -> None:
    """Upsert ``source`` into the table at ``path`` (create if absent).

    ``evolve_schema=True`` allows additive evolution (Delta's
    ``mergeSchema`` semantics for new columns): ``spec`` describes the NEW
    schema and existing target rows get null for columns they predate.
    Column removals/renames/type changes are rejected — those are
    migrations, not evolution.
    """
    cols = [f.name for f in spec.schema.fields]
    source = source.select(*cols)
    if check_source_unique:
        require_unique_keys(source, spec)

    if not table_exists(spark, path):
        if spec.partition_by:
            source = _cluster_for_write(source, spec.partition_by)
        w = source.write.mode("overwrite")
        if spec.partition_by:
            w = w.partitionBy(*spec.partition_by)
        w.parquet(path)
        return

    target = spark.read.parquet(path)
    missing_in_target = [c for c in cols if c not in target.columns]
    extra_in_target = [c for c in target.columns if c not in cols]
    if missing_in_target or extra_in_target:
        if not evolve_schema or extra_in_target:
            raise ValueError(
                f"schema mismatch at {path}: target lacks {missing_in_target}, "
                f"has extra {extra_in_target}; pass evolve_schema=True for "
                "additive evolution"
            )
        for c in missing_in_target:  # additive evolution: backfill nulls
            target = target.withColumn(
                c, F.lit(None).cast(spec.schema[c].dataType)
            )
    merged = merge_plan(source, target, spec)
    # The plan reads the same files the overwrite will replace: break the
    # lineage before writing. localCheckpoint materializes the merged rows
    # (only the affected partitions — small for incremental batches).
    merged = merged.localCheckpoint(eager=True)
    stale_dirs: list[str] = []
    if spec.partition_by:
        # dynamic overwrite only replaces partitions *present* in `merged`;
        # an affected partition left with zero rows (its only row moved to a
        # new partition value) must be deleted explicitly or the stale copy
        # survives on disk
        parts = list(spec.partition_by)
        affected = {
            tuple(r) for r in affected_partitions(source, target, spec).collect()
        }
        written = {tuple(r) for r in merged.select(*parts).distinct().collect()}
        for vals in affected - written:
            subdir = "/".join(f"{c}={v}" for c, v in zip(parts, vals))
            stale_dirs.append(f"{path}/{subdir}")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    except Exception:  # pragma: no cover
        pass
    if spec.partition_by:
        merged = _cluster_for_write(merged, spec.partition_by)
    w = merged.write.mode("overwrite")
    if spec.partition_by:
        w = w.partitionBy(*spec.partition_by)
    w.parquet(path)
    for d in stale_dirs:
        _delete_path(spark, d)

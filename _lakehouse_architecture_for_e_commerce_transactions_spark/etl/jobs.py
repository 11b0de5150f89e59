"""The reference's three ETL jobs, re-expressed as one generic Spark job.

Reference shape (``product_etl.py``, ``orders_etl.py``, ``order_items_etl.py``):
read CSV with declared schema → validate (5 staged passes) → dedup by PK →
FK probes (order_items only) → Delta MERGE upsert or initial partitioned
write → rejects to quarantine CSV.

Rebuild shape (single pass per concern, SURVEY.md §4.3 fixes applied):
read CSV (PERMISSIVE) → single-pass validation with observe() metrics →
deterministic dedup → chained broadcast semi/anti FK probes → MERGE →
namespaced quarantine writes. Each stage is an engine operator;
``ingest_batch`` wires them per TableSpec for batch jobs, stream
micro-batches and quarantine replay alike.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
    dedup as D,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
    joins as J,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
    merge as M,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
    validation as V,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.sources import (
    read_csv,
    write_rejects,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.sources import (
    snapshots as S,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.tables import TableSpec


@dataclass
class JobResult:
    """``rows_in``: batch rows read; ``rows_merged``: rows the MERGE
    upserted (valid, FK-clean, one per primary key); ``rows_rejected``:
    validation rejects plus FK orphans, all quarantined;
    ``rows_written``: the curated table's row count after the MERGE."""

    table: str
    rows_in: int
    rows_written: int
    rows_rejected: int
    rows_merged: int
    reject_paths: list[str] = field(default_factory=list)


def _read_table(spark: SparkSession, path: str) -> DataFrame:
    """A curated table in whichever format it was written: snapshot
    tables (a ``_manifests/`` log) through ``S.read``, plain partitioned
    parquet otherwise."""
    if S._versions(path):
        return S.read(spark, path)
    return spark.read.parquet(path)


def ingest_batch(
    spark: SparkSession,
    spec: TableSpec,
    batch: DataFrame,
    warehouse_path: str,
    rejected_path: str,
    run_id: str,
    ref_tables: dict[str, DataFrame] | None = None,
    use_snapshots: bool = False,
) -> JobResult:
    """One table's raw→curated hop for an already-read ``batch``. The
    MERGE commits a snapshot version (sources/snapshots.py) when
    ``use_snapshots`` is set or the table already is a snapshot table,
    else it upserts plain partitioned parquet. FK targets come from
    ``ref_tables`` or, omitted, from the same warehouse."""
    table_path = f"{warehouse_path}/{spec.name}"
    use_snapshots = use_snapshots or bool(S._versions(table_path))

    # observe=True: per-rule counts ride along on the validation result
    # (perfbench reads them); the job's own counts come from res.counts()
    res = V.validate(batch, spec, cache=True, observe=True)
    valid = D.dedup_deterministic(res.valid, [spec.primary_key])

    orphans = None
    fk_cleanup = None
    if spec.foreign_keys:
        refs = ref_tables or {
            fk.ref_table: _read_table(spark, f"{warehouse_path}/{fk.ref_table}")
            for fk in spec.foreign_keys
        }
        valid, orphans, fk_cleanup = J.fk_check(valid, refs, spec.foreign_keys)

    # check_source_unique=False: dedup above already made the PK unique, so
    # the merge-side probe would only re-run the plan.
    if use_snapshots:
        S.merge_commit(spark, valid, table_path, spec, check_source_unique=False)
    else:
        M.merge_upsert(spark, valid, table_path, spec, check_source_unique=False)
    n_merged = valid.count()

    reject_paths: list[str] = []
    n_in, n_rejected = res.counts()
    if n_rejected:
        reject_paths.append(
            write_rejects(res.rejected, rejected_path, spec.name, run_id)
        )
    if orphans is not None:
        orph_count = orphans.count()
        if orph_count:
            reject_paths.append(
                write_rejects(orphans, rejected_path, f"{spec.name}_fk", run_id)
            )
            n_rejected += orph_count

    res.unpersist()  # all outputs consumed; release the cached batch
    if fk_cleanup is not None:
        fk_cleanup()
    return JobResult(
        table=spec.name,
        rows_in=n_in,
        rows_written=_read_table(spark, table_path).count(),
        rows_rejected=n_rejected,
        rows_merged=n_merged,
        reject_paths=reject_paths,
    )


def run_etl_job(
    spark: SparkSession,
    spec: TableSpec,
    raw_paths: str | list[str],
    warehouse_path: str,
    rejected_path: str,
    run_id: str,
    ref_tables: dict[str, DataFrame] | None = None,
    use_snapshots: bool = False,
) -> JobResult:
    """One table's batch job: read the raw CSVs, then ``ingest_batch``."""
    return ingest_batch(
        spark,
        spec,
        read_csv(spark, raw_paths, spec.schema),
        warehouse_path,
        rejected_path,
        run_id,
        ref_tables=ref_tables,
        use_snapshots=use_snapshots,
    )


def register_table(spark: SparkSession, spec: TableSpec, warehouse_path: str) -> None:
    """Catalog registration (S8): expose the curated table to spark.sql by
    name — Spark's catalog replaces the Glue crawler + Athena catalog."""
    _read_table(spark, f"{warehouse_path}/{spec.name}").createOrReplaceTempView(
        spec.name
    )

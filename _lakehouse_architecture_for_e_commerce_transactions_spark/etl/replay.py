"""Quarantine replay: reprocess rejected rows after an upstream fix.

The reference's rejected/ zone is write-only — nothing ever reads it
(SURVEY.md §2.1 S6). A real lakehouse closes the loop: read a quarantined
batch, apply a caller-supplied fix (corrected mapping, default fill,
re-parsed timestamps) and run it through the SAME raw→curated hop as the
batch jobs and the stream (``etl.jobs.ingest_batch``): validation, dedup,
the same foreign-key checks, and a MERGE in the table's existing format
(a snapshot table gets a new snapshot version). Still-bad rows and FK
orphans are re-quarantined under the replay's run id. MERGE idempotence
makes replay safe to repeat.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from _lakehouse_architecture_for_e_commerce_transactions_spark.etl.jobs import (
    ingest_batch,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
    validation as V,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.tables import TableSpec


def read_rejects(
    spark: SparkSession, rejected_path: str, table: str, run_id: str | None = None
) -> DataFrame:
    """Load quarantined rows (header CSV, schema-on-read as strings —
    re-validation re-applies the declared types)."""
    scope = f"run_id={run_id}" if run_id else "run_id=*"
    return spark.read.option("header", True).csv(
        f"{rejected_path}/{table}/{scope}"
    )


def replay_rejects(
    spark: SparkSession,
    spec: TableSpec,
    rejected_path: str,
    warehouse_path: str,
    source_run_id: str,
    replay_run_id: str,
    fixer: Callable[[DataFrame], DataFrame] | None = None,
) -> tuple[int, int]:
    """Returns (rows recovered into the table, rows re-quarantined): the
    ``rows_merged`` and ``rows_rejected`` of the replay's ``JobResult`` —
    recovered rows count once per primary key; re-quarantined rows are
    validation rejects plus FK orphans."""
    raw = read_rejects(spark, rejected_path, spec.name, source_run_id).drop(
        V.REASON_COL
    )
    if fixer is not None:
        raw = fixer(raw)
    res = ingest_batch(
        spark, spec, raw, warehouse_path, rejected_path, replay_run_id
    )
    return res.rows_merged, res.rows_rejected

"""Driver-level orchestrator: Step Functions parity in plain Python.

Maps the reference state machine (``step_functions.json``) onto the engine:

  O1 sequential chain  products → orders → order_items → archive → register
                        → validation queries → notify
  O2 retry w/ backoff  3 attempts, 30 s initial, 2.0 backoff per task
                        (``step_functions.json:14-23``) — configurable
  O3 catch-all         any failure → error notification → raise
  O5 parallel fan-out  the three smoke queries (threads; Spark's scheduler
                        interleaves fine)
  O6 notification      pluggable callback (log by default)
  O7 availability gate all three raw prefixes non-empty before running

The crawler poll loop (O4) has no equivalent: Spark's catalog is consistent
at write time. MERGE idempotence (same-source re-run converges) is what makes
retries safe, like the reference's Delta MERGE.
"""

from __future__ import annotations

import glob
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from _lakehouse_architecture_for_e_commerce_transactions_spark.etl.jobs import (
    JobResult,
    register_table,
    run_etl_job,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.tables import (
    ORDER_ITEMS,
    ORDERS,
    PRODUCTS,
)

Notifier = Callable[[str, str], None]


def _log_notifier(status: str, message: str) -> None:
    print(f"[pipeline:{status}] {message}")


@dataclass
class RetryPolicy:
    """Parity with step_functions.json:14-23."""

    attempts: int = 3
    interval_s: float = 30.0
    backoff: float = 2.0

    def run(self, fn: Callable[[], JobResult], label: str) -> JobResult:
        delay = self.interval_s
        last: Exception | None = None
        for attempt in range(1, self.attempts + 1):
            try:
                return fn()
            except Exception as e:  # noqa: BLE001
                last = e
                if attempt < self.attempts:
                    time.sleep(delay)
                    delay *= self.backoff
        raise RuntimeError(f"{label} failed after {self.attempts} attempts") from last


@dataclass
class PipelineConfig:
    raw_path: str  # {raw_path}/{table}/*.csv
    warehouse_path: str
    rejected_path: str
    archive_path: str
    retry: RetryPolicy = field(default_factory=RetryPolicy)
    notifier: Notifier = _log_notifier


def data_available(cfg: PipelineConfig) -> bool:
    """O7: all three datasets present in raw/ before triggering
    (README.md:86-90 CheckDataAvailability parity)."""
    return all(
        glob.glob(f"{cfg.raw_path}/{t}/*.csv")
        for t in ("products", "orders", "order_items")
    )


def archive_raw(cfg: PipelineConfig, run_id: str) -> int:
    """S7: move processed raw files to archived/ (the reference's Lambda
    copies and leaves the delete commented out — we actually move, which is
    the documented intent; ``lambda_function.py:41``)."""
    n = 0
    for t in ("products", "orders", "order_items"):
        for f in glob.glob(f"{cfg.raw_path}/{t}/*.csv"):
            dest_dir = f"{cfg.archive_path}/{t}/run_id={run_id}"
            shutil.os.makedirs(dest_dir, exist_ok=True)
            shutil.move(f, f"{dest_dir}/{f.split('/')[-1]}")
            n += 1
    return n


def validation_queries(spark: SparkSession) -> dict[str, DataFrame]:
    """The Athena smoke/validation query set (step_functions.json:183-237 +
    README.md:113-116), against the registered tables."""
    return {
        "products_smoke": spark.sql("SELECT * FROM products LIMIT 10"),
        "orders_smoke": spark.sql(
            "SELECT * FROM orders WHERE date = '2025-04-01' LIMIT 10"
        ),
        "order_items_smoke": spark.sql(
            "SELECT * FROM order_items WHERE date = '2025-04-01' LIMIT 10"
        ),
        "products_count": spark.sql("SELECT COUNT(*) AS n FROM products"),
        "orders_count": spark.sql("SELECT COUNT(*) AS n FROM orders"),
        "order_items_count": spark.sql("SELECT COUNT(*) AS n FROM order_items"),
    }


def run_pipeline(
    spark: SparkSession, cfg: PipelineConfig, run_id: str, archive: bool = True
) -> dict[str, JobResult]:
    """The full state machine, sequentially (O1); FK ordering invariant:
    products and orders land before the order_items job reads them back
    from the warehouse as its FK targets."""
    results: dict[str, JobResult] = {}
    try:
        if not data_available(cfg):
            raise FileNotFoundError("raw data not available for all three datasets")

        for spec in (PRODUCTS, ORDERS, ORDER_ITEMS):
            results[spec.name] = cfg.retry.run(
                lambda s=spec: run_etl_job(
                    spark,
                    s,
                    f"{cfg.raw_path}/{s.name}/*.csv",
                    cfg.warehouse_path,
                    cfg.rejected_path,
                    run_id,
                ),
                spec.name,
            )

        if archive:
            archive_raw(cfg, run_id)
        for spec in (PRODUCTS, ORDERS, ORDER_ITEMS):
            register_table(spark, spec, cfg.warehouse_path)
        checks = validation_queries(spark)
        for name in ("products_count", "orders_count", "order_items_count"):
            if checks[name].collect()[0]["n"] == 0:
                raise RuntimeError(f"data validation failed: {name} is 0")
        cfg.notifier(
            "success",
            "; ".join(
                f"{r.table}: in={r.rows_in} written={r.rows_written} "
                f"rejected={r.rows_rejected}"
                for r in results.values()
            ),
        )
        return results
    except Exception as e:  # noqa: BLE001  (O3 catch-all → notify → fail)
        cfg.notifier("error", str(e))
        raise

from __future__ import annotations

from pyspark.sql import functions as F

from _lakehouse_architecture_for_e_commerce_transactions_spark.etl.jobs import (
    run_etl_job,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.etl.replay import (
    read_rejects,
    replay_rejects,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.sources import (
    snapshots as S,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.tables import (
    ORDER_ITEMS,
    ORDERS,
    PRODUCTS,
)
from tests.conftest import ORDERS_HEADER, write_raw_zone


def test_quarantine_replay_recovers_fixed_rows(spark, tmp_path):
    raw_dir = tmp_path / "raw"
    raw_dir.mkdir()
    (raw_dir / "orders.csv").write_text(
        ORDERS_HEADER + "\n"
        "1,101,1001,2025-04-01T10:00:00,10.00,2025-04-01\n"
        "2,102,1002,2025-04-01T11:00:00,,2025-04-01\n"  # null amount → reject
        "3,103,1003,2025-04-01T12:00:00,,2025-04-01\n"  # null amount → reject
    )
    wh, rej = str(tmp_path / "wh"), str(tmp_path / "rej")
    res = run_etl_job(spark, ORDERS, f"{raw_dir}/*.csv", wh, rej, "r1")
    assert res.rows_written == 1 and res.rows_rejected == 2

    quarantined = read_rejects(spark, rej, "orders", "r1")
    assert quarantined.count() == 2

    # upstream fix arrives: defaulting missing amounts to 0.0
    n_ok, n_bad = replay_rejects(
        spark,
        ORDERS,
        rej,
        wh,
        source_run_id="r1",
        replay_run_id="r1-replay",
        fixer=lambda df: df.withColumn(
            "total_amount", F.coalesce(F.col("total_amount"), F.lit("0.0"))
        ),
    )
    assert (n_ok, n_bad) == (2, 0)
    table = spark.read.parquet(f"{wh}/orders")
    assert table.count() == 3
    got = {r["order_id"]: r["total_amount"] for r in table.collect()}
    assert got == {101: 10.0, 102: 0.0, 103: 0.0}


def test_replay_requarantines_unfixable_rows(spark, tmp_path):
    raw_dir = tmp_path / "raw"
    raw_dir.mkdir()
    (raw_dir / "orders.csv").write_text(
        ORDERS_HEADER + "\n"
        "1,101,1001,2025-04-01T10:00:00,10.00,2025-04-01\n"
        ",,1002,2025-04-01T11:00:00,,2025-04-01\n"  # hopeless row
    )
    wh, rej = str(tmp_path / "wh"), str(tmp_path / "rej")
    run_etl_job(spark, ORDERS, f"{raw_dir}/*.csv", wh, rej, "r1")
    n_ok, n_bad = replay_rejects(
        spark, ORDERS, rej, wh, "r1", "r2", fixer=None
    )
    assert (n_ok, n_bad) == (0, 1)
    assert read_rejects(spark, rej, "orders", "r2").count() == 1


def test_replay_quarantines_fk_orphans(spark, tmp_path):
    """Replay runs the batch jobs' FK checks: a fix that points a row at
    a product that does not exist re-quarantines it under
    ``order_items_fk`` instead of merging an orphan."""
    raw = str(tmp_path / "raw")
    write_raw_zone(raw)
    wh, rej = str(tmp_path / "wh"), str(tmp_path / "rej")
    for spec in (PRODUCTS, ORDERS):
        run_etl_job(spark, spec, f"{raw}/{spec.name}/*.csv", wh, rej, "r1")
    refs = {t: spark.read.parquet(f"{wh}/{t}") for t in ("orders", "products")}
    res = run_etl_job(
        spark, ORDER_ITEMS, f"{raw}/order_items/*.csv", wh, rej, "r1",
        ref_tables=refs,
    )
    assert res.rows_written == 40
    # the null-PK row is the one validation reject; give it a key and a
    # product_id that no product has
    n_ok, n_bad = replay_rejects(
        spark,
        ORDER_ITEMS,
        rej,
        wh,
        source_run_id="r1",
        replay_run_id="r2",
        fixer=lambda df: df.withColumn(
            "id", F.coalesce(F.col("id"), F.lit("9001"))
        ).withColumn("product_id", F.lit("777")),
    )
    assert (n_ok, n_bad) == (0, 1)
    assert spark.read.parquet(f"{wh}/order_items").count() == 40
    orphans = read_rejects(spark, rej, "order_items_fk", "r2").collect()
    assert [(r["id"], r["_reject_reason"]) for r in orphans] == [
        ("9001", "fk_violation_product_id")
    ]


def test_replay_into_snapshot_table_commits_a_version(spark, tmp_path):
    """Replay writes in the table's own format: into a ``merge_commit``
    table it publishes a snapshot version that ``S.read`` sees. The two
    quarantined rows for order 102 share a key, so the recovered count
    is one per key."""
    raw_dir = tmp_path / "raw"
    raw_dir.mkdir()
    (raw_dir / "orders.csv").write_text(
        ORDERS_HEADER + "\n"
        "1,101,1001,2025-04-01T10:00:00,10.00,2025-04-01\n"
        "2,102,1002,2025-04-01T11:00:00,,2025-04-01\n"  # null amount
        "3,102,1002,2025-04-01T11:30:00,,2025-04-01\n"  # same key, null amount
        "4,103,1003,2025-04-02T12:00:00,,2025-04-02\n"  # null amount
    )
    wh, rej = str(tmp_path / "wh"), str(tmp_path / "rej")
    res = run_etl_job(
        spark, ORDERS, f"{raw_dir}/*.csv", wh, rej, "r1", use_snapshots=True
    )
    assert (res.rows_written, res.rows_rejected) == (1, 3)
    table = f"{wh}/orders"
    assert len(S.history(table)) == 1

    n_ok, n_bad = replay_rejects(
        spark,
        ORDERS,
        rej,
        wh,
        source_run_id="r1",
        replay_run_id="r1-replay",
        fixer=lambda df: df.withColumn(
            "total_amount", F.coalesce(F.col("total_amount"), F.lit("0.0"))
        ),
    )
    assert (n_ok, n_bad) == (2, 0)
    assert len(S.history(table)) == 2
    got = sorted(
        (r["order_id"], r["total_amount"]) for r in S.read(spark, table).collect()
    )
    assert got == [(101, 10.0), (102, 0.0), (103, 0.0)]

from __future__ import annotations

import os

from pyspark.sql import functions as F

from _lakehouse_architecture_for_e_commerce_transactions_spark.streaming.ingest import (
    stream_ingest,
    windowed_event_counts,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.tables import ORDERS
from tests.conftest import ORDERS_HEADER


def _write_orders_csv(path: str, rows: list[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(ORDERS_HEADER + "\n" + "\n".join(rows) + "\n")


def test_stream_ingest_incremental_upsert(spark, tmp_path):
    raw = str(tmp_path / "raw")
    wh = str(tmp_path / "wh")
    rej = str(tmp_path / "rej")
    ckpt = str(tmp_path / "ckpt")
    batches: list[tuple[int, int, int]] = []

    _write_orders_csv(
        f"{raw}/day1.csv",
        [
            "1,101,1001,2025-04-01T10:00:00,10.00,2025-04-01",
            "2,102,1002,2025-04-01T11:00:00,20.00,2025-04-01",
            "3,,1003,2025-04-01T12:00:00,30.00,2025-04-01",  # null PK → reject
        ],
    )
    q = stream_ingest(
        spark, ORDERS, raw, wh, rej, ckpt,
        on_batch=lambda b, v, r: batches.append((b, v, r)),
    )
    q.awaitTermination(120)
    curated = spark.read.parquet(f"{wh}/orders")
    assert curated.count() == 2
    assert sum(r for _, _, r in batches) == 1  # one reject

    # second file arrives: update order 101, insert order 103; the
    # checkpoint must skip the already-processed day1 file
    _write_orders_csv(
        f"{raw}/day2.csv",
        [
            "1,101,1001,2025-04-01T10:00:00,99.00,2025-04-01",
            "4,103,1004,2025-04-02T09:00:00,40.00,2025-04-02",
        ],
    )
    q2 = stream_ingest(spark, ORDERS, raw, wh, rej, ckpt)
    q2.awaitTermination(120)
    got = {
        r["order_id"]: r["total_amount"]
        for r in spark.read.parquet(f"{wh}/orders").collect()
    }
    assert got == {101: 99.0, 102: 20.0, 103: 40.0}


def test_stream_ingest_checks_foreign_keys(spark, tmp_path):
    """Micro-batches run the batch jobs' FK checks: the fixture's two
    order_items orphans are quarantined under ``order_items_fk``, not
    merged. ``on_batch`` reports rows merged (once per primary key: the
    orders file's duplicated order 105 counts once) and rows rejected
    (validation rejects plus FK orphans)."""
    from _lakehouse_architecture_for_e_commerce_transactions_spark.etl.jobs import (
        run_etl_job,
    )
    from _lakehouse_architecture_for_e_commerce_transactions_spark.tables import (
        ORDER_ITEMS,
        PRODUCTS,
    )
    from tests.conftest import write_raw_zone

    raw = str(tmp_path / "raw")
    expected = write_raw_zone(raw)
    wh, rej = str(tmp_path / "wh"), str(tmp_path / "rej")
    run_etl_job(spark, PRODUCTS, f"{raw}/products/*.csv", wh, rej, "r1")

    counts: dict[str, list[tuple[int, int]]] = {"orders": [], "order_items": []}
    for spec in (ORDERS, ORDER_ITEMS):
        q = stream_ingest(
            spark, spec, f"{raw}/{spec.name}", wh, rej,
            str(tmp_path / f"ckpt_{spec.name}"),
            on_batch=lambda b, v, r, t=spec.name: counts[t].append((v, r)),
        )
        q.awaitTermination(120)

    assert counts["orders"] == [(30, 2)]
    items = expected["order_items"]
    assert counts["order_items"] == [
        (items["written"], items["rejected"] + items["orphans"])
    ]
    assert spark.read.parquet(f"{wh}/order_items").count() == items["written"]
    orphans = spark.read.option("header", True).csv(
        f"{rej}/order_items_fk/run_id=batch_0"
    )
    assert sorted(r["_reject_reason"] for r in orphans.collect()) == [
        "fk_violation_order_id",
        "fk_violation_product_id",
    ]


def test_windowed_event_counts_batch_and_stream_parity(spark, sf_dir):
    from _lakehouse_architecture_for_e_commerce_transactions_spark.tables import (
        load_table,
    )

    ev = load_table(spark, sf_dir, "events")
    out = windowed_event_counts(ev, window="1 day")
    rows = out.collect()
    assert len(rows) > 0
    assert sum(r["n"] for r in rows) == ev.count()
    # window bounds are day-aligned
    assert all(str(r["window_start"]).endswith("00:00:00") for r in rows)


def test_streaming_session_window(spark, tmp_path):
    """Native session windows (gap-merging state) on a stream — the
    streaming twin of operators/sessions.py."""
    import os as _os

    from pyspark.sql import functions as F

    src = str(tmp_path / "sess_src")
    _os.makedirs(src, exist_ok=True)
    with open(f"{src}/e.csv", "w") as f:
        f.write(
            "user,ts,v\n"
            "u,2024-01-01T00:00:00,1\n"
            "u,2024-01-01T00:10:00,1\n"  # within 30min gap → same session
            "u,2024-01-01T02:00:00,1\n"  # new session
            "w,2024-01-01T00:00:00,1\n"
        )
    stream = (
        spark.readStream.schema("user string, ts timestamp, v int")
        .option("header", True)
        .csv(src)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user", F.col("w.start").cast("string").alias("start"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "sess_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {(r["user"], r["start"]): r["n"] for r in spark.sql("SELECT * FROM sess_out").collect()}
    assert rows == {
        ("u", "2024-01-01 00:00:00"): 2,
        ("u", "2024-01-01 02:00:00"): 1,
        ("w", "2024-01-01 00:00:00"): 1,
    }


def test_windowed_event_counts_streaming_plan(spark, tmp_path):
    """The same operator must be usable on a streaming frame with a
    watermark (late-data handling) — exercised via an in-memory sink."""
    src = str(tmp_path / "stream_src")
    os.makedirs(src, exist_ok=True)
    with open(f"{src}/events.csv", "w") as f:
        f.write("ts,event_type,value\n2024-01-01T00:10:00,click,1.0\n"
                "2024-01-01T00:20:00,click,2.0\n2024-01-01T01:10:00,view,3.0\n")
    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("header", True)
        .csv(src)
    )
    agg = windowed_event_counts(stream, window="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM win_counts").collect()
    got = {(str(r["window_start"]), r["event_type"]): r["n"] for r in rows}
    assert got == {
        ("2024-01-01 00:00:00", "click"): 2,
        ("2024-01-01 01:00:00", "view"): 1,
    }


def test_session_window_counts_batch_parity(spark, sf_dir):
    """The operator works on a batch frame; session totals must account
    for every event exactly once."""
    from _lakehouse_architecture_for_e_commerce_transactions_spark.streaming.ingest import (
        session_window_counts,
    )
    from _lakehouse_architecture_for_e_commerce_transactions_spark.tables import (
        load_table,
    )

    ev = load_table(spark, sf_dir, "events")
    out = session_window_counts(ev, gap="30 minutes").collect()
    assert sum(r["n_events"] for r in out) == ev.count()
    assert all(r["session_end"] > r["session_start"] for r in out)


def test_stream_stream_join_windowed(spark, tmp_path):
    """Watermarked stream-stream join: right rows join only within
    [left_ts, left_ts + 30 minutes]."""
    import os as _os

    from _lakehouse_architecture_for_e_commerce_transactions_spark.streaming.ingest import (
        stream_stream_join,
    )

    lsrc, rsrc = str(tmp_path / "l_src"), str(tmp_path / "r_src")
    for d in (lsrc, rsrc):
        _os.makedirs(d, exist_ok=True)
    with open(f"{lsrc}/l.csv", "w") as f:
        f.write("k,ts,lv\n"
                "a,2024-01-01T00:00:00,1\n"
                "b,2024-01-01T00:00:00,2\n")
    with open(f"{rsrc}/r.csv", "w") as f:
        f.write("k,ts,rv\n"
                "a,2024-01-01T00:10:00,10\n"   # within 30min of left a → joins
                "a,2024-01-01T01:00:00,20\n"   # too late → dropped
                "b,2023-12-31T23:50:00,30\n")  # before left b → dropped
    schema_l = "k string, ts timestamp, lv int"
    schema_r = "k string, ts timestamp, rv int"
    ls = spark.readStream.schema(schema_l).option("header", True).csv(lsrc)
    rs = spark.readStream.schema(schema_r).option("header", True).csv(rsrc)
    joined = stream_stream_join(ls, rs, "k", max_delay="30 minutes")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ssj_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = [
        (r["k"], r["l_lv"], r["r_rv"])
        for r in spark.sql("SELECT * FROM ssj_out").collect()
    ]
    assert rows == [("a", 1, 10)]


def test_hopping_window_counts_batch(spark, sf_dir):
    """slide < window replicates each event into window/slide windows;
    a 1-day window hopping every 6 hours counts every event 4x."""
    from _lakehouse_architecture_for_e_commerce_transactions_spark.tables import (
        load_table,
    )

    ev = load_table(spark, sf_dir, "events")
    out = windowed_event_counts(ev, window="1 day", slide="6 hours")
    rows = out.collect()
    assert sum(r["n"] for r in rows) == 4 * ev.count()
    # starts align to the 6-hour hop grid
    assert all(
        str(r["window_start"]).endswith(("00:00:00", "06:00:00",
                                         "12:00:00", "18:00:00"))
        for r in rows
    )


def test_stream_stream_left_outer_join_emits_unmatched(spark, tmp_path):
    """Left-outer stream-stream join: the unmatched left event emits
    with NULL right columns once the global watermark (min across both
    inputs) passes its join window — surfaced by a second run whose
    late rows push both sides' event time forward."""
    import os as _os

    from _lakehouse_architecture_for_e_commerce_transactions_spark.streaming.ingest import (
        stream_stream_join,
    )

    lsrc, rsrc = str(tmp_path / "l_src"), str(tmp_path / "r_src")
    for d in (lsrc, rsrc):
        _os.makedirs(d, exist_ok=True)
    with open(f"{lsrc}/l.csv", "w") as f:
        f.write("k,ts,lv\n"
                "a,2024-01-01T00:00:00,1\n"
                "b,2024-01-01T00:00:00,2\n")  # never matched
    with open(f"{rsrc}/r.csv", "w") as f:
        f.write("k,ts,rv\n"
                "a,2024-01-01T00:10:00,10\n")

    schema_l = "k string, ts timestamp, lv int"
    schema_r = "k string, ts timestamp, rv int"

    out = str(tmp_path / "out")

    def run():
        ls = (
            spark.readStream.schema(schema_l).option("header", True)
            .csv(lsrc)
        )
        rs = (
            spark.readStream.schema(schema_r).option("header", True)
            .csv(rsrc)
        )
        joined = stream_stream_join(
            ls, rs, "k", max_delay="30 minutes", how="leftOuter"
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    # push BOTH watermarks past b's window close (00:30 + 1h delay)
    with open(f"{lsrc}/l2.csv", "w") as f:
        f.write("k,ts,lv\nz,2024-01-01T10:00:00,9\n")
    with open(f"{rsrc}/r2.csv", "w") as f:
        f.write("k,ts,rv\nz,2024-01-01T09:59:00,9\n")
    run()
    run()  # one more trigger for the state-eviction emission
    rows = {
        (r["k"], r["l_lv"], r["r_rv"])
        for r in spark.read.parquet(out).collect()
    }
    assert ("a", 1, 10) in rows
    assert ("b", 2, None) in rows

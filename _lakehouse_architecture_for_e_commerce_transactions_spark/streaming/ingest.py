"""Structured Streaming ingest: the reference's event-driven envelope,
Spark-native (SURVEY.md §2.9).

Reference: S3 ObjectCreated → SQS → availability Lambda → Step Functions →
batch Glue jobs. Rebuild: a file-source stream discovers new CSVs per
micro-batch; ``foreachBatch`` hands each micro-batch to the batch jobs'
raw→curated hop (``etl.jobs.ingest_batch``: validation, dedup, the same
foreign-key checks, MERGE, quarantine) with exactly-once bookkeeping from
the checkpoint (replaces SQS redelivery), and ``Trigger.AvailableNow``
reproduces the batch-per-arrival semantics of the availability gate.

At scale: file listing is incremental (``maxFilesPerTrigger`` bounds batch
size), state is only the file log (no aggregation state), and MERGE
idempotence makes replay after failure safe.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from _lakehouse_architecture_for_e_commerce_transactions_spark.etl.jobs import (
    ingest_batch,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.tables import TableSpec


def stream_ingest(
    spark: SparkSession,
    spec: TableSpec,
    raw_dir: str,
    warehouse_path: str,
    rejected_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    on_batch: Callable[[int, int, int], None] | None = None,
    use_snapshots: bool = False,
) -> StreamingQuery:
    """Stream raw CSVs from ``raw_dir`` into the curated table.

    ``on_batch(batch_id, n_valid, n_rejected)`` is an observability hook
    (the SNS-notification slot in the reference): ``n_valid`` is the
    batch's ``JobResult.rows_merged`` (rows upserted, once per primary
    key), ``n_rejected`` its ``rows_rejected`` (validation rejects plus FK
    orphans, quarantined under run id ``batch_<id>``). ``use_snapshots=True``
    publishes each micro-batch's MERGE as an atomic snapshot version
    (sources/snapshots.py) — an exactly-once, time-travelable streaming
    sink: readers never see a half-written batch, and each batch id maps
    to a table version."""
    reader = (
        spark.readStream.schema(spec.schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.csv(raw_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        res = ingest_batch(
            spark, spec, batch_df, warehouse_path, rejected_path,
            f"batch_{batch_id}", use_snapshots=use_snapshots,
        )
        if on_batch is not None:
            on_batch(batch_id, res.rows_merged, res.rows_rejected)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling (or, with ``slide``, hopping) window streaming
    aggregation with late-data handling — the streaming operator surface
    (watermark + windowed agg) the reference lacks; works on both batch
    and streaming frames. A slide < window replicates each event into
    window/slide overlapping windows (state grows by the same factor)."""
    from pyspark.sql import functions as F

    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    return (
        df.groupBy(win.alias("win"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "n",
            "sum_value",
        )
    )


def session_window_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming sessionization via ``F.session_window`` — dynamic-length
    windows that close ``gap`` after the last event. State is bounded by
    the watermark: sessions older than it are finalized and evicted. The
    batch twin (operators/sessions.py, lag-based) is oracle-checked; this
    is the engine-managed streaming form of the same semantics."""
    from pyspark.sql import functions as F

    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(
            F.session_window(F.col(ts_col), gap).alias("win"), F.col(key_col)
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            key_col,
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "1 hour",
    max_delay: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: right events join left events
    with the same key arriving within ``[left_ts, left_ts + max_delay]``.

    Both sides carry watermarks and the join condition bounds event time in
    both directions, so the engine can size per-side join state and evict
    rows once they can no longer match — the requirement for an unbounded
    run. Works identically on batch frames (condition degenerates to a
    range predicate).

    ``how='leftOuter'`` additionally emits every left event that found
    no partner, with NULL right columns — but only once the global
    watermark passes ``left_ts + max_delay`` (the engine must be sure
    no matching right row can still arrive), so outer rows surface a
    trigger or two after their window closes, which is the documented
    Structured Streaming outer-join latency, not a bug. ``rightOuter``
    mirrors it; ``fullOuter`` does both."""
    from pyspark.sql import functions as F

    l, r = left.alias("l"), right.alias("r")  # noqa: E741
    if l.isStreaming:
        l = l.withWatermark(left_ts, watermark)
    if r.isStreaming:
        r = r.withWatermark(right_ts, watermark)
    cond = (
        (F.col(f"l.{key_col}") == F.col(f"r.{key_col}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {max_delay}")
        )
    )
    return l.join(r, cond, how).select(
        # coalesce covers every join type: one side's key is NULL only
        # on that side's unmatched outer rows
        F.coalesce(
            F.col(f"l.{key_col}"), F.col(f"r.{key_col}")
        ).alias(key_col),
        F.col(f"l.{left_ts}").alias("left_ts"),
        F.col(f"r.{right_ts}").alias("right_ts"),
        *[
            F.col(f"l.{c}").alias(f"l_{c}")
            for c in left.columns
            if c not in (key_col, left_ts)
        ],
        *[
            F.col(f"r.{c}").alias(f"r_{c}")
            for c in right.columns
            if c not in (key_col, right_ts)
        ],
    )

"""What the benchmark measures: workloads, metrics, layers and input sizes.

``BENCHMARK.json`` at the repository root is generated from this module
(``python3 perfbench/run.py --write-json``); the self-tests check that the
two agree.
"""

from __future__ import annotations

COMMAND = ["python3", "perfbench/run.py"]
# --seconds is a floor on measurement time; the minimum operation counts
# below take longer than this on the reference host, so they set the length.
RUN_SECONDS = 5

# Input sizes. The initial load is the reference's raw-zone shape at 1,000
# products and 10 daily files of 500 orders (~28k order_items); an
# incremental day is one reference-sized orders file and its items; the
# curation corpus is a documents table of 1,000 rows. Per-run cost is
# dominated by fixed Spark overheads, not rows (a 4k-row and a 67k-row zone
# ingest in about the same time here), and a full evaluation makes 48 runs.
SIZES = {
    "ingest_incremental": {
        "base_products": 1000,
        "base_days": 10,
        "base_orders_per_day": 500,
        "day_orders": 500,
        "day_resent_keys": 25,
        "documents": 1000,
    },
    # the testdata correctness scale (TESTDATA.md): 15k orders, 60k lineitems, 10k events
    "query_mix": {"sf": 0.01},
}

# Measured operations per run: at least MIN_OPS whatever --seconds says
# (two rounds of the query mix: the first after the threaded warm-up is
# still warming, and a median over both held steadier across seeds).
# ingest_incremental lands exactly its minimum: every day adds commits the
# next one pays for, so a time-bounded loop would make a faster system
# measure later, costlier days.
MIN_OPS = {"ingest_incremental": 2, "query_mix": 36}
MAX_OPS = {"ingest_incremental": 2}

QUERIES = (
    "pricing_summary shipping_priority local_supplier_volume "
    "promo_revenue_monthly customer_order_distribution nation_market_share "
    "scan_filter_project latest_order_per_customer fk_semi_join "
    "customer_order_stats top_returned_customers waiting_supplier_orders "
    "merge_upsert_sim validation_reasons asof_latest_order sessionize_events "
    "range_join_events anomaly_events"
).split()

WORKLOADS = [
    {
        "name": "ingest_incremental",
        "why": (
            "daily MERGE of a 500-order file and its items into snapshot "
            "tables, then fresh reads; set-up runs the initial load and a "
            "curation job"
        ),
    },
    {
        "name": "query_mix",
        "why": (
            "18 oracle-checked catalog queries in a seeded order on a "
            "read-only star schema: plan build and scan/join/agg only"
        ),
    },
]

END_TO_END = [
    # ingest_incremental: one day's two files committed and readable;
    # query_mix: one catalog query built and collected. Throughput figures
    # are per-layer: with two days per run rows/s repeats the median, and on
    # query_mix it spread past the bound when the shared host slowed down.
    {"name": "op_s_p50", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
]

# Layer = package module the spanned calls live in (README.md lists the
# calls and which end-to-end metric each layer should move). ``calls``/
# ``wall_s``/``self_s`` for every layer; Spark job metrics for the layers
# whose spans run actions (lazy calls only build plans; their execution
# lands in the enclosing action's span).
LAYERS = [
    "session",
    "etl.orchestrator",
    "etl.jobs",
    "sources.csv",
    "operators.validation",
    "operators.dedup",
    "operators.joins",
    "operators.merge",
    "sources.snapshots",
    "sources.rejects",
    "etl.datapipe",
    "operators.textdedup",
    "operators.graph",
    "plans.catalog",
]
ACTION_LAYERS = ["etl.orchestrator", "etl.jobs", "operators.merge",
                 "sources.snapshots", "sources.rejects", "etl.datapipe",
                 "operators.graph", "plans.catalog"]
JOB_METRICS = [
    ("jobs", "count"),
    ("tasks", "count"),
    ("task_cpu_s", "s"),
    ("shuffle_bytes", "B"),
    ("spill_bytes", "B"),
    ("failed_tasks", "count"),
]

_LAYER_COUNTERS = [
    ("operators.validation.reject_ratio", "ratio"),
    ("operators.dedup.dropped_rows", "count"),
    ("operators.joins.orphan_rows", "count"),
    ("operators.merge.files_written", "count"),
    ("operators.merge.bytes_written", "B"),
    ("sources.snapshots.rows_rewritten_per_input_row", "ratio"),
    ("sources.snapshots.files_added_per_commit", "count"),
    ("sources.snapshots.partitions_changed_per_commit", "count"),
    ("sources.snapshots.live_files_end", "count"),
    ("sources.rejects.files_written", "count"),
    ("plans.catalog.build_s_p50", "s"),
    ("plans.catalog.exec_s_p50", "s"),
]

# The workload figures of the benchmark design, from the untraced operations
# of the traced run, and the set-up's initial load and curation pass (traced)
# on ingest_incremental; zero on the workload they do not apply to.
_WORKLOAD_FIGURES = [
    ("ingest_incremental.ingest_rows_per_s", "1/s"),
    ("ingest_incremental.curation_docs_per_s", "1/s"),
    ("ingest_incremental.batch_s_p50", "s"),
    ("ingest_incremental.batch_rows_per_s", "1/s"),
    ("ingest_incremental.fresh_read_s_p50", "s"),
    ("ingest_incremental.write_amp", "ratio"),
    ("query_mix.query_s_p50", "s"),
    ("query_mix.query_s_p90", "s"),
    ("query_mix.queries_per_s", "1/s"),
    ("run.failed_frac", "ratio"),
    # driver Python + JVM peak RSS: GC timing moves it by more than a tenth
    # from run to run, so it is not an end-to-end metric
    ("run.peak_rss_mb", "MB"),
    ("host.anchor_start_s", "s"),
    ("host.anchor_end_s", "s"),
    ("tracing.overhead_frac", "ratio"),
]


def per_layer() -> list[dict]:
    out = []
    for layer in LAYERS:
        out += [
            {"name": f"{layer}.calls", "unit": "count", "better": "lower"},
            {"name": f"{layer}.wall_s", "unit": "s", "better": "lower"},
            {"name": f"{layer}.self_s", "unit": "s", "better": "lower"},
        ]
        if layer in ACTION_LAYERS:
            out += [
                {"name": f"{layer}.{m}", "unit": u, "better": "lower"}
                for m, u in JOB_METRICS
            ]
    higher = {name for name, unit in _WORKLOAD_FIGURES if unit == "1/s"}
    for name, unit in _LAYER_COUNTERS + _WORKLOAD_FIGURES:
        out.append({"name": name, "unit": unit,
                    "better": "higher" if name in higher else "lower"})
    return out


def benchmark_json() -> dict:
    return {
        "command": COMMAND,
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": WORKLOADS,
        "end_to_end": END_TO_END,
        "per_layer": per_layer(),
    }

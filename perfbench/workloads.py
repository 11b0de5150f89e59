"""The benchmark's workloads: set-up, an untimed warm-up, checked operations.

Each operation returns an ``Op``: the timed seconds, the units of work it
did, and the list of check failures (empty when the output was right).
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

from perfbench import checks, gen, spec
from perfbench.stats import median, percentile, ratio
from perfbench.trace import PKG, Tracer, instrument


@dataclass
class Op:
    seconds: float
    work: float
    problems: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


def parquet_files(path: str) -> tuple[int, int]:
    """(data files, their bytes) under ``path``."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def _expect(problems: list[str], what: str, got, want) -> None:
    if got != want:
        problems.append(f"{what}: got {got}, expected {want}")


class IngestIncremental:
    """The lakehouse's write side. Set-up: the initial load of a generated
    raw zone through ``etl.orchestrator.run_pipeline`` (plain tables via
    ``merge_upsert``), its curated tables published as the snapshot base,
    and one ``etl.datapipe.run_curation_job`` pass over a generated
    corpus. Then one day per operation: orders and order_items through
    ``run_etl_job(use_snapshots=True)``, followed by the reference's
    validation reads on the fresh snapshots."""

    name = "ingest_incremental"
    round_len = 1

    def __init__(self, spark, work: str, seed: int, tracer: Tracer) -> None:
        import importlib

        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.jobs = importlib.import_module(f"{PKG}.etl.jobs")
        self.orch = importlib.import_module(f"{PKG}.etl.orchestrator")
        self.pipe = importlib.import_module(f"{PKG}.etl.datapipe")
        self.S = importlib.import_module(f"{PKG}.sources.snapshots")
        self.tables = importlib.import_module(f"{PKG}.tables")
        self.size = spec.SIZES[self.name]
        self.wh = f"{work}/warehouse"
        self.rej = f"{work}/rejected"
        self.counters: dict[str, float] = {}
        self.rows: dict[str, int] = {}  # table row counts after the last job
        self.setup_figures: dict[str, float] = {}

    def _path(self, table: str) -> str:
        return f"{self.wh}/{table}"

    def _job(self, spec_, files, run_id, refs=None):
        run = self.tracer.wrap("etl.jobs", self.jobs.run_etl_job)
        return run(self.spark, spec_, files, self.wh, self.rej, run_id,
                   ref_tables=refs, use_snapshots=True)

    def _refs(self) -> dict:
        read = self.tracer.wrap("sources.snapshots", self.S.read)
        return {t: read(self.spark, self._path(t)) for t in ("orders", "products")}

    def _check_job(self, problems, res, exp) -> None:
        _expect(problems, f"{res.table}.rows_in", res.rows_in, exp.rows_in)
        _expect(problems, f"{res.table}.rows_rejected", res.rows_rejected,
                exp.rows_rejected)
        _expect(problems, f"{res.table}.rows_written", res.rows_written, exp.written)

    def setup(self) -> None:
        problems = self._initial_load() + self._curation()
        self.tracer.results.clear()
        if problems:
            raise RuntimeError("set-up: " + "; ".join(problems))

    def _initial_load(self) -> list[str]:
        """``run_pipeline`` (archive off, one attempt) into a plain
        warehouse, checked against the generator's model; then each curated
        table is published as a snapshot table by ``merge_commit``."""
        from pyspark.sql import functions as F

        s = self.size
        zone, self.state = gen.write_raw_zone(
            f"{self.work}/raw", self.seed, s["base_products"], s["base_days"],
            s["base_orders_per_day"])
        plain = f"{self.work}/initial"
        notes: list[tuple[str, str]] = []
        cfg = self.orch.PipelineConfig(
            raw_path=f"{self.work}/raw", warehouse_path=plain,
            rejected_path=f"{self.work}/initial_rejected",
            archive_path=f"{self.work}/archive",
            retry=self.orch.RetryPolicy(attempts=1),
            notifier=lambda status, msg: notes.append((status, msg)))
        run = self.tracer.wrap("etl.orchestrator", self.orch.run_pipeline)
        with instrument(self.tracer):
            t0 = time.perf_counter()
            results = run(self.spark, cfg, "initial", archive=False)
            load_s = time.perf_counter() - t0
        self.tracer.flush()
        problems: list[str] = []
        _expect(problems, "pipeline notification", [n[0] for n in notes], ["success"])
        T = self.tables
        publish = self.tracer.wrap("sources.snapshots", self.S.merge_commit)
        for sp in (T.PRODUCTS, T.ORDERS, T.ORDER_ITEMS):
            self._check_job(problems, results[sp.name], zone.expect[sp.name])
            self.rows[sp.name] = results[sp.name].rows_written
            df = self.spark.read.parquet(f"{plain}/{sp.name}").select(
                *[F.col(f.name).cast(f.dataType) for f in sp.schema.fields])
            publish(self.spark, df, self._path(sp.name), sp, check_source_unique=False)
        self.tracer.flush()
        written = [parquet_files(f"{plain}/{t}") for t in ("products", "orders",
                                                             "order_items")]
        self.setup_figures.update({
            "ingest_incremental.ingest_rows_per_s": ratio(zone.raw_rows, load_s),
            "operators.merge.files_written": sum(n for n, _ in written),
            "operators.merge.bytes_written": sum(b for _, b in written),
        })
        return problems

    def _curation(self) -> list[str]:
        """One curation pass over the generated corpus; every count of the
        ``CurationResult`` must equal the generator's."""
        from pyspark.sql import functions as F

        path = f"{self.work}/documents.parquet"
        exp = gen.write_documents(path, self.seed, self.size["documents"])
        docs = self.spark.read.parquet(path)
        split = F.col("doc_id") % gen.EVAL_MOD == gen.EVAL_REM
        run = self.tracer.wrap("etl.datapipe", self.pipe.run_curation_job)
        with instrument(self.tracer):
            t0 = time.perf_counter()
            res = run(self.spark, docs.filter(~split), f"{self.work}/corpus",
                      ctx_tokens=gen.CTX_TOKENS, eval_docs=docs.filter(split),
                      contamination_max=0.5, contamination_ngram=3)
            curate_s = time.perf_counter() - t0
        self.tracer.flush()
        problems: list[str] = []
        for k, want in vars(exp).items():
            _expect(problems, f"curation {k}", getattr(res, k), want)
        self.setup_figures["ingest_incremental.curation_docs_per_s"] = ratio(
            res.n_input, curate_s)
        return problems

    def warmup(self) -> list[str]:
        """The set-up already ran every layer of a day (the same jobs on the
        plain path, ``merge_commit`` on its create path), so there is no
        separate warm-up day."""
        return []

    def op(self, i: int) -> Op:
        s = self.size
        day = gen.write_day(f"{self.work}/landing", self.seed, self.state,
                            s["day_orders"], s["day_resent_keys"])
        self.last_date = day.date
        before = dir_bytes(self.wh)[1] + dir_bytes(self.rej)[1]
        T = self.tables
        run_id = f"day{i + 1}"
        with instrument(self.tracer):
            t0 = time.perf_counter()
            r_orders = self._job(T.ORDERS, day.files["orders"], run_id)
            r_items = self._job(T.ORDER_ITEMS, day.files["order_items"], run_id,
                                self._refs())
            batch_s = time.perf_counter() - t0
        problems: list[str] = []
        self._check_job(problems, r_orders, day.expect["orders"])
        self._check_job(problems, r_items, day.expect["order_items"])
        t1 = time.perf_counter()
        reads = self._fresh_reads(day.date)
        read_s = time.perf_counter() - t1
        self._check_reads(problems, reads, day.date)
        after = dir_bytes(self.wh)[1] + dir_bytes(self.rej)[1]
        self._count(problems, r_orders, r_items, day)
        return Op(batch_s, day.raw_rows, problems,
                  {"read_s": read_s, "write_amp": ratio(after - before, day.raw_bytes)})

    def _fresh_reads(self, date: str) -> dict:
        from pyspark.sql import functions as F

        read = self.tracer.wrap("sources.snapshots", self.S.read)
        p, o, it = (read(self.spark, self._path(t))
                    for t in ("products", "orders", "order_items"))
        today = o.filter(F.col("date") == date)
        return {
            "limit10": today.limit(10).collect(),
            "counts": (p.count(), o.count(), it.count()),
            "revenue": today.agg(F.sum("total_amount")).first()[0],
            "joined": o.join(it, "order_id").count(),
        }

    def _check_reads(self, problems, reads, date) -> None:
        st = self.state
        rows = reads["limit10"]
        _expect(problems, "limit10 rows", len(rows), 10)
        _expect(problems, "limit10 dates", {r["date"] for r in rows}, {date})
        _expect(problems, "counts", reads["counts"],
                (len(st.products), len(st.orders), len(st.order_items)))
        want = sum(r[4] for r in st.orders.values() if r[5] == date)
        if abs((reads["revenue"] or 0.0) - want) > 1e-6 * max(1.0, abs(want)):
            problems.append(f"revenue {reads['revenue']} != {want}")
        _expect(problems, "orders join items", reads["joined"], len(st.order_items))

    def _count(self, problems, r_orders, r_items, day) -> None:
        """Layer counters that need no extra Spark work: the validation split
        from the traced ``validate`` results, commit metrics from the
        published manifests. Counted on traced operations only, and checked
        against the generator's per-case counts."""
        grown = {}
        for res in (r_orders, r_items):
            grown[res.table] = res.rows_written - self.rows[res.table]
            self.rows[res.table] = res.rows_written
        if not self.tracer.active:
            return
        c = self.counters

        def add(key, n):
            c[key] = c.get(key, 0) + n

        validation = [r for layer, r in self.tracer.results
                      if layer == "operators.validation"]
        self.tracer.results.clear()
        for res in (r_orders, r_items):
            exp = day.expect[res.table]
            v = validation.pop(0).metrics() if validation else {}
            rejected = v.get("rows_in", 0) - v.get("rows_valid", 0)
            add("rows_in", res.rows_in)
            add("rejected", rejected)
            add("orphans", res.rows_rejected - rejected)
            # rows that reached neither the rejects nor the table's growth
            # are dedup drops or in-place updates of re-sent keys (D10);
            # the generator knows how many of the latter it sent
            dups = res.rows_in - res.rows_rejected - grown[res.table] - exp.updates
            _expect(problems, f"{res.table} validation rejects", rejected, exp.rejected)
            _expect(problems, f"{res.table} dedup drops", dups, exp.dups_dropped)
            _expect(problems, f"{res.table} FK orphans", res.rows_rejected - rejected,
                    exp.orphans)
            add("dups", dups)
            add("valid_rows", exp.valid_rows)
            m = self.S.load_snapshot(self._path(res.table)).metrics or {}
            add("commits", 1)
            add("rows_rewritten", m.get("num_output_rows", 0))
            add("files_added", m.get("num_files_added", 0))
            add("parts_changed", m.get("num_partitions_changed", 0))
            add("reject_files", sum(dir_bytes(p)[0] for p in res.reject_paths))

    def overhead(self, done) -> tuple[float, list[str]]:
        """Traced over untraced time, minus one, of the same work: the last
        day's validation reads, repeated on the final (unchanging) tables
        untraced, traced, traced, untraced. The two measured days differ
        (warm-up, one more commit), so they cannot be compared."""
        date = self.last_date
        secs: dict[bool, list[float]] = {False: [], True: []}
        problems: list[str] = []
        for on in (False, True, True, False):
            self.tracer.active = on
            t0 = time.perf_counter()
            reads = self._fresh_reads(date)
            secs[on].append(time.perf_counter() - t0)
            self.tracer.active = False
            self.tracer.flush()
            self._check_reads(problems, reads, date)
        return ratio(median(secs[True]), median(secs[False])) - 1.0, problems

    def finish(self) -> list[str]:
        """The curated tables must equal the model's final state."""
        problems = []
        for name, sp in (("orders", self.tables.ORDERS),
                         ("order_items", self.tables.ORDER_ITEMS)):
            cols = [f.name for f in sp.schema.fields]
            got = checks.table_digest(self.S.read(self.spark, self._path(name)), cols)
            want = gen.state_digest(self.state.table(name).values())
            _expect(problems, f"{name} digest", got, want)
        return problems

    def figures(self, ops: list[Op]) -> dict[str, float]:
        c = self.counters
        live = sum(parquet_files(e["dir"].removeprefix("file:"))[0]
                   for t in ("products", "orders", "order_items")
                   for e in self.S.load_snapshot(self._path(t)).part_entries or [])
        batch = [o.seconds for o in ops]
        return {
            "ingest_incremental.batch_s_p50": median(batch),
            "ingest_incremental.batch_rows_per_s": ratio(sum(o.work for o in ops),
                                                         sum(batch)),
            "ingest_incremental.fresh_read_s_p50": median(
                [o.extra["read_s"] for o in ops]),
            "ingest_incremental.write_amp": median([o.extra["write_amp"] for o in ops]),
            "operators.validation.reject_ratio": ratio(c["rejected"], c["rows_in"]),
            "operators.dedup.dropped_rows": c["dups"],
            "operators.joins.orphan_rows": c["orphans"],
            "sources.snapshots.rows_rewritten_per_input_row": ratio(
                c["rows_rewritten"], c["valid_rows"]),
            "sources.snapshots.files_added_per_commit": ratio(c["files_added"],
                                                              c["commits"]),
            "sources.snapshots.partitions_changed_per_commit": ratio(
                c["parts_changed"], c["commits"]),
            "sources.snapshots.live_files_end": live,
            "sources.rejects.files_written": c["reject_files"],
            **self.setup_figures,
        }


class QueryMix:
    """Read-only analyst traffic: the 18 catalog queries in a seeded order,
    each result hashed against a DuckDB oracle computed during set-up."""

    name = "query_mix"
    round_len = len(spec.QUERIES)

    def __init__(self, spark, work: str, seed: int, tracer: Tracer) -> None:
        import importlib

        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.catalog = importlib.import_module(f"{PKG}.plans.catalog")
        self.order = list(spec.QUERIES)
        random.Random(seed).shuffle(self.order)
        self.sf = f"{work}/sf"

    def setup(self) -> None:
        n = gen.write_star_schema(self.sf, self.seed, spec.SIZES[self.name]["sf"])
        self.oracle = checks.oracle_hashes(
            self.sf, list(n), {q: self.catalog.CATALOG[q].oracle for q in self.order})

    def warmup(self) -> list[str]:
        """One untimed, checked round, which compiles every plan shape (2-3x
        slower than the next round). Its queries run on four threads: plan
        building and code generation happen on the calling thread, so this
        takes less than half the time of a serial round, and the caches it
        fills are the same."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(4) as pool:
            ops = list(pool.map(self.op, range(self.round_len)))
        return [p for op in ops for p in op.problems]

    def op(self, i: int) -> Op:
        name = self.order[i % len(self.order)]
        builder = self.catalog.CATALOG[name].builder
        t0 = time.perf_counter()
        with self.tracer.span("plans.catalog", "build"):
            df = builder(self.spark, self.sf)
        t1 = time.perf_counter()
        with self.tracer.span("plans.catalog", "collect"):
            rows = df.collect()
        t2 = time.perf_counter()
        problems = []
        if checks.result_hash(df.columns, [tuple(r) for r in rows]) != self.oracle[name]:
            problems.append(f"{name}: result hash differs from the oracle")
        return Op(t2 - t0, 1, problems, {"build_s": t1 - t0, "exec_s": t2 - t1})

    def overhead(self, done) -> tuple[float, list[str]]:
        """Median traced query over median untraced query, minus one: both
        sides hold the same queries, and the rounds' untraced, traced,
        traced, untraced order balances the warm-up trend."""
        def med(on):
            return median([op.seconds for op, o in done if o == on])

        return ratio(med(True), med(False)) - 1.0, []

    def finish(self) -> list[str]:
        return []

    def figures(self, ops: list[Op]) -> dict[str, float]:
        q = [o.seconds for o in ops]
        return {
            "query_mix.query_s_p50": median(q),
            "query_mix.query_s_p90": percentile(q, 90),
            "query_mix.queries_per_s": ratio(len(q), sum(q)),
            "plans.catalog.build_s_p50": median([o.extra["build_s"] for o in ops]),
            "plans.catalog.exec_s_p50": median([o.extra["exec_s"] for o in ops]),
        }


WORKLOADS = {w.name: w for w in (IngestIncremental, QueryMix)}

"""Self-tests of the benchmark's own code (no Spark):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics

import pytest

from perfbench import gen, spec
from perfbench.checks import result_hash
from perfbench.run import measure
from perfbench.stats import failed_frac, percentile, ratio
from perfbench.trace import Span, Tracer, layer_metrics
from perfbench.workloads import Op

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _zone(root, seed):
    batch, state = gen.write_raw_zone(root, seed, 200, 3, 100)
    day = gen.write_day(f"{root}/days", seed, state, 100, 5)
    return batch, state, day


def test_generator_is_deterministic_per_seed(tmp_path):
    a = _zone(str(tmp_path / "a"), 7)
    b = _zone(str(tmp_path / "b"), 7)
    c = _zone(str(tmp_path / "c"), 8)
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    assert _tree_digest(str(tmp_path / "a")) != _tree_digest(str(tmp_path / "c"))
    assert a[0].expect == b[0].expect and a[2].expect == b[2].expect
    assert gen.state_digest(a[1].orders.values()) == gen.state_digest(
        b[1].orders.values())


def test_generator_expectations_match_the_files(tmp_path):
    batch, state, day = _zone(str(tmp_path), 3)
    for b in (batch, day):
        total_bytes = 0
        for table, paths in b.files.items():
            lines = 0
            for p in paths:
                with open(p, "rb") as f:
                    data = f.read()
                total_bytes += len(data)
                lines += data.count(b"\n") - 1  # header
            exp = b.expect[table]
            assert lines == exp.rows_in, table
            # every row is accounted for exactly once
            assert exp.rows_in == (exp.rejected + exp.dups_dropped + exp.orphans
                                   + exp.valid_rows), table
        assert total_bytes == b.raw_bytes
        assert b.raw_rows == sum(e.rows_in for e in b.expect.values())
    o = day.expect["orders"]
    assert o.updates == 5 and o.written == len(state.orders)
    assert all(e.rejected and e.dups_dropped for e in batch.expect.values())
    assert batch.expect["order_items"].orphans > 0


def test_star_schema_is_deterministic(tmp_path):
    import pandas as pd

    n1 = gen.write_star_schema(str(tmp_path / "a"), 5, 0.001)
    n2 = gen.write_star_schema(str(tmp_path / "b"), 5, 0.001)
    assert n1 == n2 and n1["lineitem"] == 6000
    for t in n1:
        pd.testing.assert_frame_equal(pd.read_parquet(tmp_path / "a" / f"{t}.parquet"),
                                      pd.read_parquet(tmp_path / "b" / f"{t}.parquet"))


def test_documents_are_deterministic_and_accounted(tmp_path):
    import pandas as pd

    a = gen.write_documents(str(tmp_path / "a.parquet"), 4, 500)
    b = gen.write_documents(str(tmp_path / "b.parquet"), 4, 500)
    c = gen.write_documents(str(tmp_path / "c.parquet"), 5, 500)
    da, db = (pd.read_parquet(tmp_path / f"{x}.parquet") for x in "ab")
    pd.testing.assert_frame_equal(da, db)
    assert a == b and a != c
    assert a.n_input == len(da) - (da.doc_id % gen.EVAL_MOD == gen.EVAL_REM).sum()
    assert a.n_input == (a.n_gated_out + a.n_exact_dups + a.n_near_dups
                         + a.n_contaminated + a.n_curated)
    assert min(a.n_gated_out, a.n_exact_dups, a.n_near_dups, a.n_contaminated) > 0
    assert (da.n_chars == da.text.str.len()).all()


def test_percentile_and_ratio_helpers():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 50) == 2.5 == statistics.median(xs)
    assert percentile(xs, 0) == 1.0 and percentile(xs, 100) == 4.0
    assert percentile(list(range(11)), 90) == pytest.approx(9.0)
    assert ratio(3, 0) == 0.0 and ratio(3, 2) == 1.5
    assert failed_frac(4, 1) == 0.25
    with pytest.raises(ValueError):
        failed_frac(0, 0)


class _FlakyWorkload:
    round_len = 1

    def __init__(self, fail_at):
        self.fail_at = fail_at

    def op(self, i):
        if i == self.fail_at:
            raise RuntimeError("injected failure")
        return Op(0.001, 1, ["wrong output"] if i == self.fail_at + 1 else [])


def test_injected_failures_count_in_failed_frac():
    done = measure(_FlakyWorkload(1), Tracer(), seconds=0.0, min_ops=4,
                   traced=False, deadline=float("inf"))
    failed = [op for op, _ in done if op.problems]
    assert len(done) == 4 and len(failed) == 2
    assert "injected failure" in failed[0].problems[0]
    assert failed_frac(len(done), len(failed)) == 0.5


def test_traced_runs_balance_rounds():
    done = measure(_FlakyWorkload(-5), Tracer(), seconds=0.0, min_ops=1,
                   traced=True, deadline=float("inf"))
    assert [on for _, on in done] == [False, True, True, False]
    capped = measure(_FlakyWorkload(-5), Tracer(), seconds=0.0, min_ops=1,
                     traced=True, deadline=float("inf"), max_ops=2)
    assert [on for _, on in capped] == [False, True]


def test_self_time_excludes_children():
    spans = [Span(0, None, "etl.jobs", "run_etl_job", 0.0, 10.0),
             Span(1, 0, "sources.snapshots", "merge_commit", 1.0, 7.0),
             Span(2, 0, "sources.csv", "read_csv", 7.5, 8.0)]
    spans[1].job = {"jobs": 3}
    m = layer_metrics(spans)
    assert m["etl.jobs.wall_s"] == 10.0
    assert m["etl.jobs.self_s"] == pytest.approx(3.5)
    assert m["sources.snapshots.self_s"] == 6.0
    assert m["sources.snapshots.jobs"] == 3


def test_result_hash_ignores_row_and_column_order():
    a = result_hash(["x", "y"], [(1, 0.1), (2, None)])
    b = result_hash(["y", "x"], [(None, 2), (0.1, 1)])
    assert a == b != result_hash(["x", "y"], [(1, 0.1), (2, 0.2)])


def test_benchmark_json_matches_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        on_disk = json.load(f)
    assert on_disk == spec.benchmark_json()
    names = [m["name"] for m in on_disk["end_to_end"] + on_disk["per_layer"]]
    assert len(names) == len(set(names)) and len(on_disk["per_layer"]) <= 128
    assert any(m["name"] == "setup_s" for m in on_disk["end_to_end"])

"""Benchmark entry point: one workload per run, or every workload with ``--all``.

    python3 perfbench/run.py --workload ingest_incremental --seed 1 \\
        --seconds 5 --trace 0
    python3 perfbench/run.py --all            # every workload, both modes
    python3 perfbench/run.py --write-json     # regenerate BENCHMARK.json

A run starts its own local Spark session (``local[<cores>]``, the package's
session factory), generates its inputs from ``--seed`` under
``.perfbench_work/`` in the checkout, sets up the workload (including an
untimed warm-up) and then measures closed-loop operations for ``--seconds``
(at least the workload's minimum count, whole rounds only).
Every operation's output is checked. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import os
import random
import resource
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import spec  # noqa: E402
from perfbench.stats import failed_frac, median  # noqa: E402
from perfbench.trace import PKG, Tracer, layer_metrics  # noqa: E402

# An operation slower than this counts as failed (timed out).
OP_TIMEOUT_S = 60.0
# No new round starts after this many seconds of the run.
DEADLINE_S = 140.0


def host_anchor() -> float:
    """Fixed CPU micro-leg using no package code: best of three (hashing
    plus a sort), so host drift between runs can be told from code
    changes. Informational only."""
    best = float("inf")
    buf = bytes(range(256)) * 4096
    for _ in range(3):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(48):
            h.update(buf)
        rng = random.Random(7)
        sorted(rng.random() for _ in range(150_000))
        best = min(best, time.perf_counter() - t0)
    return best


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python driver plus the Spark JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def start_spark(work: str):
    session = importlib.import_module(f"{PKG}.session")
    return session.get_spark("perfbench", extra_conf={
        "spark.sql.warehouse.dir": f"{work}/spark-warehouse",
        "spark.local.dir": f"{work}/spark-local",
        # JVM temp files under the work dir; no perf-counter file in /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    })


def stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin pipe (its signal to
    exit) and wait for it, so the run leaves no process behind."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def measure(wl, tracer: Tracer, seconds: float, min_ops: int, traced: bool,
            deadline: float, max_ops: int | None = None):
    """Closed loop, one client: run whole rounds of ``wl.round_len``
    operations until ``seconds`` have passed and ``min_ops`` are done (or
    ``max_ops`` are). A traced run orders its rounds untraced, traced,
    traced, untraced (repeating), so a warm-up trend over the run falls on
    both sides of the tracing-overhead comparison alike; the untraced
    rounds measure the baseline. Returns [(op, traced)]."""
    from perfbench.workloads import Op

    if traced:  # at least one untraced-traced-traced-untraced cycle
        min_ops = max(min_ops, 4 * wl.round_len)
    done = []
    t_start = time.perf_counter()
    i = 0
    while True:
        if i % wl.round_len == 0 and (
            (i >= min_ops and time.perf_counter() - t_start >= seconds)
            or time.monotonic() > deadline
            or (max_ops is not None and i >= max_ops)
        ):
            break
        on = traced and (i // wl.round_len) % 4 in (1, 2)
        tracer.active = on
        t0 = time.perf_counter()
        try:
            op = wl.op(i)
        except Exception as e:  # noqa: BLE001 - an operation failure is data
            op = Op(time.perf_counter() - t0, 0, [f"raised {e!r}"[:500]])
        finally:
            tracer.active = False
        tracer.flush()
        if op.seconds > OP_TIMEOUT_S:
            op.problems.append(f"timed out ({op.seconds:.1f} s)")
        done.append((op, on))
        print(f"perfbench: op {i} {op.seconds:.3f} s" + (" traced" if on else ""),
              file=sys.stderr)
        i += 1
    return done


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> int:
    t_begin = time.monotonic()
    try:
        importlib.import_module(f"{PKG}.session")
    except ImportError as e:
        print(f"perfbench: the package under test is not importable: {e}",
              file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench_work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(f"{work}/{d}")
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    import tempfile

    tempfile.tempdir = f"{work}/tmp"

    anchor_start = host_anchor()
    tracer = Tracer()
    spark = None
    try:
        t0 = time.perf_counter()
        # a traced run also spans the set-up (it holds the initial load and
        # the curation job on ingest_incremental); setup_s is untraced-only
        tracer.active = trace
        with tracer.span("session", "get_spark"):
            spark = start_spark(work)
        tracer.flush()
        tracer.attach(spark)
        t_session = time.perf_counter()
        wl = WORKLOADS[name](spark, work, seed, tracer)
        wl.setup()
        tracer.active = False
        t_warm = time.perf_counter()
        problems = wl.warmup()
        setup_s = time.perf_counter() - t0
        print(f"perfbench: set-up {setup_s:.2f} s = session {t_session - t0:.2f}"
              f" + inputs/base {t_warm - t_session:.2f}"
              f" + warm-up {time.perf_counter() - t_warm:.2f}", file=sys.stderr)
        done = measure(wl, tracer, seconds, spec.MIN_OPS[name], trace,
                       t_begin + DEADLINE_S, spec.MAX_OPS.get(name))
        figures = {}
        if trace:
            figures["tracing.overhead_frac"], late = wl.overhead(done)
            problems += late
        problems += wl.finish()
        rss = peak_rss_mb(spark)
        base = [op for op, on in done if not on and not op.problems] or [
            op for op, _ in done]
        if trace:
            figures.update(wl.figures(base))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is still using it
            pass
    anchor_end = host_anchor()
    print(f"perfbench: host anchor {anchor_start:.4f} s at start, "
          f"{anchor_end:.4f} s at end", file=sys.stderr)

    failed = [op for op, _ in done if op.problems]
    for op in failed:
        print("perfbench: check failed: " + "; ".join(op.problems), file=sys.stderr)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    secs = [op.seconds for op in base]
    e2e = {"op_s_p50": (median(secs), "s"), "setup_s": (setup_s, "s")}
    samples = {"op_s_p50": len(secs), "setup_s": 1}
    if trace:
        units = {m["name"]: m["unit"] for m in spec.per_layer()}
        values = dict.fromkeys(units, 0.0)
        values.update(layer_metrics(tracer.spans))
        values.update(figures)
        values.update({
            "run.failed_frac": failed_frac(len(done), len(failed)),
            "run.peak_rss_mb": rss,
            "host.anchor_start_s": anchor_start,
            "host.anchor_end_s": anchor_end,
        })
        metrics = {k: (float(values[k]), units[k]) for k in units}
        samples = {}
    else:
        metrics = e2e
    for k, (v, u) in metrics.items():
        n = samples.get(k)
        print(f"perfbench: {name} {k} = {v:.6g} {u}" + (f" (n={n})" if n else ""),
              file=sys.stderr)
    correct = not failed and not problems
    print(json.dumps({
        "correct": correct,
        "attempted": len(done),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


def run_all(seed: int, seconds: float) -> int:
    """Every workload untraced then traced, one subprocess each; prints every
    metric with its unit and sample count."""
    status = 0
    for w in spec.WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w["name"],
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = [ln for ln in proc.stderr.splitlines() if ln.startswith("perfbench:")]
            print("\n".join(lines))
            last = proc.stdout.strip().splitlines()[-1:] or ["{}"]
            res = json.loads(last[0])
            print(f"{w['name']} trace={trace}: exit {proc.returncode}, correct "
                  f"{res.get('correct')}, attempted {res.get('attempted')}, "
                  f"failed {res.get('failed')}")
            if proc.returncode != 0 or not res.get("correct"):
                status = 1
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=[w["name"] for w in spec.WORKLOADS])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--write-json", action="store_true")
    a = ap.parse_args(argv)
    if a.write_json:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as f:
            json.dump(spec.benchmark_json(), f, indent=2)
            f.write("\n")
        return 0
    if a.all:
        return run_all(a.seed, a.seconds)
    if not a.workload:
        ap.error("--workload, --all or --write-json is required")
    return run_workload(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())

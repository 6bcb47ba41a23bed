#!/usr/bin/env python3
"""hilbert-curve-spark benchmark: one seeded, closed-loop workload per run.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 10 --trace 0

Run from the repository root.  The first run in a checkout generates the
source tables and builds the prepared tables (about a minute on 4 cores);
later runs reuse them while their content key matches (``data.py``).

A run starts the JVM and warms its JIT with one pass over the workload's
operation kinds, then sets up ``SETUPS`` times (session start, opening
and validating the prepared tables, a warm-up operation), then runs whole
cycles of the workload's operations (``workloads.py``) with one client
for ``--seconds``, then checks every result against DuckDB.

``--trace 0`` prints the end-to-end metrics:

* ``setup_s`` - median of the set-ups
* ``ops_per_s`` - operations per second of operation time
* ``docs_per_s`` - input docs processed per second of operation time

and, in the report line before the result, ``op_p50_s`` (median operation
latency, sink included), ``op_p90_s`` (when a run has >= 100 samples),
``peak_rss_mb`` (VmHWM of the Spark JVM plus this process), ``fail_rate``,
``stored_bytes_per_input_byte`` (ingest) and the host.  These vary more
from run to run than the regression bound allows (measured on a shared
4-core VM), so they are reported, not bounded.

``--trace 1`` runs half the time untraced, then the same operations in a
session with the event log on and every operation in its own job group,
and prints the per-layer metrics (``layers.py``), including the tracing
overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import host  # noqa: E402

SETUPS = 5
E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "docs_per_s": "1/s"}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seed < 0:
        p.error("--seed must be non-negative")
    return args


def _setup(wl_cls, ctx, seed, event_log_dir=None):
    """One set-up: session start, open + validate tables, warm-up pass."""
    t0 = time.perf_counter()
    spark = host.start_session(event_log_dir)
    spark.sparkContext.setLogLevel("ERROR")
    wl = wl_cls(spark, ctx, seed)
    wl.open()
    wl.warmup()
    return spark, wl, time.perf_counter() - t0


def _measure(wl, seconds: float, tracer=None) -> list[dict]:
    """Closed loop over whole cycles: at least one, and no further cycle
    once another of the same length would end after ``seconds``."""
    records = []
    start = time.perf_counter()
    for cycle in wl.cycles():
        c0 = time.perf_counter()
        for op in cycle:
            t0 = time.perf_counter()
            span = None
            try:
                if tracer is None:
                    result = op.run()
                else:
                    with tracer.span(op.name, op.layer) as span:
                        result = op.run()
                err = None
            except Exception as e:  # a failed operation counts, the run goes on
                result, err = None, f"{type(e).__name__}: {e}"
            records.append({"op": op, "s": time.perf_counter() - t0, "result": result,
                            "error": err, "span": span})
        now = time.perf_counter()
        if now - start + (now - c0) > seconds:
            break
    return records


def _check(records: list[dict], oracle) -> int:
    failed = 0
    for r in records:
        if r["error"] is None:
            try:
                if not r["op"].check(r["result"], oracle):
                    r["error"] = "result differs from the oracle"
            except Exception as e:
                r["error"] = f"check raised {type(e).__name__}: {e}"
        if r["error"] is not None:
            failed += 1
            print(f"perfbench: {r['op'].name} failed: {r['error']}", file=sys.stderr)
    return failed


def _e2e(records: list[dict]) -> dict:
    lat = [r["s"] for r in records if r["error"] is None]
    docs = sum(r["op"].docs for r in records if r["error"] is None)
    busy = sum(lat)
    out = {
        "op_p50_s": statistics.median(lat),
        "ops_per_s": len(lat) / busy,
        "docs_per_s": docs / busy,
        "samples": len(lat),
        "op_p90_s": None,
    }
    if len(lat) >= 100:  # >= 10 samples beyond the 90th percentile
        out["op_p90_s"] = statistics.quantiles(lat, n=10)[-1]
    return out


def main(argv=None) -> int:
    args = _args(argv)
    if not (host.ROOT / "hilbert_curve_spark" / "__init__.py").exists():
        print("perfbench: hilbert_curve_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    host.prepare_process_env()
    from perfbench import data, layers
    from perfbench.oracle import Oracle
    from perfbench.trace import Tracer, read_event_logs
    from perfbench.workloads import Context

    run_dir = host.WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    wl_cls = WORKLOADS[args.workload]
    t0 = time.perf_counter()
    sf, prepared, built = data.ensure_prepared(host.start_session)
    prep_s = time.perf_counter() - t0
    ctx = Context(sf, prepared, run_dir)
    oracle = Oracle(sf, prepared)
    spark = None
    try:
        # the JVM and its JIT are warmed once per process, outside set-up
        # time: the first session launches the JVM and runs one pass of
        # warm-up operations over every code path the workload measures
        t0 = time.perf_counter()
        spark = host.start_session()
        jvm_s = time.perf_counter() - t0
        wl = wl_cls(spark, ctx, args.seed)
        wl.open()
        wl.jit_warmup()
        jit_s = time.perf_counter() - t0 - jvm_s
        setups = []
        for _ in range(1 if args.trace else SETUPS):
            spark.stop()
            spark, wl, s = _setup(wl_cls, ctx, args.seed)
            setups.append(s)
        seconds = args.seconds / 2 if args.trace else args.seconds
        records = _measure(wl, seconds)
        per_layer, traced = None, []
        if args.trace:
            spark.stop()
            log_dir = run_dir / "eventlog"
            spark, wl, _ = _setup(wl_cls, ctx, args.seed, log_dir)
            tracer = Tracer(spark.sparkContext)
            tracer.install_layer_wrappers()
            try:
                traced = _measure(wl, seconds, tracer)
                extras = layers.untimed_extras(wl, tracer, oracle)
            finally:
                tracer.restore()
            spark.stop()
            spark = None
            folded = read_event_logs(log_dir)
        rss = host.peak_rss_mb()
        failed = _check(records + traced, oracle)
        attempted = len(records) + len(traced)
        e2e = _e2e_or_none(records)
        if args.trace:
            per_layer = layers.per_layer(traced, tracer, folded, extras, e2e, _e2e_or_none(traced))
        report = {
            "report": "perfbench",
            "workload": args.workload,
            "seed": args.seed,
            "host": host.host_info(),
            "prepared_tables_built_s": round(prep_s, 3) if built else None,
            "jvm_start_s": jvm_s,
            "jit_warmup_s": jit_s,
            "setup_runs_s": setups,
            "fail_rate": failed / max(1, attempted),
            "peak_rss_mb": rss,
        }
        if e2e is not None:
            report.update(e2e)
        report["op_latencies_s"] = [[r["op"].name, round(r["s"], 4)] for r in records]
        if hasattr(wl, "stored_bytes"):
            stored, inp = wl.stored_bytes()
            report["stored_bytes_per_input_byte"] = stored / inp if inp else None
        if per_layer is not None:
            report["per_layer"] = per_layer
        print(json.dumps(report))
        if args.trace:
            metrics = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in per_layer.items()}
        else:
            vals = {"setup_s": statistics.median(setups), "peak_rss_mb": rss, **(e2e or {})}
            metrics = {k: {"value": vals[k], "unit": u} for k, u in E2E_UNITS.items()}
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        oracle.close()
        if spark is not None:
            spark.stop()
        host.shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)


def _e2e_or_none(records):
    return _e2e(records) if any(r["error"] is None for r in records) else None


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)

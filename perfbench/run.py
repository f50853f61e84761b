"""Benchmark of the sketch library: one workload per invocation.

    python3 perfbench/run.py --workload corpus_build --seed 1 --seconds 20 --trace 0

Workloads: corpus_build, many_groups, warehouse (see README.md). The run
generates its inputs from --seed, sets up a Spark session on local[nproc],
measures a closed loop of operations for --seconds, checks every output
against exact answers and prints each metric with its unit. The last line
of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones, from a run that also writes its spans to
perfbench/.out/. The exit code is 0 when every correctness gate passed,
1 when one failed, and 2 when the benchmark could not run at all.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s",
    "build_s_p50": "s",
    "tokens_per_s": "1/s",
    "rows_per_s": "1/s",
    "sql_quantile_s_p50": "s",
    "update_s_p50": "s",
    "query_ms_p50": "ms",
    "query_ms_p90": "ms",
    "quantile_rel_err_max": "ratio",
    "distinct_rel_err_max": "ratio",
    "state_bytes": "bytes",
    "peak_rss_mb": "MiB",
    "success_rate": "ratio",
}

KERNEL_UNITS = {"update_ns_per_item": "ns", "update_us_per_call": "us",
                "to_bytes_us": "us", "from_bytes_us": "us", "merge_us": "us",
                "blob_bytes": "bytes"}
LAYER_UNITS = {
    **{f"sketches.{t}.{m}": u
       for t in ("dds", "kll", "tdigest", "hll", "cms", "bloom")
       for m, u in KERNEL_UNITS.items()},
    "harness.stage1_s": "s",
    "harness.stage1_tasks": "count",
    "harness.stage1_task_s_p50": "s",
    "harness.stage1_task_s_max": "s",
    "harness.partials": "count",
    "harness.partial_bytes": "bytes",
    "harness.merge_s": "s",
    "harness.final_sketches": "count",
    "harness.rows_seen_ratio": "ratio",
    "rollup.versions_s": "s",
    "rollup.state_read_s": "s",
    "rollup.query.quantiles_ms": "ms",
    "rollup.query.cardinality_ms": "ms",
    "rollup.query.window_quantiles_ms": "ms",
    "rollup.bytes_written_per_input_byte": "ratio",
    "rollup.state_dir_bytes": "bytes",
    "rollup.prune_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.tasks_failed": "count",
    "sources.generate_s": "s",
    **{f"{layer}.self_s": "s"
       for layer in ("bench", "sources", "sketches", "harness", "ddsql", "rollup")},
    "trace.overhead_s": "s",
    "trace.overhead_pct": "%",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def spark_layer(guard) -> dict[str, float]:
    ops = [op for op in guard.ops if op.group is not None]
    n = max(1, len(ops))
    return {"spark.jobs_per_op": sum(op.jobs for op in ops) / n,
            "spark.stages_per_op": sum(op.stages for op in ops) / n,
            "spark.tasks_per_op": sum(op.tasks for op in ops) / n,
            "spark.tasks_failed": float(sum(op.tasks_failed for op in ops))}


def run(args) -> tuple[dict, int]:
    """Set up, measure and check one workload; returns (result, exit code)."""
    from perfbench import workloads as W
    from perfbench.probes import OpGuard, RssSampler
    from perfbench.session import start_session, stop_session
    from perfbench.tracing import Tracer

    if args.workload not in W.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(W.WORKLOADS)}")
    traced = bool(args.trace)
    work_dir = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work_dir)
    tracer = Tracer(traced)
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_session(ROOT, work_dir)
            try:
                guard = OpGuard(spark)
                wl = W.WORKLOADS[args.workload](spark, guard, tracer, work_dir,
                                                args.seed, args.seconds, traced)
                session_s = time.perf_counter() - t0
                with tracer.span("bench.setup"):
                    wl.setup()
                setup_s = time.perf_counter() - t0
                print(f"# setup {setup_s:.1f} s: session {session_s:.1f} s, inputs "
                      f"{wl.generate_s:.1f} s, warm-up and seed state "
                      f"{setup_s - session_s - wl.generate_s:.1f} s", file=sys.stderr)
                t1 = time.perf_counter()
                wl.measure()
                t2 = time.perf_counter()
                e2e = wl.finish()
                print(f"# loop {t2 - t1:.1f} s, after-loop operations and gates "
                      f"{time.perf_counter() - t2:.1f} s", file=sys.stderr)
                if traced:
                    wl.traced_metrics(*wl.kernel_inputs())
                    if not isinstance(wl, W.Warehouse):
                        wl.layer.update(W.run_rollup_probe(wl))
                guard.settle()
            finally:
                stop_session(spark)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)

    correct = not wl.failures and bool(e2e)
    for f in wl.failures:
        print(f"GATE FAILED: {f}", file=sys.stderr)
    print(f"# {args.workload} seed={args.seed}: samples {wl.summary()}, "
          f"attempted {guard.attempted}, failed {guard.failed}")
    for kind, ts in wl.times.items():
        if ts and kind != "query":
            print(f"# {kind} seconds: {' '.join(f'{t:.3f}' for t in ts)}", file=sys.stderr)
    if traced:
        values = {**wl.layer, **spark_layer(guard)}
        values.update({f"{k}.self_s": v for k, v in tracer.self_seconds().items()})
        out_dir = os.path.join(HERE, ".out")
        os.makedirs(out_dir, exist_ok=True)
        trace_path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
        tracer.write(trace_path)
        print(f"# spans written to {os.path.relpath(trace_path)}")
        units = LAYER_UNITS
    else:
        values = {**e2e, "setup_s": setup_s, "peak_rss_mb": rss.peak_mb,
                  "success_rate": 1.0 - guard.failed / max(1, guard.attempted)}
        units = E2E_UNITS
    missing = [name for name in units if name not in values]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        correct = False
    metrics = {name: {"value": float(values[name]), "unit": unit}
               for name, unit in units.items() if name in values}
    for name, m in metrics.items():
        print(f"{name:40s} {m['value']:>16.6g} {m['unit']}")
    result = {"correct": correct, "attempted": guard.attempted,
              "failed": guard.failed, "metrics": metrics}
    return result, 0 if correct else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import p2pddsketch_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    result, code = run(args)
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())

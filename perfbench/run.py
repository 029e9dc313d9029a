#!/usr/bin/env python3
"""NEAR ingest benchmark.

    python3 perfbench/run.py --workload tail|backfill --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the program (see build.py), runs
one workload in a single driver JVM on Spark local[N] (N = min(4, cpus)),
checks the warehouse against the generator's truth, prints one line per
metric (name, value, unit, sample count) and, as the last line, the JSON
result. `--trace 1` reports the per-layer metrics instead of the
end-to-end ones. See README.md beside this file.
"""

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("tail", "backfill")

END_TO_END = {
    "setup_s": "s",
    "blocks_per_s": "1/s",
    "batch_ms_p50": "ms",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "streaming.jobs_per_batch": "count",
    "streaming.tasks_per_batch": "count",
    "streaming.driver_gap_ms_per_batch": "ms",
    "streaming.trigger_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.commit_ms_p50": "ms",
    "sources.get_batch_ms": "ms",
    "sources.rows_per_batch": "count",
    "state.resolve_ms_per_batch": "ms",
    "state.resolve_jobs_per_batch": "count",
    "state.persist_ms_per_batch": "ms",
    "bronze.parse_events_ms_per_batch": "ms",
    "silver.cascade_ms_per_batch": "ms",
    "sink.insert_ms_per_batch": "ms",
    "sink.tx_ms_per_batch": "ms",
    "sink.jobs_per_batch": "count",
    "sources.jobs": "count",
    "bronze.jobs": "count",
    "state.jobs": "count",
    "silver.jobs": "count",
    "sink.jobs": "count",
    "streaming.jobs": "count",
    "runner.jobs": "count",
    "gold.jobs": "count",
    "runner.driver_gap_ms": "ms",
    "runner.exec_cpu_ms": "ms",
    "runner.shuffle_bytes": "bytes",
    "bronze.rows_out": "count",
    "silver.rows_out": "count",
    "sink.bytes_written": "bytes",
    "sink.files_written": "count",
    "state.unresolved_ratio": "ratio",
    "state.rows_carried": "count",
    "sink.files_read_per_read": "count",
    "sink.bytes_read_per_read": "bytes",
    "gold.intents_ms_p50": "ms",
    "gold.daily_ms_p50": "ms",
    "gold.drilldown_ms_p50": "ms",
    "gold.jobs_per_read": "count",
    "gold.tasks_per_read": "count",
    "gold.driver_gap_ms_per_read": "ms",
    "trace.overhead_pct": "%",
    "trace.jobs_untraced": "count",
    "trace.jobs_traced": "count",
}

def timeout_s(seconds, trace):
    """How long the driver JVM may run: a traced run times its region
    three times. The floor keeps a run at the default length within the
    time the benchmark promises to end in."""
    return max(170, 50 + 4 * seconds * (3 if trace else 1))


def percentile(values, q):
    """Linear interpolation between closest ranks; q in [0, 100]."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summarize(value):
    """(value, sample count): a list reduces to its median."""
    if isinstance(value, list):
        return (percentile(value, 50) if value else 0.0), len(value)
    return float(value), 1


def end_to_end(raw):
    ops = raw["op_ms"]
    return {
        "setup_s": (raw["setup_s"], 1),
        "blocks_per_s": (raw["blocks"] / raw["drain_s"], len(ops)),
        "batch_ms_p50": (percentile(ops, 50), len(ops)),
        "peak_rss_mb": (raw["peak_rss_mb"], 1),
    }


def per_layer(raw):
    layers = raw["layers"]
    return {name: summarize(layers[name]) for name in PER_LAYER}


def result(raw, trace):
    correct = all(c["ok"] for c in raw["checks"])
    attempted = int(raw["attempted"])
    failed = 0 if correct else attempted
    metrics = per_layer(raw) if trace else end_to_end(raw)
    units = PER_LAYER if trace else END_TO_END
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, (v, _) in metrics.items()},
    }, metrics


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    load_before = os.getloadavg()[0]
    try:
        build_dir = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    work = os.path.join(build.BUILD_DIR, "work", f"{args.workload}-{os.getpid()}")
    out = os.path.join(work, "result.json")
    ok = build.run_main(build_dir, work, [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out,
        "--trace-out", os.path.join(build.BUILD_DIR, f"trace-{args.workload}.json"),
    ], timeout=timeout_s(args.seconds, args.trace == 1))
    raw = None
    if ok and os.path.exists(out):
        with open(out) as f:
            raw = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    if raw is None:
        print("perfbench: the workload did not complete", file=sys.stderr)
        return 1

    load_after = os.getloadavg()[0]
    print(f"stamp nproc={build.cpus()} master={raw['master']} "
          f"load1_before={load_before:.2f} load1_after={load_after:.2f}")
    for c in raw["checks"]:
        print(f"check {c['name']} {'ok' if c['ok'] else 'FAILED'} "
              f"expected={c['expected']} actual={c['actual']}")
    res, metrics = result(raw, args.trace == 1)
    units = PER_LAYER if args.trace else END_TO_END
    print(f"metric failed_ratio {res['failed'] / res['attempted']:.4f} ratio "
          f"n={res['attempted']}")
    for name, (value, n) in metrics.items():
        samples = raw["op_ms"] if name == "batch_ms_p50" else \
            raw.get("layers", {}).get(name)
        listed = f" samples={samples}" if isinstance(samples, list) else ""
        print(f"metric {name} {value:.6g} {units[name]} n={n}{listed}")
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Alternating parent/change A/B pairs of the ingest benchmark.

    python3 tools/ab_pairs.py --parent DIR --change DIR --workload tail \\
        --seeds 71-80 [--seconds S] [--claim tail:batch_ms_p50] [--log FILE]
    python3 tools/ab_pairs.py --report FILE [FILE ...] [--claim W:METRIC]

Run mode builds the benchmark in both checkouts, then runs one pair per
seed of `python3 perfbench/run.py --workload W --seed N --seconds S
--trace 0` in each checkout, the parent first on even seeds and the
change first on odd ones. `--seconds` defaults to `run_seconds` of the
parent's BENCHMARK.json. `--log` appends one JSON line per run, and
report mode rebuilds the summary from such logs (several workloads at
once) without running anything.

The summary has one row per workload and end-to-end metric of
BENCHMARK.json: each side's median (quartiles), the change's wins (ties
count for neither), and the change against the parent median beside the
metric's bound. A metric whose median moved the worse way past its
bound reads REGRESSED; one whose parent spread (IQR / median) exceeds
its bound reads unresolved. `--claim WORKLOAD:METRIC` checks the claim
rule for that metric on that workload: the change wins at least nine
tenths of the pairs and the medians differ by more than the parent's
IQR.

Standard library only; changes no file of either checkout.
"""

import argparse
import json
import os
import subprocess
import sys


def percentile(values, q):
    """Linear interpolation between closest ranks; q in [0, 100]."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def seeds_of(spec):
    """'71-80' or '3,5,9' -> list of ints."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def benchmark(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(checkout, side, workload, seed, seconds):
    """One benchmark run; its record (metrics None when it failed)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    last = [l for l in p.stdout.splitlines() if l.startswith("{")]
    res = json.loads(last[-1]) if p.returncode == 0 and last else None
    return {
        "side": side, "workload": workload, "seed": seed,
        "correct": bool(res and res["correct"]),
        "metrics": {k: v["value"] for k, v in res["metrics"].items()}
        if res else None,
        "stderr_tail": None if res else p.stderr[-2000:],
    }


def fmt(v):
    return f"{v:.4g}"


def signed(ratio):
    """+1.2% / −1.2%, with a real minus sign."""
    return f"{ratio:+.1%}".replace("-", "−")


def summarize(records, bench, claim):
    """Print the summary of `records`; returns False when a metric
    regressed, a run failed, or the claim does not hold."""
    ok = True
    print("| workload | metric | parent | change | wins | Δ (bound) | verdict |")
    print("|---|---|---|---|---|---|---|")
    seen = {r["workload"] for r in records}
    declared = [x["name"] for x in bench["workloads"]]
    workloads = [w for w in declared if w in seen] + sorted(seen - set(declared))
    notes = []
    for w in workloads:
        pairs = {}
        for r in records:
            if r["workload"] == w:
                pairs.setdefault(r["seed"], {})[r["side"]] = r
        runs = [r for r in records if r["workload"] == w]
        bad = [r for r in runs if r["metrics"] is None or not r["correct"]]
        if bad:
            ok = False
            notes.append(f"{w}: {len(bad)} of {len(runs)} runs failed or "
                         f"failed a truth check: " +
                         ", ".join(f"{r['side']} seed {r['seed']}"
                                   for r in bad))
        done = [p for p in pairs.values()
                if all(s in p and p[s]["metrics"] for s in ("parent",
                                                            "change"))]
        for m in bench["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            a = [p["parent"]["metrics"][name] for p in done]
            b = [p["change"]["metrics"][name] for p in done]
            if not a:
                continue
            wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
            ma, mb = percentile(a, 50), percentile(b, 50)
            qa = (percentile(a, 25), percentile(a, 75))
            qb = (percentile(b, 25), percentile(b, 75))
            delta = (mb - ma) / ma if ma else 0.0
            worse = delta if lower else -delta
            spread = (qa[1] - qa[0]) / ma if ma else 0.0
            if worse > m["bound"]:
                verdict = "REGRESSED"
                ok = False
            elif spread > m["bound"]:
                verdict = "unresolved"
            else:
                verdict = "within bound"
            print(f"| {w} | {name} | {fmt(ma)} ({fmt(qa[0])}–{fmt(qa[1])}) "
                  f"| {fmt(mb)} ({fmt(qb[0])}–{fmt(qb[1])}) "
                  f"| {wins}/{len(done)} | {signed(delta)} ({m['bound']:.0%}) "
                  f"| {verdict} |")
            if f"{w}:{name}" == claim:
                gap = (ma - mb) if lower else (mb - ma)
                holds = wins * 10 >= 9 * len(done) and gap > qa[1] - qa[0]
                ok = ok and holds
                notes.append(
                    f"claim {w} {name}: {'HOLDS' if holds else 'NOT MET'} "
                    f"({wins}/{len(done)} wins, need ≥ 9/10; median gap "
                    f"{fmt(gap)} vs parent IQR {fmt(qa[1] - qa[0])}); pairs "
                    "parent → change: " + ", ".join(
                        f"{fmt(x)}→{fmt(y)}" for x, y in zip(a, b)))
    for n in notes:
        print(n)
    return ok


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workload")
    ap.add_argument("--seeds")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--claim")
    ap.add_argument("--log")
    ap.add_argument("--report", nargs="+")
    args = ap.parse_args(argv)

    if args.report:
        records = []
        for path in args.report:
            with open(path) as f:
                records += [json.loads(l) for l in f if l.strip()]
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        return 0 if summarize(records, benchmark(here), args.claim) else 1

    if not (args.parent and args.change and args.workload and args.seeds):
        ap.error("run mode needs --parent, --change, --workload and --seeds")
    bench = benchmark(args.parent)
    seconds = args.seconds or bench["run_seconds"]
    checkouts = {"parent": os.path.abspath(args.parent),
                 "change": os.path.abspath(args.change)}
    for side, d in checkouts.items():
        p = subprocess.run([sys.executable, "perfbench/build.py"], cwd=d,
                           capture_output=True, text=True)
        if p.returncode != 0:
            print(f"build failed in {side} checkout {d}:\n{p.stderr[-2000:]}",
                  file=sys.stderr)
            return 2
    records = []
    for seed in seeds_of(args.seeds):
        order = ("parent", "change") if seed % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_once(checkouts[side], side, args.workload, seed, seconds)
            records.append(r)
            shown = {k: fmt(v) for k, v in (r["metrics"] or {}).items()}
            print(f"seed {seed} {side}: correct={r['correct']} {shown}",
                  file=sys.stderr, flush=True)
            if args.log:
                with open(args.log, "a") as f:
                    f.write(json.dumps(r) + "\n")
    return 0 if summarize(records, bench, args.claim) else 1


if __name__ == "__main__":
    sys.exit(main())

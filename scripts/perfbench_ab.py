#!/usr/bin/env python3
"""Same-window A/B of two graft checkouts on the pipeline benchmark.

For each workload and seed it runs `perfbench/run.py --trace 0` once in
each checkout, alternating which side goes first (the first pair parent
first, the next change first, ...), then prints per end-to-end metric:
the parent's median and quartile spread (IQR), the change's median, the
change/parent ratio, how many pairs the change won, and a verdict:

    PAST BOUND  the change's median is worse than the parent's by more
                than the metric's BENCHMARK.json bound (a share of the
                parent's median)
    unresolved  the parent's own IQR is wider than the bound and not
                every change run beats every parent run
    gain        the change won at least 9/10 of the pairs and the
                medians differ by more than the parent's IQR
    ok          none of the above

The bounds come from the parent checkout's BENCHMARK.json, which is
only read. Exit status 1 when any metric is PAST BOUND or any run failed
(threw, failed an output check, or printed no result).

    python3 scripts/perfbench_ab.py --parent ../parent --change . \\
        --seeds 11-20 [--workload strain_serve] [--seconds 18] \\
        [--out ab.json]

Each checkout builds on its first run (about a minute). A run takes
40-105 s on 4 cores, so 10 seeds of the two gated workloads take about
half an hour per side.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_once(checkout, workload, seed, seconds):
    """One untraced run; returns (ok, metrics dict of name -> value)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    last = p.stdout.strip().splitlines()[-1:] or [""]
    try:
        rec = json.loads(last[0])
    except ValueError:
        sys.stderr.write(p.stderr[-3000:])
        return False, {}
    metrics = {k: m["value"] for k, m in rec["metrics"].items()}
    ok = p.returncode == 0 and rec["correct"] and rec["failed"] == 0
    if not ok:
        sys.stderr.write(p.stderr[-3000:])
    return ok, metrics


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q3 - q1


def verdict(spec, parent, change):
    """(verdict, wins) of one metric from its paired runs."""
    lower = spec["better"] == "lower"
    pm, cm = statistics.median(parent), statistics.median(change)
    spread = iqr(parent)
    wins = sum((c < p) if lower else (c > p) for p, c in zip(parent, change))
    worse_by = (cm - pm) if lower else (pm - cm)
    bound = spec["bound"] * abs(pm)
    all_better = (max(change) < min(parent)) if lower \
        else (min(change) > max(parent))
    if worse_by > bound:
        return "PAST BOUND", wins
    if spread > bound and not all_better:
        return "unresolved", wins
    if wins * 10 >= 9 * len(parent) and -worse_by > spread:
        return "gain", wins
    return "ok", wins


def main():
    ap = argparse.ArgumentParser(
        description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", required=True, help="parent checkout")
    ap.add_argument("--change", required=True, help="changed checkout")
    ap.add_argument("--seeds", required=True, help="e.g. 11-20 or 3,5,8")
    ap.add_argument("--workload", action="append",
                    help="default: every workload in BENCHMARK.json")
    ap.add_argument("--seconds", type=int,
                    help="default: BENCHMARK.json run_seconds")
    ap.add_argument("--out", help="write every run's metrics here (JSON)")
    args = ap.parse_args()

    with open(os.path.join(args.parent, "BENCHMARK.json")) as f:
        bench = json.load(f)
    specs = {m["name"]: m for m in bench["end_to_end"]}
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    seconds = args.seconds or bench["run_seconds"]
    seeds = parse_seeds(args.seeds)
    sides = {"parent": args.parent, "change": args.change}

    runs = []
    failed = False
    past = False
    for w in workloads:
        got = {"parent": [], "change": []}
        for i, seed in enumerate(seeds):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                ok, m = run_once(sides[side], w, seed, seconds)
                print(f"[ab] {w} seed {seed} {side}: "
                      f"{'ok' if ok else 'FAILED'}", file=sys.stderr,
                      flush=True)
                failed |= not ok
                got[side].append(m)
                runs.append({"workload": w, "seed": seed, "side": side,
                             "ok": ok, "metrics": m})
        print(f"\n{w}: {len(seeds)} pairs, seeds {args.seeds}, "
              f"--seconds {seconds}")
        print(f"{'metric':22s} {'parent':>11s} {'(IQR)':>10s} "
              f"{'change':>11s} {'ratio':>7s} {'wins':>6s}  verdict")
        for name, spec in specs.items():
            pairs = [(p[name], c[name])
                     for p, c in zip(got["parent"], got["change"])
                     if name in p and name in c]
            if not pairs:
                continue
            parent = [p for p, _ in pairs]
            change = [c for _, c in pairs]
            v, wins = verdict(spec, parent, change)
            past |= v == "PAST BOUND"
            pm, cm = statistics.median(parent), statistics.median(change)
            ratio = cm / pm if pm else float("nan")
            print(f"{name:22s} {pm:11.4g} {iqr(parent):10.3g} {cm:11.4g} "
                  f"{ratio:7.3f} {wins:3d}/{len(pairs):<2d}  {v}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)
    return 1 if failed or past else 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""A/B the repo benchmark between two checkouts, in alternating pairs.

    python3 tools/ab.py --parent ../parent --change . --workload cf_retrain \\
        --pairs 10 --seed 101 --out ab_runs.jsonl

Pair i runs `perfbench/run.py --workload W --seed <seed+i> --seconds S`
once in each checkout, one after the other, S being BENCHMARK.json's
`run_seconds`; the parent goes first in even pairs and the change in odd
ones, so a drift of the machine over the pairs does not favour one side.
Each checkout builds its own program (perfbench caches the build per
source hash under its own `.bench_build/`).

Every run's result line is appended to the JSONL file as it finishes,
with its side, pair, seed, run length and order. The summary prints, per
metric, the medians and quartiles of both sides, change/parent of the
medians, the pairs the change won (by the metric's `better` in
BENCHMARK.json), and whether the median gap exceeds the parent's
interquartile range. It lists every run that is not `correct` or has
`failed > 0`.

    python3 tools/ab.py --report ab_runs.jsonl [--workload W]

summarizes an existing file without running anything.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    rec = {"exit": p.returncode, "elapsed_s": round(time.time() - t0, 1)}
    if p.returncode != 0 or not lines:
        rec["error"] = p.stderr[-2000:]
        return rec
    rec["result"] = json.loads(lines[-1])
    if len(lines) > 1:
        rec["env"] = json.loads(lines[-2])
    return rec


def load_benchmark(benchmark_json):
    """The run length and each metric's direction, from BENCHMARK.json."""
    with open(benchmark_json) as f:
        b = json.load(f)
    better = {m["name"]: m["better"] for m in b["end_to_end"] + b.get("per_layer", [])}
    return b["run_seconds"], better


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def report(records, better):
    bad = [r for r in records
           if "result" not in r or not r["result"]["correct"] or r["result"]["failed"] > 0]
    for r in bad:
        print(f"NOT CLEAN: {r['side']} pair {r['pair']} seed {r['seed']}: "
              + (json.dumps({k: r['result'][k] for k in ('correct', 'attempted', 'failed')})
                 if "result" in r else r.get("error", "no result")[-300:]))
    runs = {(r["pair"], r["side"]): r["result"]["metrics"] for r in records if "result" in r}
    pairs = sorted({p for p, _ in runs if (p, "parent") in runs and (p, "change") in runs})
    if not pairs:
        print("no complete pairs")
        return
    names = [k for k in runs[(pairs[0], "parent")] if k in better]
    print(f"{len(pairs)} pairs, {len(bad)} unclean runs")
    print(f"{'metric':28} {'parent median [IQR]':>30} {'change median [IQR]':>30} "
          f"{'chg/par':>8} {'wins':>6} {'gap>IQR':>7}")
    for k in names:
        par = [runs[(p, "parent")][k]["value"] for p in pairs]
        chg = [runs[(p, "change")][k]["value"] for p in pairs]
        mp, mc = statistics.median(par), statistics.median(chg)
        lo, hi = quartiles(par)
        clo, chi = quartiles(chg)
        sign = 1 if better[k] == "lower" else -1
        wins = sum(1 for a, b in zip(par, chg) if sign * (a - b) > 0)
        ratio = mc / mp if mp else float("nan")
        print(f"{k:28} {mp:12.4g} [{lo:7.4g}, {hi:7.4g}] {mc:12.4g} [{clo:7.4g}, {chi:7.4g}] "
              f"{ratio:8.3f} {wins:3d}/{len(pairs):<2d} {'yes' if abs(mc - mp) > hi - lo else 'no':>7}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", help="checkout of the change")
    ap.add_argument("--workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--out", help="JSONL file the runs are appended to")
    ap.add_argument("--report", help="summarize this JSONL file and exit")
    args = ap.parse_args()

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    seconds, better = load_benchmark(os.path.join(args.change or here, "BENCHMARK.json"))
    if args.report:
        with open(args.report) as f:
            recs = [json.loads(l) for l in f if l.strip()]
        if args.workload:
            recs = [r for r in recs if r["workload"] == args.workload]
        for w in sorted({r["workload"] for r in recs}):
            print(f"== {w}")
            report([r for r in recs if r["workload"] == w], better)
        return
    if not (args.parent and args.change and args.workload and args.out):
        ap.error("--parent, --change, --workload and --out are required to run pairs")

    records = []
    for i in range(args.pairs):
        seed = args.seed + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for pos, side in enumerate(order):
            rec = run_once(getattr(args, side), args.workload, seed, seconds)
            rec.update({"workload": args.workload, "side": side, "pair": i, "seed": seed,
                        "seconds": seconds, "first": pos == 0})
            records.append(rec)
            with open(args.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            m = rec.get("result", {}).get("metrics", {})
            print(f"pair {i} seed {seed} {side}: "
                  + (", ".join(f"{k}={v['value']:.4g}" for k, v in list(m.items())[:4])
                     if m else "NO RESULT"), flush=True)
    report(records, better)


if __name__ == "__main__":
    main()

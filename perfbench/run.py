#!/usr/bin/env python3
"""The repo benchmark: one command per workload, run from the repo root.

    python3 perfbench/run.py --workload daily_backfill --seed 1 --seconds 20 --trace 0

It builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the workload in
one Spark JVM (perfbench/scala), checks the outputs against DuckDB
(perfbench/checks.py) and prints, as its last line, one JSON object:
every end-to-end metric with --trace 0, every per-layer metric with
--trace 1. Workloads, metrics and bounds are declared in BENCHMARK.json.
"""
import argparse
import datetime as dt
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["daily_backfill", "cf_retrain", "corpus_index"]
LAYERS = ["medallion", "dashboard", "cleaning", "registry", "recommend",
          "alerts", "dedup", "similarity", "text", "spark"]
LAYER_STATS = ["calls", "busy_s", "failed", "driver_s", "jobs", "task_s", "parallelism",
               "shuffle_mb", "peak_exec_mb", "rows_out", "write_mb"]
DEADLINE_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

END_TO_END = {"setup_s": "s", "wall_s": "s", "unit_p50_s": "s", "unit_tail_s": "s",
              "rows_per_s": "1/s", "latency_p50_ms": "ms", "latency_tail_ms": "ms",
              "peak_rss_mb": "MB"}


def per_layer_units():
    units = {}
    for layer in LAYERS:
        for s in LAYER_STATS:
            units[f"{layer}.{s}"] = (
                "s" if s.endswith("_s") else "MB" if s.endswith("_mb")
                else "x" if s == "parallelism" else "count")
    units.update({"medallion.clean_ratio": "ratio", "registry.promote_ratio": "ratio",
                  "alerts.hit_ratio": "ratio", "spark.ms_per_job": "ms",
                  "bench.wall_s": "s", "bench.glue_s": "s",
                  "env.calib_spin_ms": "ms", "env.calib_scan_ms": "ms"})
    return units


def tail(xs):
    """The highest of p99.9/p99/p95/p90/p75/p50 with at least ten
    samples beyond it, else the maximum. Returns (value, pct, beyond)."""
    xs = sorted(xs)
    n = len(xs)
    for p in (99.9, 99, 95, 90, 75, 50):
        k = math.ceil(p / 100 * n) - 1
        if n - 1 - k >= 10:
            return xs[k], p, n - 1 - k
    return xs[-1], 100, 0


# ---- inputs -------------------------------------------------------------

def make_plan(args, work):
    data = os.path.join(build.BUILD, "data")
    sf = 0.01 if args.size == "tiny" else 0.1
    tpch = os.path.join(data, f"tpch-sf{sf}")
    gen.tpch(tpch, sf)
    p = gen.plan(args.workload, args.seed, args.size, args.cutoffs)
    p["paths"] = {"calib": os.path.join(data, "tpch-sf0.01", "lineitem.parquet")}
    gen.tpch(os.path.join(data, "tpch-sf0.01"), 0.01)
    if args.workload in ("daily_backfill", "cf_retrain"):
        first = dt.date(1992, 1, 1)
        span = 2400    # days in the source, at 2500 lines per day per unit of sf
        day = lambda o: str(first + dt.timedelta(days=o))  # noqa: E731
        if args.workload == "daily_backfill":
            offs = p.pop("day_offsets")
            p["days"] = [day(o) for o in offs]
            p["catchup"] = [day(o) for o in p.pop("catchup_offsets")]
            p["warmup_day"] = day(offs[0] - 20)
            # the source holds the weeks around the window
            lo, hi = day(offs[0] - 40), day(offs[-1] + 10)
        else:
            p["cutoffs"] = [day(math.ceil(f * span)) for f in p["cutoffs"]]
            p["warmup_cutoff"] = day(30)
            lo, hi = day(0), p["cutoffs"][-1]
        src = os.path.join(work, "source.parquet")
        p["paths"]["source"] = src
        p["source_counts"] = gen.order_source(tpch, args.seed, src, lo, hi, round(2500 * sf))
        con = checks._con(src)

        def lines(where):
            return con.execute(f"SELECT count(*) FROM source WHERE {where}").fetchone()[0]
        if args.workload == "daily_backfill":
            p["rows_per_pass"] = sum(
                lines(f"CAST(order_date AS DATE) = DATE '{d}'") for d in p["days"] + p["catchup"])
        else:
            p["rows_per_pass"] = sum(lines(f"order_date < TIMESTAMPTZ '{c}'")
                                     for c in p["cutoffs"])
            def to_users(requests, cut):
                users = [u for (u,) in con.execute(
                    f"SELECT DISTINCT customer_key FROM source WHERE {checks.CLEAN} "
                    f"AND order_date < TIMESTAMPTZ '{cut}' ORDER BY 1").fetchall()]
                return [[users[int(frac * len(users))], top_n] for frac, top_n in requests]
            per = len(p["requests"]) // len(p["cutoffs"])
            p["requests"] = [req for c, cut in enumerate(p["cutoffs"])
                             for req in to_users(p["requests"][c * per:(c + 1) * per], cut)]
            p["warmup_requests"] = to_users(p["warmup_requests"], p["warmup_cutoff"])
    elif args.workload == "corpus_index":
        n_docs, n_vecs = (250, 100) if args.size == "tiny" else (5000, 2000)
        p["paths"]["corpus"] = os.path.join(data, f"corpus-{n_docs}-{n_vecs}")
        gen.corpus(p["paths"]["corpus"], n_docs, n_vecs)
        p["rows_per_pass"] = (n_docs + n_vecs) * len(p["queries"])
    return p


# ---- the JVM --------------------------------------------------------------

def run_jvm(args, work, classes, deadline):
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # The parallel collector with fixed sizing policy grows the heap on
    # occupancy alone, so peak RSS follows the program's memory demand
    # rather than GC pause timing. A 1 GiB young generation with large
    # survivor spaces and late tenuring keeps short-lived objects out of the
    # old generation, and a metaspace that starts large avoids metadata
    # collections: full collections (0.2 s each) then stay out of the timed
    # region, where they landed in a random unit or request, and the old
    # generation stops piling up garbage whose amount varied from run to run.
    cmd = (["java", "-Xms2g", "-Xmx3g", "-Xmn1g", "-XX:SurvivorRatio=3",
            "-XX:InitialTenuringThreshold=15", "-XX:MaxTenuringThreshold=15",
            "-XX:MetaspaceSize=256m", "-Xss4m", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
            # keep every file the JVM writes inside the run directory
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}"]
           + [a for o in JDK17_OPENS for a in ("--add-opens", f"{o}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + jars, "perfbench.Main",
              "--work", work, "--seconds", str(args.seconds), "--trace", str(args.trace)])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            code = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: the benchmark JVM failed ({code})")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


# ---- metrics --------------------------------------------------------------

def metrics(args, res):
    setup = res["session_s"] + res["warmup_s"] + statistics.median(res["stage_s"])
    wall = statistics.median(res["pass_walls"])
    units = res["units"]
    lat = res["latencies_ms"]
    rows_per_s = res["rows_per_pass"] / wall
    ut, up, un = tail(units)
    lt, lp, ln = tail(lat)
    m = {"setup_s": setup, "wall_s": wall, "unit_p50_s": statistics.median(units),
         "unit_tail_s": ut, "rows_per_s": rows_per_s,
         "latency_p50_ms": statistics.median(lat), "latency_tail_ms": lt,
         "peak_rss_mb": res["peak_rss_mb"]}
    notes = {"unit_tail": {"pct": up, "beyond": un, "samples": len(units)},
             "latency_tail": {"pct": lp, "beyond": ln, "samples": len(lat)}}
    if not args.trace:
        return {k: {"value": v, "unit": END_TO_END[k]} for k, v in m.items()}, notes
    units_of = per_layer_units()
    layers = res["layers"]
    pl = {f"{l}.{s}": layers[l][s] for l in LAYERS for s in LAYER_STATS}
    pl["spark.ms_per_job"] = (1e3 * layers["spark"]["busy_s"] / layers["spark"]["jobs"]
                              if layers["spark"]["jobs"] else 0.0)
    for k in ("medallion.clean_ratio", "registry.promote_ratio", "alerts.hit_ratio"):
        pl[k] = res["extra"].get(k, 0.0)
    timed = sum(res["pass_walls"])
    pl["bench.wall_s"] = timed
    pl["bench.glue_s"] = timed - sum(layers[l]["busy_s"] for l in LAYERS if l != "spark")
    pl["env.calib_spin_ms"] = res["env"]["calib_spin_ms"]
    pl["env.calib_scan_ms"] = res["env"]["calib_scan_ms"]
    return {k: {"value": v, "unit": units_of[k]} for k, v in pl.items()}, notes


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="tiny: small inputs, for the benchmark's own smoke test")
    ap.add_argument("--cutoffs", type=lambda v: [float(x) for x in v.split(",")],
                    help="cf_retrain: the retrain windows, as fractions of the source's days")
    args = ap.parse_args()
    started = time.time()
    deadline = started + DEADLINE_S
    classes = build.build()
    # a first run that had to compile gets the rest of its budget back
    deadline = max(deadline, time.time() + DEADLINE_S - 20)
    work = os.path.join(build.BUILD, "runs", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    phases = {"build_s": time.time()}
    try:
        plan = make_plan(args, work)
        with open(os.path.join(work, "plan.json"), "w") as f:
            json.dump(plan, f)
        phases["inputs_s"] = time.time()
        res = run_jvm(args, work, classes, deadline - 15)
        phases["jvm_s"] = time.time()
        found = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
        found += checks.CHECKS[args.workload](plan, res)
        phases["checks_s"] = time.time()
        bad = [c for c in found if not c[1]]
        for name, ok, detail in bad:
            sys.stderr.write(f"perfbench: check {name} FAILED: {detail}\n")
        out, notes = metrics(args, res)
        attempted = res["attempted"] + len(found)
        failed = res["failed"] + len(bad)
        marks = [started] + list(phases.values())
        phases = {k: round(b - a, 2) for k, a, b in zip(phases, marks, marks[1:])}
        print(json.dumps({"env": res["env"], "phases": phases,
                          "checks": len(found), "checks_failed": len(bad),
                          "tails": notes, "attempted": attempted, "failed": failed,
                          "failed_frac": failed / attempted}))
        print(json.dumps({"correct": not bad and res["failed"] == 0, "attempted": attempted,
                          "failed": failed, "metrics": out}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

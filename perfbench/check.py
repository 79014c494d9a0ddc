"""Checks of the benchmark itself.

    python3 perfbench/check.py selftest
        status-store reader on a toy groupBy (jobs > 0, shuffle bytes > 0),
        then a tiny-corpus smoke run of every workload, untraced and
        traced, whose metric names must match BENCHMARK.json.
    python3 perfbench/check.py spread --workload W --seeds 1 2 3 4 5
        one untraced run per seed; per end-to-end metric the quartiles
        and (Q3 - Q1) / median, as ``statistics.quantiles(n=4)`` gives.
    python3 perfbench/check.py fingerprint --workload W --seeds 1 2
        runs seed 1 twice and seed 2 once; the per-round exact counts
        (n_frontier, n_decided, n_discovered_new, compacted, Spark jobs)
        must repeat at seed 1 and change at seed 2.
    python3 perfbench/check.py overhead --workload W --seeds 1 2 3
        the tracing overhead: per seed, one untraced and one traced run;
        median round and recovery wall traced ÷ untraced − 1.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload: str, seed: int, seconds: float, trace: int = 0,
        smoke: bool = False) -> tuple[int, dict, dict]:
    """One benchmark process; returns (exit code, result, report)."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)] + (["--smoke"] if smoke else [])
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    report = next((json.loads(x[len("REPORT "):]) for x in lines
                   if x.startswith("REPORT ")), {})
    result = json.loads(lines[-1]) if lines else {}
    if p.returncode:
        sys.stderr.write(p.stderr[-3000:])
    return p.returncode, result, report


def selftest(_args) -> int:
    sys.path.insert(0, HERE)
    import harness

    harness.prepare_env()
    spark = harness.start_spark()
    try:
        stats = harness.SparkStats(spark)
        jobs0 = stats.job_ids()
        from pyspark.sql import functions as F

        spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).count().collect()
        c = stats.counters(stats.job_ids() - jobs0)
    finally:
        harness.stop_spark(spark)
    ok = c["jobs"] > 0 and c["shuffle_write_bytes"] > 0 and c["shuffle_read_bytes"] > 0
    print(f"status-store reader on a toy groupBy: {c} -> {'ok' if ok else 'FAIL'}")

    spec = bench_spec()
    want = {0: {m["name"] for m in spec["end_to_end"]},
            1: {m["name"] for m in spec["per_layer"]}}
    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            code, result, _ = run(w, 1, 1, trace=trace, smoke=True)
            got = set(result.get("metrics", {}))
            good = code == 0 and result.get("correct") and got == want[trace]
            ok &= bool(good)
            print(f"smoke {w} trace={trace}: exit {code}, "
                  f"correct={result.get('correct')}, "
                  f"metrics missing {sorted(want[trace] - got)}, "
                  f"extra {sorted(got - want[trace])} -> "
                  f"{'ok' if good else 'FAIL'}")
    return 0 if ok else 1


def spread(args) -> int:
    spec = bench_spec()
    seconds = args.seconds or spec["run_seconds"]
    values: dict[str, list[float]] = {}
    ok = True
    for seed in args.seeds:
        code, result, report = run(args.workload, seed, seconds)
        ok &= code == 0 and bool(result.get("correct"))
        for k, v in result.get("metrics", {}).items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: exit {code} wall {report.get('wall_s', 0):.1f}s "
              + " ".join(f"{k}={v['value']:.4g}"
                         for k, v in result.get("metrics", {}).items()),
              flush=True)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for k, vals in values.items():
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        s = (q3 - q1) / med
        b = bounds.get(k)
        flag = "" if b is None else (" ok" if s < b / 3 else " WIDE")
        print(f"{k}: median {med:.4g} q1 {q1:.4g} q3 {q3:.4g} "
              f"spread {s:.3f} bound {b}{flag}")
    return 0 if ok else 1


def fingerprint(args) -> int:
    seconds = args.seconds or bench_spec()["run_seconds"]
    a, b = args.seeds[:2]
    prints = []
    for seed in (a, a, b):
        code, _, report = run(args.workload, seed, seconds)
        prints.append(report.get("fingerprint"))
        print(f"seed {seed}: exit {code} fingerprint {prints[-1]}", flush=True)
    repeat = prints[0] == prints[1] and prints[0] is not None
    changed = prints[0] != prints[2]
    print(f"repeats at seed {a}: {repeat}; changes at seed {b}: {changed}")
    return 0 if repeat and changed else 1


def overhead(args) -> int:
    seconds = args.seconds or bench_spec()["run_seconds"]
    ratios: dict[str, list[float]] = {"round_s_p50": [], "recover_s": []}
    ok = True
    for seed in args.seeds:
        walls = []
        for trace in (0, 1):
            code, _, report = run(args.workload, seed, seconds, trace=trace)
            ok &= code == 0
            walls.append({
                "round_s_p50": statistics.median(
                    r["wall"] for r in report["rounds"]),
                "recover_s": statistics.median(report["timings"]["recover_s"]),
            } if code == 0 else None)
        if None in walls:
            continue
        for k in ratios:
            ratios[k].append(walls[1][k] / walls[0][k] - 1.0)
        print(f"seed {seed}: untraced {walls[0]} traced {walls[1]}", flush=True)
    for k, v in ratios.items():
        if v:
            print(f"tracing overhead on {k}: median {statistics.median(v):+.3f} "
                  f"over {len(v)} seeds {[round(x, 3) for x in v]}")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("selftest")
    for name in ("spread", "fingerprint", "overhead"):
        p = sub.add_parser(name)
        p.add_argument("--workload", required=True)
        p.add_argument("--seeds", type=int, nargs="+", required=True)
        p.add_argument("--seconds", type=float, default=None)
    args = ap.parse_args()
    return {"selftest": selftest, "spread": spread, "fingerprint": fingerprint,
            "overhead": overhead}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())

"""Crawl-engine benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload steady_round --seed 1 --seconds 10 --trace 0

Prints one line per metric (name, value, unit), a ``REPORT {...}`` line
(timings, per-round counts, fingerprint, gate results) and, last, the
result object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the engine's public callables are wrapped in spans and the metrics are
the per-layer ones. Exits non-zero if an operation raised or a
correctness gate failed. ``--smoke`` runs a tiny corpus (self-tests).
See README.md.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

import harness


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    harness.prepare_env()
    # fails here, before any output, when the engine sources are absent
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(workloads.WORKLOADS)}")

    t0 = time.perf_counter()
    imports_s = t0 - t_start
    spark = harness.start_spark()
    session_s = time.perf_counter() - t0
    stats = harness.SparkStats(spark)
    tracer = Tracer(stats) if args.trace else None
    if tracer:
        tracer.install()
    run = workloads.Run(
        name=args.workload, spec=workloads.WORKLOADS[args.workload],
        seed=args.seed, seconds=args.seconds, spark=spark, stats=stats,
        tracer=tracer, smoke=args.smoke,
    )
    run.timings.update(imports_s=imports_s, session_s=session_s)
    error = None
    try:
        workloads.run_workload(run)
        peak_rss = harness.jvm_peak_rss_mb(spark)
    except workloads.OpFailed as e:
        error = str(e)
    finally:
        if tracer:
            tracer.uninstall()
        t0 = time.perf_counter()
        harness.stop_spark(spark)
        run.timings["stop_s"] = time.perf_counter() - t0
    wall_s = time.perf_counter() - t_start

    correct = error is None and not run.gate_failures
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "smoke": args.smoke, "nproc": harness.nproc(), "correct": correct,
        "error": error, "gate_failures": run.gate_failures,
        "attempted": run.attempted, "failed": run.failed,
        "ops_failed_frac": run.failed / max(1, run.attempted),
        "timings": run.timings, "counts": run.counts,
        "rounds": run.rounds,
        "fingerprint": run.fingerprint, "wall_s": wall_s,
    }
    metrics = {}
    if error is None:
        if tracer:
            metrics = workloads.per_layer(run)
        else:
            metrics = workloads.end_to_end(run, peak_rss)
        report["round_samples"] = len(run.rounds)
    name = f"{args.workload}_seed{args.seed}_trace{args.trace}"
    report["metrics"] = metrics
    harness.write_report(name + ".json", report)
    if tracer:
        harness.write_report(name + "_spans.json", tracer.spans)

    for k, (v, unit) in metrics.items():
        print(f"metric {k} = {v:.6g} {unit}")
    print(f"metric ops_failed_frac = {report['ops_failed_frac']:.6g} ratio "
          f"({run.failed} of {run.attempted} ops)")
    print("REPORT " + json.dumps(report, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct and run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

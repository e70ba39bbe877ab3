#!/usr/bin/env python3
"""The repo benchmark: one seeded workload, timed, checked, reported.

    python3 perfbench/run.py --workload {live,curate} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout. Prints a human-readable report, then
as the last line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``. A traced
run also writes its spans and per-layer table to ``.bench_out/``.
Outputs are checked against the DuckDB oracles; a wrong output counts
as a failed op and makes the exit code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import DRIVER_MEM, OUT_DIR, ROOT, Bench, median  # noqa: E402

def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("live", "curate"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # the engine is imported before any directory is made, so a tree
    # without it fails here and leaves nothing behind
    from perfbench import curate, live, logs
    from perfbench.tracing import Tracer, read_event_log, span_table

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    wl = {"live": live, "curate": curate}[args.workload]
    layers, table = {}, []
    try:
        t0 = time.perf_counter()
        bench.start_session()
        bench.put("session_start_s", time.perf_counter() - t0, "s")
        state = wl.setup(bench)
        setup_s = time.perf_counter() - t0
        if bench.trace:
            bench.tracer = Tracer(bench.spark)
            if wl is not curate:
                logs.instrument(bench.tracer)
        t0 = time.perf_counter()
        wl.measure(bench, state)
        bench.put("measure_wall_s", time.perf_counter() - t0, "s")
        rss = bench.jvm_rss_peak_mb()
        if bench.trace:
            bench.tracer.unwrap_all()
            log = bench.event_log()
            bench.spark.stop()
            per_span, plans = read_event_log(log)
            layers = wl.layers(bench, state, per_span, plans)
            table = span_table(bench.tracer.spans, per_span)
    finally:
        bench.close()

    bench.put("setup_s", setup_s, "s")
    # a run that stopped short has failed; its timings are not gated
    bench.put("op_p50_s", median(bench.op_walls) if bench.op_walls else 0.0, "s")
    bench.put("op_n", len(bench.op_walls), "ops")
    bench.put("jvm_rss_peak_mb", rss, "MB")
    bench.put("failed_frac", bench.failed / max(1, bench.attempted), "ratio")
    print(f"# perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds} trace={args.trace} cores={bench.cores} "
          f"heap={DRIVER_MEM}")
    for name, (value, unit) in bench.report.items():
        print(f"{name:<34} {value:>16.6g} {unit}")
    for err in bench.errors[:20]:
        print(f"FAILED: {err}")

    if bench.trace:
        layers["trace.overhead_frac"] = bench.report.get("trace.overhead_frac", (0.0,))[0]
        metrics = {
            m["name"]: {"value": float(layers.get(m["name"], 0)), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
        print(f"\n{'span':<24} {'calls':>6} {'total_s':>9} {'self_s':>9} "
              f"{'cpu_s':>8} {'gc_s':>7} {'compile_s':>9} {'tasks':>6} "
              f"{'shuffle_MB':>10} {'spill_MB':>8}")
        for r in table:
            print(f"{r['span']:<24} {r['calls']:>6} {r['total_s']:>9.3f} "
                  f"{r['self_s']:>9.3f} {r['cpu_s']:>8.2f} {r['gc_s']:>7.2f} "
                  f"{r['compile_s']:>9.3f} {r['tasks']:>6} "
                  f"{r['shuffle_write_bytes'] / 2**20:>10.2f} {r['spill_bytes'] / 2**20:>8.2f}")
        print()
        for name, m in metrics.items():
            print(f"{name:<34} {m['value']:>16.6g} {m['unit']}")
        os.makedirs(OUT_DIR, exist_ok=True)
        stem = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}")
        bench.tracer.write(stem + "-spans.json")
        with open(stem + "-layers.json", "w") as f:
            json.dump({"metrics": metrics, "spans_by_name": table}, f, indent=1)
    else:
        metrics = {
            m["name"]: {"value": float(bench.report[m["name"]][0]), "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    correct = bench.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

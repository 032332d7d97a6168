"""Run-to-run spread of the benchmark's metrics.

    python3 perfbench/spread.py --workload hourly --seeds 1-10 --out a.json
    python3 perfbench/spread.py --workload hourly --seeds 11-20 --against a.json

Runs ``run.py`` once per seed (sequentially, one process at a time) and
prints, for every metric, its median, quartiles and the quartile spread
as a share of the median next to the metric's bound in BENCHMARK.json,
plus each run's op times and set-up parts so a wide spread can be traced
to its cause.  ``--against`` compares the medians with an earlier
``--out`` file: a metric fails when it got worse by more than its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seed_list(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def one_run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict, float]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"seed {seed}: exit code {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2]), wall


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--against")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {}
    for seed in seed_list(args.seeds):
        result, record, wall = one_run(args.workload, seed, bench["run_seconds"], args.trace)
        ops = " ".join(f"{o[1]:.2f}" for o in record["ops"])
        warm = " ".join(f"{o[1]:.2f}" for o in record["warmup_ops"])
        setup = " ".join(f"{k}={v:.2f}" for k, v in record["setup"].items())
        print(f"seed {seed}: wall {wall:.1f}s correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']} "
              f"steal={record['steal_pct']:.1f}% | {setup} | "
              f"warmup [{warm}] | ops [{ops}]", flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])

    earlier = {}
    if args.against:
        with open(args.against) as fh:
            earlier = json.load(fh)
    worst = 0.0
    print(f"{'metric':40s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
    for name, vals in values.items():
        q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
        spread = (q3 - q1) / med if med else 0.0
        b = bounds.get(name)
        line = f"{name:40s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f}"
        if b:
            line += f" {b['bound']:6.2f}"
            if name in earlier:
                prev = statistics.median(earlier[name])
                drift = (med - prev) / prev if b["better"] == "lower" else (prev - med) / prev
                line += f"  drift {drift:+.3f}{'  WORSE' if drift > b['bound'] else ''}"
            if name != "setup_s":
                worst = max(worst, spread / b["bound"])
        print(line)
    print(f"widest spread / bound (setup_s excluded): {worst:.2f}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(values, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())

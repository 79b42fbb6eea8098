#!/usr/bin/env python3
"""Runs the benchmark on several seeds and reports each metric's spread.

    python3 perfbench/spread.py --workload corpus_gate --seeds 1-10
    python3 perfbench/spread.py --workload card_refresh --seeds 1-5 --overhead

For each end-to-end metric it prints the median, the quartiles (Python's
statistics.quantiles(n=4)), the spread (third minus first quartile, as a
share of the median) and the bound BENCHMARK.json fixes for it. With
--overhead every seed also runs traced, and the report adds the traced
median and its difference from the untraced one: the tracing overhead.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    e2e = json.loads(next(l for l in lines if l.startswith("end_to_end "))[len("end_to_end "):])
    last = json.loads(lines[-1])
    lat = next((l.split(":", 1)[1].strip() for l in lines if "op latencies" in l), "")
    if p.returncode != 0 or not last["correct"]:
        print(f"seed {seed}: run failed (exit {p.returncode}): {last}", file=sys.stderr)
    return e2e, last, time.time() - t0, lat


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values, traced, walls = {}, {}, []
    for s in seeds(a.seeds):
        e2e, last, wall, lat = run(a.workload, s, spec["run_seconds"], 0)
        walls.append(wall)
        for k, v in e2e.items():
            values.setdefault(k, []).append(v)
        line = f"seed {s}: {wall:.1f} s wall, correct {last['correct']}, " + ", ".join(
            f"{k} {v:.4g}" for k, v in e2e.items()) + f"; op latencies {lat}"
        if a.overhead:
            t_e2e, _, t_wall, _ = run(a.workload, s, spec["run_seconds"], 1)
            walls.append(t_wall)
            for k, v in t_e2e.items():
                traced.setdefault(k, []).append(v)
        print(line, flush=True)
    print(f"\n{a.workload}: {len(walls)} runs, wall per run median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s")
    print(f"{'metric':<14} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}"
          + (f" {'traced':>12} {'overhead':>9}" if a.overhead else ""))
    for k, vs in values.items():
        q1, q2, q3 = statistics.quantiles(vs, n=4)
        med = statistics.median(vs)
        row = f"{k:<14} {med:>12.5g} {q1:>12.5g} {q3:>12.5g} {(q3 - q1) / med if med else float('nan'):>8.3f} {bounds.get(k, float('nan')):>6}"
        if a.overhead:
            tm = statistics.median(traced[k])
            row += f" {tm:>12.5g} {(tm - med) / med:>+9.3f}"
        print(row)


if __name__ == "__main__":
    main()

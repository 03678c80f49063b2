#!/usr/bin/env python3
"""Run-to-run spread of the benchmark on this host, as a markdown table.

    python3 perfbench/steadiness.py [--seeds 10] [--traced 3] [--first-seed 1]
        [--workload NAME]

Runs every workload of BENCHMARK.json once per seed with tracing off, and
`--traced` more times with tracing on. For each end-to-end metric it prints
the median and the spread (distance between the first and third quartile,
as a share of the median, by `statistics.quantiles(values, n=4)`), and the
tracing overhead: the traced run's median of the same metric against the
untraced one. Run from the root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()


def run(workload, seed, seconds, trace):
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        sys.exit(f"{workload} seed {seed} failed:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2][len("side "):]), time.time() - t0


def spread(xs):
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--traced", type=int, default=3)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", help="only this workload of BENCHMARK.json")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    seeds = range(args.first_seed, args.first_seed + args.seeds)
    print("| workload | metric | bound | median | spread | spread/bound "
          "| traced median | tracing overhead |")
    print("|---|---|---|---|---|---|---|---|")
    notes = []
    for w in spec["workloads"]:
        name = w["name"]
        if args.workload and name != args.workload:
            continue
        plain = [run(name, s, seconds, 0) for s in seeds]
        traced = [run(name, s, seconds, 1) for s in seeds[:args.traced]]
        bad = sum(1 for r, _, _ in plain + traced if not r["correct"])
        walls = [t for _, _, t in plain]
        calib = [sd["host"]["calib_s"] for _, sd, _ in plain]
        shuffle = [sd["host"]["calib_shuffle_s"] for _, sd, _ in plain]
        notes.append(f"- `{name}`: {len(plain)} untraced + {len(traced)} traced runs, "
                     f"{bad} incorrect; run wall median {statistics.median(walls):.1f} s "
                     f"(max {max(walls):.1f} s); calib_s median {statistics.median(calib):.3f} s, "
                     f"calib_shuffle_s median {statistics.median(shuffle):.3f} s")
        for m in spec["end_to_end"]:
            xs = [r["metrics"][m["name"]]["value"] for r, _, _ in plain]
            med = statistics.median(xs)
            sp = spread(xs)
            key = f"traced.{m['name']}"
            tr = [r["metrics"][key]["value"] for r, _, _ in traced if key in r["metrics"]]
            tmed = statistics.median(tr) if tr else None
            over = (f"{(tmed / med - 1) * 100:+.1f}%" if tmed is not None and med else "—")
            print(f"| {name} | {m['name']} | {m['bound']} | {med:.4g} | {sp:.3f} "
                  f"| {sp / m['bound']:.2f} | {tmed if tmed is None else f'{tmed:.4g}'} "
                  f"| {over} |")
    print()
    print("\n".join(notes))


if __name__ == "__main__":
    main()

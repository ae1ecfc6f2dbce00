"""Steadiness check: run each workload over several seeds, in one or two
sets, and print each end-to-end metric's spread against its bound.

The spread of a metric is the distance between the first and third
quartile of its values across the seeds, as a share of their median
(statistics.quantiles(values, n=4)). A metric is steady when its spread
stays below a third of its bound. With two sets, each metric's second-set
median must also not be worse than the first set's by more than the bound.

Usage: python3 perfbench/steady.py [--workload NAME ...] [--seeds N] [--sets 1|2]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds):
    proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                          cwd=ROOT, capture_output=True, text=True)
    if proc.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed:\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise SystemExit(f"{workload} seed {seed} incorrect: {proc.stdout[-3000:]}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append",
                    default=None, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=1)
    args = ap.parse_args()
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    ok = True
    for w in workloads:
        sets = []
        for s in range(args.sets):
            rows = [run(w, 1000 * s + seed, spec["run_seconds"]) for seed in range(1, args.seeds + 1)]
            sets.append({m["name"]: [r[m["name"]] for r in rows] for m in spec["end_to_end"]})
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            line = [f"{w:<20} {name:<14} bound {bound:.2f}"]
            for i, metrics in enumerate(sets):
                values = metrics[name]
                sp = spread(values)
                steady = sp < bound / 3
                ok &= steady
                line.append(f"set{i + 1} median {statistics.median(values):10.4f} "
                            f"spread {sp:6.3f} {'ok' if steady else 'UNSTEADY'}")
            if len(sets) == 2:
                a, b = (statistics.median(v) for v in (sets[0][name], sets[1][name]))
                worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
                ok &= worse <= bound
                line.append(f"set2 vs set1 {worse:+.3f} {'ok' if worse <= bound else 'WORSE'}")
            print("  ".join(line), flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

"""Smoke test of the benchmark itself, on tiny inputs with two passes.

For every workload in BENCHMARK.json, runs perfbench/run.py --smoke once
untraced and once traced, and asserts that the result line has exactly the
keys correct/attempted/failed/metrics, that the run is correct, and that
every end_to_end (untraced) or per_layer (traced) metric is printed with
its unit and a finite value. The traced run must also leave its span trace
in .bench_build/results/.

Usage: python3 perfbench/smoke.py
"""
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check(workload, trace, wanted):
    proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                           "--seed", "1", "--seconds", "0", "--trace", str(trace), "--smoke"],
                          cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, f"{workload} trace {trace}: exit {proc.returncode}\n{proc.stderr}"
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, \
        proc.stdout.strip().splitlines()[-2][:3000]
    for m in wanted:
        got = result["metrics"].get(m["name"])
        assert got is not None, f"{workload} trace {trace}: {m['name']} missing"
        assert got["unit"] == m["unit"], f"{m['name']}: unit {got['unit']} != {m['unit']}"
        assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"]), \
            f"{m['name']}: value {got['value']}"
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    if trace:
        path = os.path.join(ROOT, ".bench_build", "results", f"{workload}-seed1-trace1.json")
        records = json.load(open(path))["harness"]["trace_records"]
        kinds = {s["kind"] for s in records["spans"]}
        assert {"session", "warm", "query", "build", "plan", "execute", "job", "stage"} <= kinds, kinds
        assert records["per_query"], "no per-query records"
    print(f"ok  {workload:<20} trace={trace}  {len(wanted)} metrics", flush=True)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for w in spec["workloads"]:
        check(w["name"], 0, spec["end_to_end"])
        check(w["name"], 1, spec["per_layer"])


if __name__ == "__main__":
    main()

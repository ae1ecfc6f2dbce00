"""graft benchmark: one closed-loop, single-client run of one workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                           [--smoke]

Builds graft and the harness from source (perfbench/build.py), generates
the workload's input tables (perfbench/gen.py, fixed generator seed; kept
in .bench_build/data for later runs), runs the harness JVM on local[nproc]
(set-up, then timed passes for --seconds in an order drawn from --seed),
checks every query's result against its DuckDB oracle with
scripts/selfcheck.py, and prints a details line and, last, the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics. --smoke runs on tiny inputs with one
set-up and the fewest passes, for checking the harness itself.

Everything a run writes stays under .bench_build/ in the repository root;
the run's scratch is deleted at exit, its result JSON is kept in
.bench_build/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

# Each workload: the graft queries it runs (name prefixes) and its input
# sizes (gen.generate arguments).
WORKLOADS = {
    "etl_curation_sf01": {
        "queries": ["q03", "q72", "q76", "q42", "q66", "q70"],
        "sizes": {"lineitem": 600_000, "events": 100_000, "documents": 5_000,
                  "embeddings": 2_000},
    },
    "stream_sf01": {
        "queries": ["q70", "q118", "q175"],
        "sizes": {"lineitem": 60_000, "events": 100_000, "documents": 500,
                  "embeddings": 500},
    },
}
SMOKE_SIZES = {"lineitem": 6_000, "events": 1_000, "documents": 500, "embeddings": 500}
# Every run of a workload reads the same tables, so run-to-run differences
# come from graft and the host, not from the data; --seed sets query order.
DATA_SEED = 42
PROBE_DIRS = 2
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def cores():
    return len(os.sched_getaffinity(0))


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def link_copy(src, dst):
    """A copy of the input tables under a new path, by hard links."""
    os.makedirs(dst)
    for f in os.listdir(src):
        os.link(os.path.join(src, f), os.path.join(dst, f))
    return dst


def input_tables(bench, sizes):
    """The generated tables for these sizes, made once and reused.
    Returns (dir, rows, seconds spent generating)."""
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        key = hashlib.sha256(fh.read() + repr(sorted(sizes.items())).encode())
    data = os.path.join(bench, "data", key.hexdigest()[:16])
    rows_file = os.path.join(data, "rows.json")
    t0 = time.monotonic()
    if not os.path.exists(rows_file):
        import gen  # numpy and pyarrow load only when tables are made
        tmp = f"{data}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        rows = gen.generate(tmp, DATA_SEED, **sizes)
        with open(os.path.join(tmp, "rows.json"), "w") as fh:
            json.dump(rows, fh)
        shutil.rmtree(data, ignore_errors=True)
        os.rename(tmp, data)
    with open(rows_file) as fh:
        return data, json.load(fh), time.monotonic() - t0


def oracle_check(data_dir, dump_dir):
    """Run scripts/selfcheck.py; return (checked, {query: failure})."""
    proc = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "selfcheck.py"),
                           data_dir, dump_dir], capture_output=True, text=True, timeout=120)
    checked, bad = 0, {}
    for line in proc.stdout.splitlines():
        parts = line.split(None, 2)
        if parts and parts[0] in ("PASS", "FAIL") and len(parts) == 3:
            checked += 1
            if parts[0] == "FAIL":
                bad[parts[1]] = parts[2].lstrip(": ")[:300]
    if proc.returncode not in (0, 1) or (proc.returncode == 1 and not bad):
        raise RuntimeError(f"selfcheck.py failed: {proc.stderr[-2000:]}")
    return checked, bad


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    wanted = spec()["per_layer" if args.trace else "end_to_end"]
    load_start = os.getloadavg()

    t0 = time.monotonic()
    classpath, source_digest, built = build.build()
    build_s = time.monotonic() - t0

    bench = os.path.join(ROOT, ".bench_build")
    work = os.path.join(bench, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    results = os.path.join(bench, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    try:
        w = WORKLOADS[args.workload]
        base, rows, gen_s = input_tables(bench, SMOKE_SIZES if args.smoke else w["sizes"])
        probe_dirs = [link_copy(base, os.path.join(work, f"probe{i}"))
                      for i in range(PROBE_DIRS if args.trace else 0)]
        out = os.path.join(work, "harness.json")
        harness = {
            "workload": args.workload, "queries": ",".join(w["queries"]),
            "data": base, "probe_dirs": ",".join(probe_dirs),
            "seed": args.seed, "seconds": 0 if args.smoke else args.seconds,
            "trace": args.trace, "cores": cores(), "min_passes": 2 if args.smoke else 4,
            "dump": os.path.join(work, "dump"), "scratch": os.path.join(work, "tmp"),
            "out": out,
        }
        cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
               + [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:ReservedCodeCacheSize=1g",
                  "-XX:-UsePerfData",
                  f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                  "-cp", classpath, "perfbench.Main"]
               + [f"{k}={v}" for k, v in harness.items()])
        t0 = time.monotonic()
        with open(os.path.join(work, "harness.log"), "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise RuntimeError(f"harness JVM exceeded {JVM_TIMEOUT_S}s")
        if code != 0 or not os.path.exists(out):
            with open(os.path.join(work, "harness.log")) as fh:
                tail = fh.read()[-3000:]
            raise RuntimeError(f"harness JVM exited {code}:\n{tail}")
        with open(out) as fh:
            res = json.load(fh)
        jvm_s = time.monotonic() - t0

        t0 = time.monotonic()
        checked, oracle_bad = oracle_check(base, harness["dump"])
        check_s = time.monotonic() - t0
        failures = res["failures"] + [
            {"phase": "oracle", "query": q, "error": "OracleMismatch", "message": m}
            for q, m in sorted(oracle_bad.items())]
        attempted = res["attempted"] + checked
        produced = res["per_layer" if args.trace else "end_to_end"]
        wrong = [m["name"] for m in wanted
                 if produced.get(m["name"], {}).get("unit") != m["unit"]]
        if wrong:
            raise RuntimeError(f"harness did not produce {wrong} with BENCHMARK.json's units")
        metrics = {m["name"]: {"value": produced[m["name"]]["value"], "unit": m["unit"]}
                   for m in wanted}
        details = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "smoke": args.smoke, "queries": res["queries"],
            "host": {"nproc": cores(), "loadavg_start": load_start,
                     "loadavg_end": os.getloadavg(), "java": res["java_version"],
                     "spark": res["spark_version"], "git_commit": git_commit(),
                     "source_sha256": source_digest},
            "build_s": build_s, "built": built, "harness_jvm_s": jvm_s,
            "oracle_check_s": check_s,
            "inputs": {"generate_s": gen_s, "rows": rows},
            "samples": {k: {x: y for x, y in v.items() if x not in ("value", "unit")}
                        for k, v in produced.items()},
            "jvm_boot_s": res["jvm_boot_s"], "passes": res["passes"],
            "query_median_s": res["query_median_s"], "warm_query_s": res["warm_query_s"],
            "probe_s": res["probe_s"], "failed_ratio": len(failures) / attempted,
            "failures": failures, "oracle_checked": checked,
            "probe_sizes": res["probe_sizes"],
            "extra_metrics": {k: v["value"] for k, v in produced.items() if k not in metrics},
        }
        stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
        with open(stem + ".json", "w") as fh:
            json.dump({**details, "metrics": metrics, "harness": res}, fh)
        print(json.dumps(details))
        print(json.dumps({"correct": not failures, "attempted": attempted,
                          "failed": len(failures), "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    try:
        main()
    except (RuntimeError, OSError, subprocess.SubprocessError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(1)

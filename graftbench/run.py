"""graft's benchmark of record.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds graft and the benchmark harness once
(`build.py`), makes the workload's inputs from the seed (`gen.py`), runs
one JVM with Spark local[4] and a single client thread for the measured
phase (whole blocks of 100 operations, at least `--seconds`), checks every
result in DuckDB (`oracle.py`), and prints the metrics as the last line
of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

`--trace 0` prints the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones (every other operation of each kind traced; the
traced against the untraced ones give the tracing overhead).
"""
import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

RUN_LIMIT_S = 170
# generous upper bounds on operations per measured second, so the seeded
# stream never runs dry
OPS_PER_S = {"commit_mix": 30, "lake_reads": 40}


def load_avg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def metric_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return [m["name"] for m in b["end_to_end"]], [m["name"] for m in b["per_layer"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=build.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    e2e_names, layer_names = metric_names()
    cp = build.build()
    deadline = time.time() + RUN_LIMIT_S  # the build may take long; the run may not

    run_dir = os.path.join(ROOT, ".bench_build", "runs",
                           f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        block = build.BLOCK
        n_ops = block * (int(OPS_PER_S[a.workload] * a.seconds) // block + 2)
        plan = gen.generate(a.workload, a.seed, os.path.join(run_dir, "in"), n_ops)
        load_before = load_avg()
        build.run_jvm(cp, a.workload, a.seconds, a.trace, block, run_dir, deadline,
                      build.CDS_USE)
        res = metrics.load(os.path.join(run_dir, "out", "result.json"))
        wrong, final = oracle.check(res, plan, run_dir)
        failed_ids = {o["id"] for o in res["ops"] if not o["ok"]} | set(wrong)
        attempted = len(res["ops"])
        failed = len(failed_ids) + len(final)
        if a.trace:
            out, tail = metrics.per_layer(res, build.CORES), None
            names = layer_names
        else:
            m_failed = sum(1 for o in metrics.measured(res) if o["id"] in failed_ids)
            out, tail = metrics.end_to_end(res, m_failed + len(final))
            names = e2e_names
        missing = [n for n in names if n not in out]
        if missing:
            raise SystemExit(f"graftbench: metrics not computed: {missing}")
        for w in wrong[:5]:
            print(f"wrong result: op {w}", file=sys.stderr)
        for f in final:
            print(f"wrong final state: {f}", file=sys.stderr)
        info = {"workload": a.workload, "seed": a.seed, "cores": build.CORES, "heap": build.HEAP,
                "load_before": load_before, "load_after": load_avg(),
                "canary_before": res["canary_before"], "canary_after": res["canary_after"],
                "setup": res["setup"], "wall_s": round(time.time() - start, 2)}
        if tail:
            info.update(p90_samples=tail["samples"], p90_beyond=tail["beyond_p90"])
        print("info " + json.dumps(info))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": out[n][0], "unit": out[n][1]} for n in names}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()

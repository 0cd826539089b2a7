#!/usr/bin/env python3
"""Steadiness of the benchmark: run one workload N times and print, for
each end-to-end metric, the median, the quartiles and the spread (the
distance between the quartiles as a share of the median) beside the
metric's bound in BENCHMARK.json. A spread under a third of the bound
is steady enough. Also prints the share of failed operations per run.

    python3 perfbench/steady.py --workload dashboards --runs 10 [--seed0 1]

With --counts it instead makes two traced runs of one seed and checks
that the counts that must repeat exactly (queries.build_jobs,
operators.exec_jobs, streaming.batches) do.

Run it from the root of a checkout; runs are made one after another.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time

EXACT = ["queries.build_jobs", "operators.exec_jobs", "streaming.batches"]


def run(workload, seed, seconds, trace):
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run with seed {seed} failed")
    lines = p.stdout.strip().splitlines()
    info = dict(json.loads(lines[-2])["info"], run_wall_s=time.monotonic() - t0)
    return info, json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--counts", action="store_true")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]

    if a.counts:
        res = [run(a.workload, a.seed0, seconds, 1)[1] for _ in range(2)]
        ok = True
        for name in EXACT:
            v = [r["metrics"][name]["value"] for r in res]
            same = v[0] == v[1]
            ok &= same
            print(f"{name:24s} {v[0]!r:>12} {v[1]!r:>12} "
                  f"{'same' if same else 'DIFFERENT'}")
        raise SystemExit(0 if ok else 1)

    values, shares = {}, []
    for i in range(a.runs):
        seed = a.seed0 + i
        info, r = run(a.workload, seed, seconds, 0)
        shares.append(r["failed"] / r["attempted"])
        for k, m in r["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed}: " + " ".join(
            f"{k}={m['value']:.4g}" for k, m in r["metrics"].items())
            + f" failed={r['failed']}/{r['attempted']}"
            + f" foreign_cpu_share={info['noise']['foreign_cpu_share']:.3f}"
            + f" wall_s={info['run_wall_s']:.1f}",
            flush=True)
    print(f"\n{'metric':22s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'spread':>8s} {'bound':>6s}")
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        q1, med, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        flag = "" if spread < m["bound"] / 3 else "  <-- over a third of the bound"
        print(f"{m['name']:22s} {med:12.4f} {q1:12.4f} {q3:12.4f} "
              f"{spread:8.3f} {m['bound']:6.2f}{flag}")
    print(f"failed share per run: {sorted(set(shares))}")


if __name__ == "__main__":
    main()

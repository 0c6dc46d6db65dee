#!/usr/bin/env python3
"""Steadiness report for the pipeline benchmark.

    python3 pipebench/steadiness.py --runs 10 [--workloads live_pipeline,...]
        [--seed0 1000] [--traced] [--gate-check] [--out FILE]

Runs each workload `--runs` times untraced, each with its own seed, and
reports per end-to-end metric the median, the quartiles
(`statistics.quantiles(values, n=4)`) and their distance as a share of the
median, against the metric's bound in BENCHMARK.json; a spread above a third
of the bound is flagged. `--traced` adds one traced run per workload and
reports the tracing overhead (traced value / untraced median - 1).
`--gate-check` runs each workload once with `--break-expected` and checks
that the correctness gate fails it.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace, extra=()):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           *extra]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf"),
            "values": values}


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--workloads")
    p.add_argument("--seed0", type=int, default=1000)
    p.add_argument("--traced", action="store_true")
    p.add_argument("--gate-check", action="store_true")
    p.add_argument("--out")
    a = p.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    report = {"run_seconds": seconds, "runs": a.runs, "workloads": {}}
    ok = True

    for w in names:
        results = []
        for i in range(a.runs):
            res = run(w, a.seed0 + i, seconds, 0)
            if res is None or not res["correct"]:
                print(f"{w} seed {a.seed0 + i}: run failed or incorrect: {res}", file=sys.stderr)
                ok = False
                continue
            results.append(res)
            print(f"{w} seed {a.seed0 + i}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), file=sys.stderr)
        entry = {"metrics": {}}
        for m in bounds:
            vals = [r["metrics"][m]["value"] for r in results if m in r["metrics"]]
            if len(vals) < 2:
                continue
            s = spread(vals)
            s["bound"] = bounds[m]
            s["flag"] = s["spread"] > bounds[m] / 3
            entry["metrics"][m] = s
            print(f"{w:14s} {m:18s} median {s['median']:12.4f}  "
                  f"IQR/median {s['spread']:.4f}  bound {bounds[m]}"
                  f"{'  ABOVE bound/3' if s['flag'] else ''}")
        if a.traced:
            t = run(w, a.seed0, seconds, 1)
            if t is None:
                ok = False
            else:
                entry["traced"] = {k: v["value"] for k, v in t["metrics"].items()}
                entry["tracing_overhead"] = {
                    m: t["metrics"][f"traced.{m}"]["value"] / entry["metrics"][m]["median"] - 1
                    for m in entry["metrics"] if f"traced.{m}" in t["metrics"]}
                print(f"{w:14s} tracing overhead " + ", ".join(
                    f"{m} {v:+.3f}" for m, v in entry["tracing_overhead"].items()))
        if a.gate_check:
            g = run(w, a.seed0, seconds, 0, ["--break-expected"])
            entry["gate_check_fails_run"] = g is not None and not g["correct"] and g["failed"] > 0
            ok &= entry["gate_check_fails_run"]
            print(f"{w:14s} broken expectation fails the run: {entry['gate_check_fails_run']}")
        report["workloads"][w] = entry

    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
            f.write("\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Steadiness study: runs every workload for --forks forks (one fork = one
`run.py` process, each with its own seed) in each of --sets separate sets,
then two traced runs per workload on one seed, and writes per metric the
fork-to-fork median, quartiles and spread, whether the sets agree within
the bounds in BENCHMARK.json, and whether the traced count metrics repeat.

    python3 perfbench/study.py --forks 10 --sets 2 \
        --out perfbench/results/steadiness.json
"""
import argparse
import json
import re
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(ROOT / "perfbench"))
import build  # noqa: E402
COUNT_UNITS = ("count",)


def run(workload, seed, seconds, trace):
    """One fork; returns (result, run seconds, cold first-iteration wall,
    cold set-up, (warm-up, timed) iteration counts)."""
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    cold = re.search(r"iteration 0 \S+ wall=([\d.]+)s", p.stderr)
    cold_setup = re.search(r"set-ups ([\d.]+)", p.stderr)
    counts = (len(re.findall(r" warm-up wall=", p.stderr)),
              len(re.findall(r" timed wall=", p.stderr)))
    return (res, time.time() - t0, float(cold.group(1)) if cold else None,
            float(cold_setup.group(1)) if cold_setup else None, counts)


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"values": values, "median": statistics.median(values),
            "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--forks", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--trace-seed", type=int, default=7)
    ap.add_argument("--out", default="perfbench/results/steadiness.json")
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = a.workloads.split(",") if a.workloads else [
        w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]
    report = {"forks": a.forks, "sets": a.sets, "bounds": bounds,
              "workloads": {}}
    for w in workloads:
        report["workloads"][w] = {"sets": [], "run_s": [], "cold_wall_s": [],
                                  "cold_setup_s": [], "iterations": None}
    for s in range(a.sets):
        for w in workloads:
            per_metric, fails, attempted = {}, [], []
            for f in range(a.forks):
                res, dt, cold, cold_setup, iters = run(
                    w, 100 * s + f + 1, seconds, 0)
                report["workloads"][w]["iterations"] = {
                    "warmup": iters[0], "timed": iters[1]}
                report["workloads"][w]["run_s"].append(round(dt, 1))
                report["workloads"][w]["cold_wall_s"].append(cold)
                report["workloads"][w]["cold_setup_s"].append(cold_setup)
                if res is None or not res["correct"]:
                    print(f"{w} set {s} fork {f}: FAILED run {res}", flush=True)
                    continue
                fails.append(res["failed"])
                attempted.append(res["attempted"])
                for k, v in res["metrics"].items():
                    per_metric.setdefault(k, []).append(v["value"])
                print(f"{w} set {s} fork {f}: {dt:.0f}s " + " ".join(
                    f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                    flush=True)
            report["workloads"][w]["sets"].append({
                "attempted": attempted, "failed": fails,
                "metrics": {k: summary(v) for k, v in per_metric.items()}})
    for w in workloads:
        sets = report["workloads"][w]["sets"]
        verdict = {}
        for k, bound in bounds.items():
            meds = [st["metrics"][k]["median"] for st in sets]
            spreads = [st["metrics"][k]["spread"] for st in sets]
            verdict[k] = {
                "spreads": spreads,
                "spread_within_bound": all(x <= bound for x in spreads),
                "spread_within_third_of_bound": all(
                    x < bound / 3 for x in spreads),
                "median_drift": max(meds) / min(meds) - 1,
                "drift_within_bound": max(meds) / min(meds) - 1 <= bound}
        report["workloads"][w]["verdict"] = verdict
        traced = [run(w, a.trace_seed, seconds, 1)[0] for _ in range(2)]
        trace_json = build.build_dir() / "trace" / f"{w}-seed{a.trace_seed}.json"
        if trace_json.is_file():
            traced_wall = json.loads(trace_json.read_text())["traced_wall_s"]
            untraced = statistics.median(
                st["metrics"]["wall_s"]["median"] for st in sets)
            report["workloads"][w]["tracing_overhead"] = {
                "traced_wall_s": traced_wall, "untraced_median_wall_s": untraced,
                "share": traced_wall / untraced - 1}
        if all(traced):
            counts = {k: [t["metrics"][k]["value"] for t in traced]
                      for k, v in traced[0]["metrics"].items()
                      if v["unit"] in COUNT_UNITS}
            report["workloads"][w]["traced_counts"] = counts
            report["workloads"][w]["traced_counts_repeat"] = all(
                x[0] == x[1] for x in counts.values())
            report["workloads"][w]["traced"] = traced[0]["metrics"]
        else:
            report["workloads"][w]["traced_counts_repeat"] = False
        print(w, json.dumps(verdict), flush=True)
    out = ROOT / a.out
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(report, indent=1) + "\n")


if __name__ == "__main__":
    main()

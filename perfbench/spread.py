#!/usr/bin/env python3
"""Repeat the benchmark over seeds and report each metric's spread.

    python3 perfbench/spread.py [--runs 10] [--seed0 1] [--trace 0|1]
                                [--record perfbench/baseline.json] [workload ...]

For every workload (default: all in BENCHMARK.json) runs run.py once per
seed, then prints for each metric the median and the distance between
the first and third quartile as a share of the median (the spread the
bounds in BENCHMARK.json are set against). --record also writes every
run's values, seed, loadavg at start and end and CPU steal share to the given file.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workloads", nargs="*")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--record")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = a.workloads or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    record = {"run_seconds": spec["run_seconds"], "trace": a.trace, "workloads": {}}
    ok = True
    for w in workloads:
        runs = []
        for i in range(a.runs):
            seed = a.seed0 + i
            p = subprocess.run(["python3", "perfbench/run.py", "--workload", w, "--seed", str(seed),
                                "--seconds", str(spec["run_seconds"]), "--trace", str(a.trace)],
                               cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = p.stdout.strip().splitlines()
            detail, result = json.loads(lines[-2]), json.loads(lines[-1])
            ok &= p.returncode == 0 and result["correct"]
            runs.append({"seed": seed, "exit": p.returncode, "loadavg_start_end": detail["loadavg"],
                         "steal_pct": detail["steal_pct"],
                         "wall_s": round(detail["wall_s"], 1), "correct": result["correct"],
                         "attempted": result["attempted"], "failed": result["failed"],
                         "metrics": {k: v["value"] for k, v in result["metrics"].items()}})
            print(f"{w} seed={seed} exit={p.returncode} wall={detail['wall_s']:.1f}s "
                  f"load={detail['loadavg']} steal={detail['steal_pct']}% " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
                  file=sys.stderr, flush=True)
        summary = {}
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name] for r in runs]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
            spread = (q[2] - q[0]) / med if med else 0.0
            summary[name] = {"median": med, "q1": q[0], "q3": q[2], "spread": spread}
            bound = bounds.get(name)
            flag = "" if bound is None else f" bound={bound} {'OK' if spread <= bound / 3 else 'WIDE'}"
            print(f"{w:18s} {name:28s} median={med:12.4f} spread={spread:.3f}{flag}")
        record["workloads"][w] = {"runs": runs, "summary": summary}
    if a.record:
        with open(a.record, "w") as fh:
            json.dump(record, fh, indent=1, sort_keys=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

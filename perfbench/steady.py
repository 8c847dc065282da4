#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/steady.py [workload ...]

Runs the benchmark command of BENCHMARK.json on each named workload (all
of them by default) with seeds 1 to 10, `run_seconds` and `--trace 0`, and
prints per metric the median and the quartile spread (third minus first
quartile, as a share of the median) next to the metric's bound. Run from
the repository root.
"""
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

SEEDS = range(1, 11)


def spread(bench, workload):
    values = {}
    for seed in SEEDS:
        cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", "0"]
        out = subprocess.run(cmd, capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"{workload} seed {seed}: exit {out.returncode}\n"
                  f"{out.stdout[-2000:]}{out.stderr[-2000:]}")
            sys.exit(1)
        res = json.loads(lines[-1])
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"{workload} seed {seed}: " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in sorted(res["metrics"].items())),
            flush=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    print(f"{'metric':28} {'median':>12} {'spread':>8} {'bound':>6}")
    for k, vs in sorted(values.items()):
        print(f"{k:28} {stats.median(vs):12.5g} "
              f"{stats.quartile_spread(vs):8.3f} {bounds[k]:>6}")


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    for workload in sys.argv[1:] or [w["name"] for w in bench["workloads"]]:
        spread(bench, workload)


if __name__ == "__main__":
    main()

"""Steadiness check: run the benchmark on several seeds and report, for every
end-to-end metric, the quartile spread (Q3 - Q1) / median and the share of
the bound in BENCHMARK.json it uses.

    python3 perfbench/steady.py --workloads bam_io,vcf_io --seeds 1-10 \\
        --out perfbench/evidence/steady.json

Run from the root of a checkout. Before each run the repository's CPU canary
(``bench.cpu_canary``) is timed in this process; each run's full result
line, its wall time and that canary are kept in the output file.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds_arg(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in spec.split(",")]


def spread(values: list[float]) -> float:
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    sys.path.insert(0, os.getcwd())
    from bench import cpu_canary

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {"run_seconds": spec["run_seconds"], "workloads": {}}
    for wl in args.workloads.split(","):
        runs = []
        for seed in seeds_arg(args.seeds):
            cmd = spec["command"] + [
                "--workload", wl, "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0",
            ]
            canary = cpu_canary()
            t0 = time.time()
            p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            wall = time.time() - t0
            if p.returncode != 0:
                print(p.stderr[-3000:], file=sys.stderr)
                raise SystemExit(f"{wl} seed {seed}: exit {p.returncode}")
            result = json.loads(p.stdout.strip().splitlines()[-1])
            runs.append({"seed": seed, "wall_s": wall, "canary_s": canary, "result": result})
            vals = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
            print(f"{wl} seed={seed} canary={canary:.3f}s wall={wall:.1f}s correct={result['correct']} {vals}", flush=True)
        summary = {}
        for name in bounds:
            vals = [r["result"]["metrics"][name]["value"] for r in runs]
            sp = spread(vals) if len(vals) >= 2 else None
            summary[name] = {
                "median": statistics.median(vals),
                "spread": sp,
                "bound": bounds[name],
                "spread_over_bound": sp / bounds[name] if sp is not None else None,
            }
            print(f"  {name}: median={statistics.median(vals):.4f} spread={sp:.4f} bound={bounds[name]}", flush=True)
        report["workloads"][wl] = {"runs": runs, "summary": summary}
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())

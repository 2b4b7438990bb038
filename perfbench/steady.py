"""Steadiness check: run the benchmark on several seeds per workload,
one process after another, and report each end-to-end metric's median,
quartiles and quartile spread (as a share of the median) against the
bounds in BENCHMARK.json.

    python3 perfbench/steady.py [--first-seed N]

Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import spread  # noqa: E402

RUNS = 10


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=180, check=True)
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    result["stamp"] = json.loads(next(line[len("# run "):] for line in lines if line.startswith("# run ")))
    return result


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    ok = True
    for workload in (w["name"] for w in spec["workloads"]):
        runs = []
        for seed in range(args.first_seed, args.first_seed + RUNS):
            r = run_once(workload, seed, spec["run_seconds"])
            runs.append(r)
            print(f"{workload} seed={seed} failed={r['failed']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
                  + f" load={r['stamp']['loadavg_before']:.2f}->{r['stamp']['loadavg_after']:.2f}", flush=True)
        for name, bound in bounds.items():
            s = spread([r["metrics"][name]["value"] for r in runs])
            verdict = "ok" if name == "setup_s" or s["iqr_share"] < bound / 3 else "WIDE"
            ok &= verdict == "ok"
            print(f"  {workload:15s} {name:10s} median={s['median']:.4g} q1={s['q1']:.4g} q3={s['q3']:.4g} "
                  f"spread={s['iqr_share']:.3f} bound={bound} {verdict}")
        ok &= all(r["failed"] == 0 for r in runs)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

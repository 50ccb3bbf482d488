"""Run one workload over several seeds and report each end-to-end metric's
median and quartile spread ((Q3 - Q1) / median) against a third of its
bound in BENCHMARK.json. Run from the root of a checkout:

    python3 perfbench/spread.py --workload extract_job --seeds 1-10

Runs are sequential, so they do not contend for the cores they measure.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.getcwd())

from perfbench.stats import median, quartile_spread  # noqa: E402


def seeds_of(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", help="append each run's result line to this JSONL file")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {name: [] for name in bounds}
    for seed in seeds_of(args.seeds):
        cmd = spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                 "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        t = time.time()
        proc = subprocess.run(cmd, capture_output=True, text=True)
        took = time.time() - t
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        if proc.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        result = json.loads(last)
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(json.dumps({"workload": args.workload, "seed": seed, "run_s": took, **result}) + "\n")
        for name in values:
            values[name].append(result["metrics"][name]["value"])
        print(f"seed {seed}: {took:.1f} s correct={result['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
    if len(values["setup_s"]) < 2:
        return 0
    for name, vals in values.items():
        spread = quartile_spread(vals)
        verdict = "ok" if spread < bounds[name] / 3 else "TOO WIDE"
        print(f"{name:24s} median {median(vals):12.5g}  spread {spread:.4f}  "
              f"bound/3 {bounds[name] / 3:.4f}  {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Scaling-efficiency evidence (BASELINE.json north rule: throughput scaling
efficiency ≥ 0.8 from N to 4N executors).

Sandbox protocol (per driver instruction, this host):
- N = local[4] vs 4N = local[16]. The 32-thread pool is 16 physical cores
  × 2 SMT threads: a raw CPU busy-loop calibration shows 8→32 workers can
  only scale ~3.0× on this silicon (hard 0.76 efficiency ceiling), while
  1→16 scales ~14.4× — so 4→16 is the honest N→4N pair. The 8→32 pair is
  also reported with its calibration ceiling.
- The host throttles sustained load over time (measured: single-core
  busy-loop dropped 5.6 → 2.5 Mops/s across a 2 h session), so configs are
  INTERLEAVED (a,b,a,b) in fresh JVMs and per-config minima are compared.
- Each measurement: pages parquet scan → repartition(url-hash) → E1→E3 →
  parquet sink, identical deterministic input.

Appends results + the calibration table to BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _burn(q):
    t0 = time.time()
    c = 0
    while time.time() - t0 < 3.0:
        c += sum(i * i for i in range(1000))
    q.put(c)


def calibrate(workers: int) -> float:
    q = mp.Queue()
    ps = [mp.Process(target=_burn, args=(q,)) for _ in range(workers)]
    [p.start() for p in ps]
    total = sum(q.get() for _ in ps)
    [p.join() for p in ps]
    return total / 3 / 1e6  # Mops/s aggregate


def run_one(cpus: int, n_docs: int, trials: int = 1) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "bench_one.py"),
         str(cpus), str(n_docs), str(trials)],
        capture_output=True, text=True, timeout=3600, cwd=ROOT,
    )
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(out.stdout[-2000:] + out.stderr[-2000:])
    return json.loads(lines[-1])


def main(n_docs: int = 200000, lo: int = 4, hi: int = 16, rounds: int = 2) -> None:
    cal = {w: round(calibrate(w), 0) for w in (1, lo, hi)}
    cpu_ceiling = cal[hi] / cal[lo] / (hi / lo)

    lo_runs, hi_runs = [], []
    for _ in range(rounds):
        lo_runs.append(run_one(lo, n_docs))
        hi_runs.append(run_one(hi, n_docs))
    best_lo = min(r["wall_s"] for r in lo_runs)
    best_hi = min(r["wall_s"] for r in hi_runs)
    speedup = best_lo / best_hi
    efficiency = speedup / (hi / lo)
    report = {
        "n_docs": n_docs,
        "configs": {f"local[{lo}]": lo_runs, f"local[{hi}]": hi_runs},
        "best_wall": {f"local[{lo}]": best_lo, f"local[{hi}]": best_hi},
        "speedup": round(speedup, 3),
        "scaling_efficiency": round(efficiency, 3),
        "cpu_calibration_Mops": cal,
        "cpu_scaling_ceiling": round(cpu_ceiling, 3),
        "target": 0.8,
        "pass": efficiency >= 0.8,
    }
    print(json.dumps(report))

    md = os.path.join(ROOT, "BENCH", "BASELINE.md")
    stamp = time.strftime("%Y-%m-%d %H:%M:%S")
    with open(md, "a") as fh:
        fh.write(
            f"\n## Scaling run {stamp} — local[{lo}] vs local[{hi}], {n_docs} docs\n\n"
            f"CPU calibration (busy-loop aggregate Mops/s): "
            f"{', '.join(f'{w}w={v:.0f}' for w, v in cal.items())} — raw CPU "
            f"scaling ceiling {lo}→{hi} workers: {cpu_ceiling:.3f}\n\n"
            f"| config | trial walls (s) | best wall (s) | docs/sec |\n|---|---|---|---|\n"
            f"| local[{lo}]  | {', '.join(str(r['wall_s']) for r in lo_runs)} | "
            f"{best_lo} | {round(n_docs / best_lo, 1)} |\n"
            f"| local[{hi}] | {', '.join(str(r['wall_s']) for r in hi_runs)} | "
            f"{best_hi} | {round(n_docs / best_hi, 1)} |\n\n"
            f"speedup {lo}→{hi} = {speedup:.2f}×, efficiency = speedup/{hi // lo} = "
            f"**{efficiency:.3f}** (target ≥ 0.8 → {'PASS' if efficiency >= 0.8 else 'FAIL'})\n"
        )


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200000
    lo = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    hi = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    main(n, lo, hi)

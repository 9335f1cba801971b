"""Run the benchmark on several seeds and report each end-to-end
metric's median and quartile spread against its bound.

    python3 perfbench/spread.py --workload search,ingest --seeds 1-10

With several workloads the runs alternate between them, seed by seed.

The spread is (Q3 - Q1) / median over the runs, with the quartiles of
``statistics.quantiles(values, n=4)``; the benchmark aims to keep it
below a third of the metric's bound in BENCHMARK.json.  Raw results go
to ``.perfbench/spread/<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.stats import quartile_spread  # noqa: E402


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True,
                   help="comma-separated workload names")
    p.add_argument("--seeds", default="1-10")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    out_dir = os.path.join(ROOT, ".perfbench", "spread")
    os.makedirs(out_dir, exist_ok=True)
    workloads = args.workload.split(",")
    runs: dict[str, list] = {w: [] for w in workloads}
    for seed, wl in ((s, w) for s in _seeds(args.seeds) for w in workloads):
        cmd = bench["command"] + [
            "--workload", wl, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]),
            "--trace", "0"]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                              timeout=600)
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        res["seed"], res["wall_s"] = seed, wall
        res["notes"] = [line for line in proc.stdout.splitlines()
                        if line.startswith("#")]
        runs[wl].append(res)
        with open(os.path.join(out_dir, f"{wl}.jsonl"), "a") as f:
            f.write(json.dumps(res) + "\n")
        print(f"{wl} seed {seed}: wall {wall:.1f} s correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']}",
              flush=True)
    for wl, rs in runs.items():
        if len(rs) < 2:
            continue
        print(f"\n{wl}: {'metric':28} {'median':>12} {'spread':>8} "
              f"{'bound':>6}")
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in rs]
            spread = quartile_spread(vals)
            flag = "" if spread < m["bound"] / 3 else (
                " <bound" if spread < m["bound"] else " OVER")
            print(f"{wl}: {m['name']:28} {statistics.median(vals):12.5g} "
                  f"{spread:8.3f} {m['bound']:6.2f}{flag}")
        walls = [r["wall_s"] for r in rs]
        print(f"{wl}: wall per run: median {statistics.median(walls):.1f} s,"
              f" max {max(walls):.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())

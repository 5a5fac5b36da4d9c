"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/spread.py --runs 10 [--workloads recsys_batch,corpus_serve]

Runs each workload once per seed (seeds 1..runs, or from --first-seed),
one run at a time, alternating the workloads so a change of host speed
over the sequence does not land on one of them. Prints for every
end-to-end metric the median and the distance between the first and
third quartile as a share of the median, next to the metric's bound from
BENCHMARK.json, and the wall time of every run and what 4 + 22 runs per
workload would take. Results are appended to .perfbench_run/spread.jsonl.
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


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out_path = os.path.join(ROOT, ".perfbench_run", "spread.jsonl")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    walls: dict[str, list[float]] = {}
    values: dict[str, dict[str, list[float]]] = {}
    workloads = args.workloads.split(",")
    for seed in range(args.first_seed, args.first_seed + args.runs):
        for wl in workloads:
            cmd = [*bench["command"], "--workload", wl, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            wall = time.perf_counter() - t0
            walls.setdefault(wl, []).append(wall)
            last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
            res = json.loads(last) if last.startswith("{") else {}
            with open(out_path, "a") as f:
                f.write(json.dumps({"workload": wl, "seed": seed, "wall_s": wall,
                                    "exit": proc.returncode, "result": res}) + "\n")
            print(f"{wl} seed {seed}: exit {proc.returncode} wall {wall:.1f}s "
                  f"correct {res.get('correct')}", flush=True)
            if proc.returncode != 0:
                print(proc.stderr[-3000:], file=sys.stderr)
                continue
            for name, m in res["metrics"].items():
                values.setdefault(wl, {}).setdefault(name, []).append(m["value"])
    for wl in workloads:
        for name, vals in values.get(wl, {}).items():
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            bound = bounds.get(name)
            flag = "" if bound is None or spread < bound / 3 else "  <-- above bound/3"
            print(f"  {wl} {name}: median {med:.4g} iqr/median {spread:.4f} "
                  f"bound {bound}{flag}")
    per_wl = {wl: statistics.mean(w) for wl, w in walls.items()}
    total = sum(22 * w for w in per_wl.values()) + 4 * max(per_wl.values())
    print(f"mean wall per run: {per_wl}; 4 + 22 x workloads runs: {total:.0f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())

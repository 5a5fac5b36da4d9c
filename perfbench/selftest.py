"""Self-test of the benchmark at tiny size.

    python3 perfbench/selftest.py

Checks, for every workload in BENCHMARK.json:

- an untraced run passes its gates and prints every end-to-end metric,
  with its unit, both as a ``name: value unit`` line and in the JSON line;
- a traced run does the same for every per-layer metric and writes its
  spans;
- each deliberate corruption of a result trips the gate that guards it and
  makes the run exit non-zero.

It also checks that the command fails, without printing a result, in a
directory holding only BENCHMARK.json and the benchmark's own files.
Takes several minutes: every run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# corruption -> (workload, gate it must trip)
CORRUPTIONS = {
    "shuffle_predictions": ("recsys_batch", "item_cf_predictions_match_duckdb"),
    "drop_neighbors": ("recsys_batch", "item_cf_neighbors_match_duckdb"),
    "shuffle_neighbors": ("corpus_serve", "ann_recall_at_10"),
    "keep_duplicates": ("corpus_serve", "curated_survivors_are_the_unique_docs"),
}


def run(bench: dict, workload: str, trace: int, cwd: str = ROOT, corrupt: str | None = None):
    cmd = [*bench["command"], "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--size", "tiny"]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return proc, lines, result


def check_metrics(metrics: list[dict], lines: list[str], result: dict) -> list[str]:
    errors = []
    for m in metrics:
        got = result["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            errors.append(f"{m['name']}: missing or wrong unit in JSON ({got})")
        if not any(ln.startswith(f"{m['name']}: ") and ln.endswith(f" {m['unit']}") for ln in lines):
            errors.append(f"{m['name']}: no '{m['name']}: <value> {m['unit']}' line")
    extra = set(result["metrics"]) - {m["name"] for m in metrics}
    if extra:
        errors.append(f"metrics not in BENCHMARK.json: {sorted(extra)}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failures: list[str] = []

    for wl in (w["name"] for w in bench["workloads"]):
        for trace, metrics in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            proc, lines, result = run(bench, wl, trace)
            tag = f"{wl} trace={trace}"
            if proc.returncode != 0 or not result or not result["correct"]:
                failures.append(f"{tag}: exit {proc.returncode}\n{proc.stdout[-2000:]}{proc.stderr[-2000:]}")
                continue
            failures += [f"{tag}: {e}" for e in check_metrics(metrics, lines, result)]
            spans = os.path.join(ROOT, ".perfbench_run", f"{wl}-tiny-s7-t1", "spans.jsonl")
            if trace and not os.path.getsize(spans):
                failures.append(f"{tag}: no spans written")
            print(f"ok  {tag}", flush=True)

    for corrupt, (wl, gate) in CORRUPTIONS.items():
        proc, lines, result = run(bench, wl, 0, corrupt=corrupt)
        tripped = f"gate {gate}: FAIL" in lines
        if proc.returncode == 0 or not result or result["correct"] or not tripped:
            failures.append(f"corruption {corrupt}: gate {gate} not tripped (exit {proc.returncode})")
        else:
            print(f"ok  corruption {corrupt} trips {gate}", flush=True)

    bare = os.path.join(ROOT, ".perfbench_run", "selftest_bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc, lines, result = run(bench, bench["workloads"][0]["name"], 0, cwd=bare)
    if proc.returncode == 0 or result is not None:
        failures.append(f"bare directory: exit {proc.returncode}, result {result}")
    else:
        print("ok  fails without the engine", flush=True)
    shutil.rmtree(bare)

    for f in failures:
        print("FAIL", f)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

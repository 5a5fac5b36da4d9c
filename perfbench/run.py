"""Engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload recsys_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from the seed
under ``.perfbench_run/``, drives the engine's public functions on them,
checks the outputs, and prints the workload's figures by name followed by
one JSON line: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones in BENCHMARK.json; with
``--trace 1`` they are the per-layer ones, and spans plus the per-layer
numbers are written to the run directory. The exit code is 0 only if
every correctness gate passed.

``--size tiny`` and ``--corrupt`` exist for ``selftest.py``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(ROOT, ".perfbench_run")
DRIVER_MEMORY = "2g"
WORKLOADS = ("recsys_batch", "corpus_serve")
CORRUPTIONS = ("shuffle_predictions", "drop_neighbors", "shuffle_neighbors", "keep_duplicates")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--corrupt", choices=CORRUPTIONS)
    return ap.parse_args(argv)


def pin_environment(run_dir: str) -> dict:
    """Deployment settings the engine reads, pinned so every run sees the
    same ones, plus the import path Python workers need."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    return env


def spark_conf(run_dir: str, traced: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if traced:
        events = os.path.join(run_dir, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_spark(spark) -> None:
    """Stops the session, then the Spark JVM, and waits for it to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def source_hash() -> str:
    """Hash of the Python files of the engine package and of the benchmark,
    so untraced figures are reused only by traced runs of the same code."""
    h = hashlib.sha256()
    for top in ("yelp_recommender_spark", "perfbench"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            for name in sorted(f for f in files if f.endswith(".py")):
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def record_dir(args) -> str:
    return os.path.join(RUNS, "untraced", source_hash(),
                        f"{args.workload}-{args.size}-{args.seconds:g}")


def untraced_figures(args) -> dict:
    """Figures of an untraced run of the same code, workload, size and
    length: the same seed's if recorded, else the median over the recorded
    seeds. With no record, the same-seed untraced run is made now, in a
    child process that ends before this run starts its session (a traced
    run plus its child would not fit one run's time limit every time)."""
    rec = record_dir(args)
    if not os.path.isdir(rec):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", f"{args.seconds:g}",
               "--trace", "0", "--size", args.size]
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, timeout=600)
    runs = {}
    for name in os.listdir(rec):
        with open(os.path.join(rec, name)) as f:
            runs[name] = json.load(f)
    if f"s{args.seed}.json" in runs:
        return runs[f"s{args.seed}.json"]
    return {k: statistics.median(r[k] for r in runs.values()) for k in next(iter(runs.values()))}


def end_to_end(tracer, result, setup_parts, peak_pss_mb) -> dict:
    median = statistics.median
    timed = tracer.first("timed")
    gen_s = setup_parts["gen_s"]
    setup_s = timed["t0"] - T_START - sum(gen_s) + median(gen_s)
    return {
        "setup_s": (setup_s, "s"),
        "build_s": (result.build_s, "s"),
        "call_p50_s": (median(result.call_s), "s"),
        "items_per_s": (median(n / t for n, t in zip(result.call_items, result.call_s)), "1/s"),
        "quality": (result.quality, "ratio"),
        "peak_pss_mb": (peak_pss_mb, "MB"),
    }


def named_figures(args, result, e2e, failed_frac) -> list[tuple[str, float, str]]:
    """The workload's figures under their own names (stdout only)."""
    rep = result.report
    out = [("failed_frac", failed_frac, "ratio"), ("calls", len(result.call_s), "count")]
    if args.workload == "recsys_batch":
        out += [
            ("train_s", result.build_s, "s"),
            ("score_pairs_per_s", e2e["items_per_s"][0], "1/s"),
            ("rmse_item_cf", rep["rmse_item_cf"], "stars"),
            ("rmse_als", rep["rmse_als"], "stars"),
            ("rmse_baseline", rep["rmse_baseline"], "stars"),
        ]
    else:
        out += [
            ("ingest_s", rep["ingest_s"], "s"),
            ("docs_per_s", rep["n_docs"] / rep["ingest_s"], "1/s"),
            ("dup_recall", rep["dup_recall"], "ratio"),
            ("false_dup_frac", rep["false_dup_frac"], "ratio"),
            ("index_build_s", rep["index_build_s"], "s"),
            ("query_p50_s", e2e["call_p50_s"][0], "s"),
            ("queries_per_s", e2e["items_per_s"][0], "1/s"),
            ("recall_at_10", rep["recall_at_10"], "ratio"),
        ]
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "yelp_recommender_spark")):
        print(f"engine package yelp_recommender_spark not found under {ROOT}", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    baseline = untraced_figures(args) if traced else None

    run_dir = os.path.join(RUNS, f"{args.workload}-{args.size}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = pin_environment(run_dir)
    sys.path.insert(0, ROOT)

    from contextlib import nullcontext

    from tracing import (
        MemorySampler,
        StackSampler,
        Tracer,
        attribute_jobs,
        read_event_log,
        write_spans,
    )

    import workloads
    from yelp_recommender_spark.session import get_spark

    tracer = Tracer(args.workload, traced)
    stacks = StackSampler() if traced else nullcontext()
    with MemorySampler() as mem, stacks:
        with tracer.span("session.start"):
            spark = get_spark(extra_conf=spark_conf(run_dir, traced))
        tracer.sc = spark.sparkContext
        ctx = workloads.Ctx(spark, tracer, args.seed, args.seconds, args.size,
                            run_dir, args.corrupt)
        try:
            result = workloads.WORKLOADS[args.workload](ctx)
        finally:
            tracer.sc = None
            stop_spark(spark)

    e2e = end_to_end(tracer, result, ctx.setup_parts, mem.peak_mb)
    failed_gates = [g for g, ok in result.gates.items() if not ok]
    attempted = result.builds + len(result.call_s) + len(result.gates)
    correct = not failed_gates

    if traced:
        import layers

        attribute_jobs(tracer.spans, read_event_log(os.path.join(run_dir, "events")))
        write_spans(os.path.join(run_dir, "spans.jsonl"), tracer.spans)
        metrics = layers.per_layer(tracer.spans, result, int(env["SPARK_GRAFT_CPUS"]),
                                   baseline, stacks.seconds)
        with open(os.path.join(run_dir, "layers.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "env": env,
                       "metrics": metrics, "gates": result.gates}, f, indent=1)
    else:
        metrics = e2e
        if correct:
            os.makedirs(record_dir(args), exist_ok=True)
            with open(os.path.join(record_dir(args), f"s{args.seed}.json"), "w") as f:
                json.dump({"build_s": result.build_s, "call_p50_s": e2e["call_p50_s"][0]}, f)

    print(f"workload: {args.workload}  seed: {args.seed}  trace: {args.trace}  "
          f"cpus: {env['SPARK_GRAFT_CPUS']}  driver_memory: {env['SPARK_DRIVER_MEMORY']}")
    for name, ok in result.gates.items():
        print(f"gate {name}: {'pass' if ok else 'FAIL'}")
    if not traced:
        for name, value, unit in named_figures(args, result, e2e, len(failed_gates) / attempted):
            print(f"{name}: {value:.6g} {unit}")
    for name, (value, unit) in metrics.items():
        print(f"{name}: {value:.6g} {unit}")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": len(failed_gates),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    if not traced:
        shutil.rmtree(run_dir)  # inputs, indexes and shuffle files; nothing is read later
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

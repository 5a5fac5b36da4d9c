"""Spans, Spark event-log counters and memory sampling for the benchmark.

A :class:`Tracer` opens a span around each call the benchmark makes into
the engine. Spans are kept in memory and written out once, at the end of
the run. In traced mode each span also tags the Spark jobs it starts with
a job group; after the session stops, :func:`read_event_log` reads the
event log and :func:`attribute_jobs` charges each job's task counters to
the innermost span that started it. A :class:`StackSampler` charges the
driver's wall time to the engine module running innermost on its stack.
Untraced runs use the same spans for their timings but set no job group,
keep no event log and sample no stacks.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from contextlib import contextmanager

MB = 1024 * 1024


class Tracer:
    """Span recorder. ``sc`` is attached once the session exists."""

    def __init__(self, workload: str, traced: bool):
        self.workload = workload
        self.traced = traced
        self.sc = None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _set_group(self, span_id: int | None) -> None:
        if not (self.traced and self.sc is not None):
            return
        if span_id is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"pb{span_id}", self.spans[span_id]["name"])

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "name": name,
            "parent": parent,
            "workload": self.workload,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        t0 = rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(parent)
            if self.traced and self.sc is not None:
                rec["persisted_mb"] = persisted_mb(self.sc)

    def walls(self, name: str) -> list[float]:
        return [s["wall_s"] for s in self.spans if s["name"] == name and "wall_s" in s]

    def first(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)


def persisted_mb(sc) -> float:
    """Memory + disk held by persisted RDDs/DataFrames right now."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


class MemorySampler:
    """Samples the proportional set size (PSS) of this process and all of
    its descendants (the Spark JVM and its Python workers) from /proc and
    keeps the peak of the sum. PSS splits pages shared between processes,
    such as those of forked Python workers, so the sum counts them once."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:  # process ended between listdir and open
                continue
            ppid = int(stat[stat.rfind(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += _pss_bytes(pid)
            todo.extend(children.get(pid, []))
        self.peak_bytes = max(self.peak_bytes, total)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / MB


class StackSampler:
    """Samples the calling thread's Python stack every ``interval_s`` and
    charges the interval to the innermost frame that lies in the engine
    package, by module (``operators.cc``), or to ``other``. Spark jobs run
    while the driver waits in the action that started them, so a module's
    time includes the jobs its own code starts, whether or not Spark
    records a call site for them."""

    PKG = os.sep + "yelp_recommender_spark" + os.sep

    def __init__(self, interval_s: float = 0.01):
        self.interval_s = interval_s
        self.seconds: dict[str, float] = {}
        self._target = threading.get_ident()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        last = time.perf_counter()
        while not self._stop.wait(self.interval_s):
            now = time.perf_counter()
            frame = sys._current_frames().get(self._target)
            mod = "other"
            while frame is not None:
                path = frame.f_code.co_filename
                if self.PKG in path and path.endswith(".py"):
                    mod = path.split(self.PKG, 1)[1][:-3].replace(os.sep, ".")
                    break
                frame = frame.f_back
            self.seconds[mod] = self.seconds.get(mod, 0.0) + now - last
            last = now


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # process ended
        pass
    return 0


def read_event_log(event_dir: str) -> dict:
    """Jobs and per-stage task counters from the (uncompressed, unrolled)
    Spark event log in ``event_dir``."""
    files = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    with open(files[0]) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start_ms": e["Submission Time"],
                    "end_ms": e["Submission Time"],
                    "stages": e["Stage IDs"],
                }
                for s in e["Stage IDs"]:
                    stage_job[s] = e["Job ID"]
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end_ms"] = e["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                info = e["Task Info"]
                st = stages.setdefault(e["Stage ID"], _zero_counters())
                st["tasks"] += 1
                st["task_s"] += (info["Finish Time"] - info["Launch Time"]) / 1000
                st["gc_s"] += m.get("JVM GC Time", 0) / 1000
                sr = m.get("Shuffle Read Metrics", {})
                st["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / MB
                st["shuffle_write_mb"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
                )
                st["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / MB
                st["records_read"] += m.get("Input Metrics", {}).get("Records Read", 0)
                st["output_mb"] += m.get("Output Metrics", {}).get("Bytes Written", 0) / MB
    for job in jobs.values():
        job["counters"] = _zero_counters()
        for s in job["stages"]:
            if s in stages and stage_job.get(s) is not None:
                _add(job["counters"], stages[s])
                job["counters"]["stages"] += 1
    return {"jobs": jobs}


def _zero_counters() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
        "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
        "records_read": 0, "output_mb": 0.0, "write_task_s": 0.0,
    }


def _add(into: dict, other: dict) -> None:
    for k, v in other.items():
        if k != "stages":
            into[k] += v


def attribute_jobs(spans: list[dict], log: dict) -> None:
    """Adds to each span its own jobs' counters (``self``), the counters
    including child spans (``total``), the busy interval of its jobs, and
    its self time (wall time minus the time child spans cover)."""
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        s["self"] = _zero_counters()
        s["total"] = _zero_counters()
        s["job_intervals"] = []
    for job in log["jobs"].values():
        g = job["group"]
        if not (g and g.startswith("pb") and int(g[2:]) in by_id):
            continue
        s = by_id[int(g[2:])]
        c = dict(job["counters"], jobs=1)
        if c["output_mb"] > 0:
            c["write_task_s"] = c["task_s"]
        _add(s["self"], c)
        s["self"]["stages"] += c["stages"]
        s["job_intervals"].append((job["start_ms"] / 1000, job["end_ms"] / 1000))
    # inclusive counters and job intervals: children before parents
    for s in sorted(spans, key=lambda x: -x["id"]):
        _add(s["total"], s["self"])
        s["total"]["stages"] += s["self"]["stages"]
        s.setdefault("all_intervals", []).extend(s["job_intervals"])
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            _add(p["total"], s["total"])
            p["total"]["stages"] += s["total"]["stages"]
            p.setdefault("all_intervals", []).extend(s["all_intervals"])
    for s in spans:
        kids = [(c["start"], c["end"]) for c in spans if c["parent"] == s["id"]]
        s["self_s"] = s["wall_s"] - _covered(kids, s["start"], s["end"])
        s["job_busy_s"] = _covered(s["all_intervals"], s["start"], s["end"])
        s["driver_only_s"] = max(0.0, s["wall_s"] - s["job_busy_s"])


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def write_spans(path: str, spans: list[dict]) -> None:
    with open(path, "w") as f:
        for s in spans:
            out = {k: v for k, v in s.items() if k not in ("job_intervals", "all_intervals")}
            f.write(json.dumps(out) + "\n")

"""Measurement plumbing shared by the workloads: spans, the process-tree RSS
sampler, host context, Spark event-log parsing and session teardown."""

from __future__ import annotations

import glob
import json
import os
import signal
import subprocess
import threading
import time
from contextlib import contextmanager

import numpy as np


def process_start_epoch() -> float:
    """Wall-clock time this process was started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    age = time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.time() - age


def percentile(values: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if values else 0.0


def best_percentile(n: int, beyond: int = 10) -> int:
    """Highest whole percentile with at least `beyond` of n samples above it."""
    return max(0, int(100 * (n - beyond) / n)) if n > beyond else 0


class Tracer:
    """In-memory spans: (name, op, parent, t0, t1) in wall-clock seconds.
    Spans of one operation share its `op` id. Durations are always returned;
    spans are kept only when tracing is on."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op: str | None = None, parent: str | None = None):
        rec = {"name": name, "op": op, "parent": parent, "t0": time.time()}
        try:
            yield rec
        finally:
            self.add(rec, time.time())

    def add(self, rec: dict, t1: float) -> None:
        """Close span `rec` (name, op, parent, t0) at `t1` and keep it."""
        rec["t1"] = t1
        rec["s"] = t1 - rec["t0"]
        if self.enabled:
            with self._lock:
                self.spans.append(rec)

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part covered by child
        spans (children name their parent)."""
        out: dict[str, float] = {}
        for s in self.spans:
            kids = [
                (max(c["t0"], s["t0"]), min(c["t1"], s["t1"]))
                for c in self.spans
                if c["parent"] == s["name"] and c["op"] in (s["op"], None) and c is not s
            ]
            out[s["name"]] = out.get(s["name"], 0.0) + s["s"] - union_length(kids)
        return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# -- memory ------------------------------------------------------------------


def _parents() -> dict[int, int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                pass
    return parent


def descendants(root: int) -> list[int]:
    parent = _parents()
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def _rss_by_kind(root: int) -> dict[str, int]:
    """RSS in kB of `root` ("driver") and its descendants, summed by kind:
    "jvm" for java processes, "python" for the Spark Python workers."""
    out = {"driver": 0, "jvm": 0, "python": 0}
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                status = f.read()
        except OSError:
            continue
        rss = next((int(x.split()[1]) for x in status.splitlines() if x.startswith("VmRSS:")), 0)
        name = status.split("\n", 1)[0].split()[-1]
        kind = "driver" if pid == root else "jvm" if name == "java" else "python"
        out[kind] += rss
    return out


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the Spark
    JVM and its Python workers), sampled every `interval` seconds."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self.peak_by_kind: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            kinds = _rss_by_kind(me)
            if sum(kinds.values()) > self.peak_kb:
                self.peak_kb, self.peak_by_kind = sum(kinds.values()), kinds
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# -- host context ------------------------------------------------------------


def host_context() -> dict:
    """Ungated context recorded with every run: core count, the Spark CPU
    setting, library versions, and a fixed numpy sentinel timed right
    before the run (same recipe as bench_scaling.host_sentinel: a 1200^3
    GEMM, which uses the default BLAS threads, and 2M single-thread np.sin)."""
    import pyarrow
    import pyspark

    a = np.random.default_rng(0).random((1200, 1200))
    t0 = time.perf_counter()
    a @ a
    gemm_gflops = 2 * 1200**3 / (time.perf_counter() - t0) / 1e9
    x = np.arange(2_000_000, dtype=np.float64)
    t0 = time.perf_counter()
    np.sin(x)
    sin_ms_per_m = (time.perf_counter() - t0) * 1000 / 2
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "sentinel_gemm_gflops": round(gemm_gflops, 2),
        "sentinel_sin_ms_per_m": round(sin_ms_per_m, 3),
    }


# -- Spark session -----------------------------------------------------------


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the gateway JVM, and wait until every process
    this one started (JVM, Python daemon and workers) has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + timeout
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()):
        time.sleep(0.05)


# -- event log ---------------------------------------------------------------

_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def read_event_log(log_dir: str) -> dict:
    """Jobs and stages from the Spark event log of the (single) application
    under `log_dir`. Times are wall-clock seconds."""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "t0": e["Submission Time"] / 1000,
                    "stages": e["Stage IDs"],
                    "callsite": props.get("callSite.short", ""),
                    "desc": props.get("spark.job.description") or "",
                }
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                s = e["Stage Info"]
                acc = {a["Name"]: a.get("Value") for a in s.get("Accumulables", [])}

                def num(name: str) -> float:
                    v = acc.get(name)
                    try:
                        return float(v)
                    except (TypeError, ValueError):
                        return 0.0

                stages[s["Stage ID"]] = {
                    "name": s.get("Stage Name", ""),
                    "t0": s.get("Submission Time", 0) / 1000,
                    "t1": s.get("Completion Time", 0) / 1000,
                    "tasks": s["Number of Tasks"],
                    "cpu_s": num("internal.metrics.executorCpuTime") / 1e9,
                    "run_s": num("internal.metrics.executorRunTime") / 1e3,
                    "input_bytes": num("internal.metrics.input.bytesRead"),
                    "input_records": num("internal.metrics.input.recordsRead"),
                    "shuffle_bytes": num("internal.metrics.shuffle.read.localBytesRead")
                    + num("internal.metrics.shuffle.read.remoteBytesRead"),
                    "python_sent": num(_PY_BYTES[0]),
                    "python_bytes": sum(num(n) for n in _PY_BYTES),
                    "python_run_s": num("time to run Python workers") / 1e3,
                }
    # skipped stages never complete; keep only stages that ran
    for j in jobs.values():
        j["stages"] = [s for s in j["stages"] if s in stages]
    return {"jobs": jobs, "stages": stages}


def is_payload_scan(stage: dict, row_bytes: float) -> bool:
    return (
        stage["input_records"] > 0
        and stage["python_sent"] / stage["input_records"] >= 0.5 * row_bytes
    )


def op_breakdown(log: dict, t0: float, t1: float, row_bytes: float) -> dict:
    """Spark work submitted inside [t0, t1): jobs, stages, tasks, shuffle,
    and the payload-scan stages (stages that send Python workers at least
    half a table row's bytes per input row) with their wall, CPU, input and
    Python bytes and Python worker time."""
    jobs = [j for j in log["jobs"].values() if t0 <= j["t0"] < t1 and "t1" in j]
    st = [log["stages"][s] for j in jobs for s in j["stages"]]
    scans = [s for s in st if is_payload_scan(s, row_bytes)]
    return {
        "jobs": len(jobs),
        "stages": len(st),
        "tasks": sum(s["tasks"] for s in st),
        "shuffle_mb": sum(s["shuffle_bytes"] for s in st) / 1e6,
        "job_s": union_length([(j["t0"], j["t1"]) for j in jobs]),
        "scan_stages": len(scans),
        "scan_s": union_length([(s["t0"], s["t1"]) for s in scans]),
        "scan_cpu_s": sum(s["cpu_s"] for s in scans),
        "scan_input_mb": sum(s["input_bytes"] for s in scans) / 1e6,
        "scan_python_mb": sum(s["python_bytes"] for s in scans) / 1e6,
        "scan_python_run_s": sum(s["python_run_s"] for s in scans),
        "callsites": sorted({j["callsite"] for j in jobs if j["callsite"]}),
        "job_list": jobs,
    }

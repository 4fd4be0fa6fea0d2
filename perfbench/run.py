"""Benchmark of the clips validation engine, end to end and per layer.

    python3 perfbench/run.py --workload clips_short --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Each invocation is one run of one workload
in a fresh process and a fresh Spark JVM (see workloads.py for the three
workloads). Inputs are generated from --seed by the repository's own clips
generator; all scratch files live under .bench_work/ in the checkout.

--trace 0 prints the end-to-end metrics: clips_per_s, latency_p50_s,
latency_p75_s, setup_s and peak_rss_mb (error_rate is printed on the line
before the result, and is failed/attempted of the result). --trace 1 turns
on the benchmark's spans and Spark's event log and prints the per-layer
metrics instead; the difference between the two runs' clips_per_s is the
tracing overhead. The last line of stdout is the JSON result; the exit code
is non-zero when any correctness gate failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

import harness as H

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

E2E_UNITS = {
    "clips_per_s": "clips/s",
    "latency_p50_s": "s",
    "latency_p75_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "sources.generate_s": "s",
    "sources.table_mb": "MB",
    "jobs.pass_s_p50": "s",
    "audio.kernel_clips_per_s_1t": "clips/s",
    "audio.scan_stage_s": "s",
    "audio.scan_cpu_s": "s",
    "audio.scan_input_mb": "MB",
    "audio.scan_python_mb": "MB",
    "audio.scan_python_run_s": "s",
    "checks.post_scan_s": "s",
    "checks.jobs": "count",
    "checks.stages": "count",
    "checks.tasks": "count",
    "checks.shuffle_mb": "MB",
    "operators.bytes_scans": "count",
    "trace.clips_per_s": "clips/s",
}


def _environment(work: str) -> None:
    """Program imports and every scratch path point inside the checkout."""
    sys.path.insert(0, REPO)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ.setdefault("SPARK_LAUNCHER_OPTS", "-XX:-UsePerfData")
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        os.environ[var] = os.path.join(work, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    tempfile.tempdir = os.environ["TMPDIR"]


def main() -> int:
    started = H.process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(REPO, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(work)
    import workloads as W  # imports the program; fails here when it is absent

    if args.workload not in W.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}")
    host = H.host_context()
    run = W.Run(args.workload, args.seed, args.seconds, H.Tracer(args.trace == 1), work, started)
    with H.RssSampler() as rss:
        res = W.WORKLOADS[args.workload](run)
    run.tracer.add({"name": "setup", "op": None, "parent": None, "t0": started}, run.first_timed)
    H.stop_spark(res["spark"])
    if res["check"] is not None:
        res["check"]()

    walls = [op["t1"] - op["t0"] for op in run.ops]
    if args.workload == "stream_arrivals":
        clips_per_s = run.report["stream_clips_per_s"]
        lat = run.report["latencies"]
    else:
        clips_per_s = sum(op["clips"] for op in run.ops) / sum(walls)
        lat = walls
    e2e = {
        "clips_per_s": clips_per_s,
        "latency_p50_s": H.percentile(lat, 50),
        "latency_p75_s": H.percentile(lat, 75),
        "setup_s": run.setup_s,
        "peak_rss_mb": rss.peak_mb,
    }
    run.report.update(
        {
            "latency_samples": len(lat),
            "latency_best_percentile": H.best_percentile(len(lat)),
            "timed_ops": len(run.ops),
            "peak_rss_mb_by_process": {k: round(v / 1024, 1) for k, v in rss.peak_by_kind.items()},
            "error_rate": run.failed / max(run.attempted, 1),
        }
    )

    if run.trace:
        log = H.read_event_log(os.path.join(work, "eventlog"))
        W.op_layers(run, log, res["bytes_per_row"])
        files = res.get("kernel_files") or sorted(
            os.path.join(res["table"], f) for f in os.listdir(res["table"])
        )
        run.layers["audio.kernel_clips_per_s_1t"] = W.kernel_clips_per_s(files)
        run.layers["trace.clips_per_s"] = clips_per_s
        run.report["self_s"] = run.tracer.self_times()
        if args.workload == "stream_arrivals":
            run.report.update(W.stream_manifest_layers(run, log, res["bytes_per_row"]))
        metrics = {k: {"value": float(run.layers[k]), "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}

    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump({"host": host, "report": run.report, "ops": run.ops, "spans": run.tracer.spans,
                   "errors": run.errors, "e2e": e2e, "layers": run.layers}, f, indent=1, default=str)
    for name in ("clips", "qa", "stage", "in"):
        shutil.rmtree(os.path.join(work, name), ignore_errors=True)

    print("host " + json.dumps(host))
    print("report " + json.dumps(run.report, default=str))
    if run.trace:
        print("layers " + json.dumps(run.layers))
        ratio = run.layers["trace.layer_sum_ratio"]
        print(f"layer self times (scan + other Spark jobs + driver) / op wall = {ratio:.3f} "
              f"({'within' if abs(ratio - 1) <= 0.1 else 'NOT within'} 10%)")
    for e in run.errors[:20]:
        print("FAILED " + e)
    print(f"error_rate {run.report['error_rate']:.6f} ({run.failed}/{run.attempted})")
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

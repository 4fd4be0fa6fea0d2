"""The benchmark's workloads. Each runs in a fresh process and a fresh JVM:
set-up (session start, input generation, untimed warm-up), a timed window of
`seconds`, then the checks against id-derived truth, which are kept out of
both set-up and the timed window.

- clips_short: the shipped job (`jobs/validate.py` main(), `--table`, a fresh
  manifest dir per pass) over short clips; closed loop, one pass at a time.
- audio_qa: every audio QA family's public DataFrame function over one table
  of multi-second clips, each forced with an aggregate; closed loop.
- stream_arrivals: open loop; one generator thread drops pre-generated
  parquet files into a watched directory on a seeded schedule, and
  `streaming.validate.validate_stream` validates the file stream.
"""

from __future__ import annotations

import contextlib
import glob
import importlib.util
import io
import json
import math
import re
import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import harness as H
import inputs as I

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# clips_short: about 4k clips of at most 200 ms (about 32 MB); the seed adds
# up to 255 more ids to the window [0, n). Set-up certifies the table with
# run_suite and then makes one untimed job pass: in a fresh JVM the job's
# pass time keeps falling over its first passes, so both stay out of timing.
CLIPS_N, CLIPS_JITTER, CLIPS_MAX_MS, CLIPS_FILES, CLIPS_WARM_PASSES = 4000, 256, 200, 16, 1
# audio_qa: 120 clips of at most 3 s from a seeded id window (about 12 MB)
QA_N, QA_MAX_MS, QA_FILES = 120, 3000, 4
# stream_arrivals: files of 500 short clips, one due every 2.4 s on average
# (about 210 clips/s offered; a one-file micro-batch takes about 1.8 s on
# 4 vCPUs, so each file gets its own batch and no backlog builds); the seed
# moves each due time by up to 15% of the gap either way. Four warm-up
# micro-batches of one file each.
STREAM_FILE_CLIPS, STREAM_GAP_S, STREAM_JITTER = 500, 2.4, 0.15
STREAM_WARM_ROUNDS, STREAM_WARM_FILES = 4, 1
# kernel layer: score_record_batch over this many rows in 2000-row batches
KERNEL_ROWS = 4000


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    tracer: H.Tracer
    work: str
    started: float  # process start, wall clock
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    first_timed: float | None = None
    ops: list[dict] = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    report: dict = field(default_factory=dict)

    @property
    def trace(self) -> bool:
        return self.tracer.enabled

    def gate(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def mark_timed(self) -> None:
        if self.first_timed is None:
            self.first_timed = time.time()

    @property
    def setup_s(self) -> float:
        return self.first_timed - self.started


def _session(run: Run):
    from macrobase_spark.session import get_spark

    tmp = os.path.join(run.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run.work, "spark-local"),
        # keep the JVM's scratch files (and its /tmp perf-data file) out of /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
    }
    if run.trace:
        conf.update(H.event_log_conf(os.path.join(run.work, "eventlog")))
    with run.tracer.span("session", parent="setup") as s:
        spark = get_spark(f"perfbench-{run.workload}", extra_conf=conf)
        spark.range(1).count()
    run.layers["session.start_s"] = s["s"]
    return spark


def _setup(run: Run, generate):
    """Start the session and generate the inputs concurrently (the JVM start
    is mostly waiting); returns (spark, generate's result)."""
    with ThreadPoolExecutor(1) as ex:
        fut = ex.submit(_session, run)
        with run.tracer.span("generate", parent="setup") as s:
            made = generate()
        run.layers["sources.generate_s"] = s["s"]
        return fut.result(), made


def kernel_clips_per_s(table_files: list[str]) -> float:
    """score_record_batch single-threaded on Arrow batches read with pyarrow
    (no Spark): median of three timed sweeps after one warm sweep."""
    from macrobase_spark.operators.audio import score_record_batch

    cols = ["clip_id", "sr_hz", "dur_ms", "codec", "transcript", "bytes"]
    batches = []
    for f in table_files:
        batches += pq.read_table(f, columns=cols).to_batches(max_chunksize=2000)
        if sum(b.num_rows for b in batches) >= KERNEL_ROWS:
            break
    rows = sum(b.num_rows for b in batches)
    rates = []
    for k in range(4):
        t0 = time.perf_counter()
        for b in batches:
            score_record_batch(b)
        if k:
            rates.append(rows / (time.perf_counter() - t0))
    return float(np.median(rates))


def op_layers(run: Run, log: dict, bytes_per_row: float) -> None:
    """Per-operation Spark breakdown from the event log, as medians over the
    timed operations."""
    parts = []
    for op in run.ops:
        b = H.op_breakdown(log, op["t0"], op["t1"], bytes_per_row)
        b["wall"] = op["t1"] - op["t0"]
        # layer self times: payload scan, other Spark jobs, driver-side gaps
        b["sum_ratio"] = (
            b["scan_s"] + max(b["job_s"] - b["scan_s"], 0.0) + max(b["wall"] - b["job_s"], 0.0)
        ) / b["wall"]
        parts.append(b)
        op["spark"] = {k: v for k, v in b.items() if k != "job_list"}

    def med(key: str) -> float:
        return float(np.median([p[key] for p in parts]))

    run.layers.update(
        {
            "jobs.pass_s_p50": med("wall"),
            "audio.scan_stage_s": med("scan_s"),
            "audio.scan_cpu_s": med("scan_cpu_s"),
            "audio.scan_input_mb": med("scan_input_mb"),
            "audio.scan_python_mb": med("scan_python_mb"),
            "audio.scan_python_run_s": med("scan_python_run_s"),
            "checks.post_scan_s": float(np.median([p["wall"] - p["scan_s"] for p in parts])),
            "checks.jobs": med("jobs"),
            "checks.stages": med("stages"),
            "checks.tasks": med("tasks"),
            "checks.shuffle_mb": med("shuffle_mb"),
            "operators.bytes_scans": med("scan_stages"),
            "trace.layer_sum_ratio": med("sum_ratio"),
        }
    )
    run.report["callsites"] = sorted({c for p in parts for c in p["callsites"]})


# -- clips_short ---------------------------------------------------------------


def _load_job():
    spec = importlib.util.spec_from_file_location(
        "perfbench_validate_job", os.path.join(REPO, "jobs", "validate.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _job_pass(job, table: str, manifest_dir: str) -> dict:
    argv, sys.argv = sys.argv, ["validate.py", "--table", table, "--manifest-dir", manifest_dir]
    buf = io.StringIO()
    try:
        with contextlib.redirect_stdout(buf):
            rc = job.main()
    finally:
        sys.argv = argv
    out = json.loads(buf.getvalue().strip().splitlines()[-1])
    out["rc"] = rc
    return out


def clips_short(run: Run) -> dict:
    from pyspark.sql import functions as F

    from macrobase_spark.operators.checks import SuiteConfig, run_suite
    from macrobase_spark.sources.clips import expected_violations, generate_manifest
    from macrobase_spark.sources.table_source import load_table

    n = CLIPS_N + I.seed_draw(run.seed, 1) % CLIPS_JITTER
    table = os.path.join(run.work, "clips")
    spark, table_bytes = _setup(
        run, lambda: I.write_clips_dir(table, np.arange(n, dtype=np.int64), CLIPS_MAX_MS, CLIPS_FILES)
    )
    run.layers["sources.table_mb"] = table_bytes / 1e6
    job = _load_job()

    # certify the table once (this is also the warm-up): the suite's distinct
    # non-drift violation set is compared with expected_violations(n) after
    # the timed window; the raw violation count every job pass must print is
    # fixed here
    with run.tracer.span("certify", parent="setup"):
        res = run_suite(load_table(spark, table), generate_manifest(spark, n), SuiteConfig())
        got = {
            (r["clip_id"], r["check"])
            for r in res.violations.filter(F.col("check") != "drift").collect()
        }
        certified = res.violations.count()
    for k in range(CLIPS_WARM_PASSES):
        with run.tracer.span("warmup", parent="setup"):
            out = _job_pass(job, table, os.path.join(run.work, f"manifest-warm{k}"))
        run.gate(out["rc"] == 0 and out["rows"] == n and out["violations"] == certified,
                 f"warm-up pass {k}: rows {out['rows']} (want {n}), violations "
                 f"{out['violations']} (want {certified})")

    k = 0
    run.mark_timed()
    while time.time() - run.first_timed < run.seconds:
        with run.tracer.span("pass", op=f"pass{k}") as s:
            out = _job_pass(job, table, os.path.join(run.work, f"manifest-{k}"))
        ok = out["rc"] == 0 and out["rows"] == n and out["violations"] == certified
        run.gate(ok, f"pass {k}: rows {out['rows']} (want {n}), violations "
                 f"{out['violations']} (want {certified})")
        run.ops.append({"t0": s["t0"], "t1": s["t1"], "clips": n, "ok": ok})
        k += 1
    run.report["certified_violations"] = certified

    def check() -> None:
        exp = {(r.clip_id, r.check) for r in expected_violations(n).itertuples()}
        run.gate(got == exp, f"certification: {len(got ^ exp)} (clip_id, check) pairs differ")

    return {"spark": spark, "check": check, "table": table, "bytes_per_row": table_bytes / n}


# -- audio_qa --------------------------------------------------------------------


def _families():
    from macrobase_spark.operators.audio import extract_audio_features
    from macrobase_spark.operators.bandwidth import bandwidth_features
    from macrobase_spark.operators.gate import transport_gate
    from macrobase_spark.operators.loudness import loudness_blocks
    from macrobase_spark.operators.pitch import pitch_features
    from macrobase_spark.operators.scorecard import scorecard_features
    from macrobase_spark.operators.silence import silence_features

    return [
        ("scorecard", scorecard_features),
        ("loudness", loudness_blocks),
        ("pitch", pitch_features),
        ("bandwidth", bandwidth_features),
        ("silence", silence_features),
        ("gate", transport_gate),
        ("audio.features", extract_audio_features),
    ]


def _force(out) -> tuple[int, int, int]:
    """(rows, decode_ok rows, order-free checksum of every output value)."""
    from pyspark.sql import functions as F

    ok = (
        F.sum(F.col("decode_ok").cast("long"))
        if "decode_ok" in out.columns
        else F.lit(None).cast("long")
    )
    r = out.agg(
        F.count(F.lit(1)).alias("n"),
        ok.alias("ok"),
        F.sum(F.hash(*out.columns)).alias("h"),
    ).collect()[0]
    return r["n"], r["ok"], r["h"]


def audio_qa(run: Run) -> dict:
    lo = 500 * (I.seed_draw(run.seed, 2) % 100_000)
    ids = np.arange(lo, lo + QA_N, dtype=np.int64)
    table = os.path.join(run.work, "qa")
    spark, table_bytes = _setup(run, lambda: I.write_clips_dir(table, ids, QA_MAX_MS, QA_FILES))
    run.layers["sources.table_mb"] = table_bytes / 1e6
    df = spark.read.parquet(table)
    fams = _families()
    truth = {name: (QA_N, I.decodable(ids)) for name, _ in fams}
    truth["loudness"] = (I.loudness_rows(ids, QA_MAX_MS), None)
    truth["gate"] = (QA_N, None)

    certified = {}
    with run.tracer.span("warmup", parent="setup"):
        for name, fn in fams:
            rows, ok, h = _force(fn(df))
            run.gate((rows, ok) == truth[name], f"certify {name}: {(rows, ok)} != {truth[name]}")
            certified[name] = (rows, ok, h)

    calls: dict[str, list[float]] = {name: [] for name, _ in fams}
    k = 0
    run.mark_timed()
    while time.time() - run.first_timed < run.seconds:
        all_ok = True
        with run.tracer.span("pass", op=f"pass{k}") as s:
            for name, fn in fams:
                with run.tracer.span(name, op=f"pass{k}", parent="pass") as c:
                    got = _force(fn(df))
                calls[name].append(c["s"])
                ok = got == certified[name]
                all_ok &= ok
                run.gate(ok, f"pass {k} {name}: {got} != certified {certified[name]}")
        run.ops.append({"t0": s["t0"], "t1": s["t1"], "clips": QA_N, "ok": all_ok})
        k += 1
    run.report["family_call_s_p50"] = {
        f"{name}.call_s" if name != "audio.features" else "audio.features_call_s": float(
            np.median(v)
        )
        for name, v in calls.items()
    }
    return {"spark": spark, "check": None, "table": table, "bytes_per_row": table_bytes / QA_N}


# -- stream_arrivals ---------------------------------------------------------------


def _batch_files(ckpt: str) -> dict[str, int]:
    """file name -> micro-batch id, from the file source's metadata log."""
    out: dict[str, int] = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(p) as f:
            for line in f.read().splitlines()[1:]:
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _log_mtimes(ckpt: str, log: str) -> dict[int, float]:
    d = os.path.join(ckpt, log)
    return {int(f): os.stat(os.path.join(d, f)).st_mtime for f in os.listdir(d) if f.isdigit()}


def stream_arrivals(run: Run) -> dict:
    from pyspark.sql import functions as F

    from macrobase_spark.plans.manifest import RunManifest
    from macrobase_spark.sources.clips import CLIPS_SCHEMA
    from macrobase_spark.streaming.validate import validate_stream

    n_warm = STREAM_WARM_ROUNDS * STREAM_WARM_FILES
    n_timed = math.ceil(run.seconds / STREAM_GAP_S)
    lo = 500 * (I.seed_draw(run.seed, 3) % 100_000)
    file_ids = [
        np.arange(lo + k * STREAM_FILE_CLIPS, lo + (k + 1) * STREAM_FILE_CLIPS, dtype=np.int64)
        for k in range(n_warm + n_timed)
    ]
    names = [f"f{k:05d}.parquet" for k in range(len(file_ids))]
    stage, watched = os.path.join(run.work, "stage"), os.path.join(run.work, "in")
    manifest_dir, ckpt = os.path.join(run.work, "manifest"), os.path.join(run.work, "ckpt")
    jitter = [
        ((I.seed_draw(run.seed, 100 + k) % 1000) / 500 - 1) * STREAM_JITTER * STREAM_GAP_S
        for k in range(n_timed)
    ]

    def generate() -> int:
        os.makedirs(stage)
        os.makedirs(watched)
        total = 0
        for name, ids in zip(names, file_ids):
            pq.write_table(I.clips_table(ids, CLIPS_MAX_MS), os.path.join(stage, name))
            total += os.path.getsize(os.path.join(stage, name))
        return total

    spark, total_bytes = _setup(run, generate)
    run.layers["sources.table_mb"] = total_bytes / 1e6

    def drop(name: str) -> float:
        os.rename(os.path.join(stage, name), os.path.join(watched, name))
        return time.time()

    stream = spark.readStream.schema(CLIPS_SCHEMA).parquet(watched)
    q = validate_stream(stream, manifest_dir, ckpt)
    with run.tracer.span("warmup", parent="setup"):
        for r in range(STREAM_WARM_ROUNDS):
            for name in names[r * STREAM_WARM_FILES : (r + 1) * STREAM_WARM_FILES]:
                drop(name)
            q.processAllAvailable()

    timed = names[n_warm:]
    t_first = time.time() + 0.05
    due = {name: t_first + k * STREAM_GAP_S + jitter[k] for k, name in enumerate(timed)}
    sent: dict[str, float] = {}

    def generator() -> None:
        for name in timed:
            wait = due[name] - time.time()
            if wait > 0:
                time.sleep(wait)
            sent[name] = drop(name)

    gen = threading.Thread(target=generator, name="stream-generator")
    run.first_timed = t_first
    gen.start()
    gen.join()
    q.processAllAvailable()
    t_end = time.time()
    q.stop()
    man = RunManifest(manifest_dir).read(spark)
    rows = man.groupBy("lineage").agg(
        F.countDistinct("run_id").alias("runs"),
        F.sum("n_rows").alias("n_rows"),
        F.sum("n_violations").alias("n_violations"),
    ).collect()
    manifest = {r["lineage"]: r for r in rows}
    n_manifest_files = len(glob.glob(os.path.join(manifest_dir, "*.parquet")))

    batch_of = _batch_files(ckpt)
    starts, ends = _log_mtimes(ckpt, "offsets"), _log_mtimes(ckpt, "commits")
    by_batch: dict[int, list[int]] = {}
    for k, name in enumerate(names):
        by_batch.setdefault(batch_of.get(name, -1), []).append(k)
    missing = by_batch.pop(-1, [])
    run.gate(not missing, f"{len(missing)} files never recorded by a micro-batch")
    for b, ks in sorted(by_batch.items()):
        m = manifest.get(f"stream-batch:{b}")
        want_rows = sum(len(file_ids[k]) for k in ks)
        want_viol = sum(I.stream_violations(file_ids[k]) for k in ks)
        ok = (
            m is not None
            and m["runs"] == 1
            and m["n_rows"] == want_rows
            and m["n_violations"] == want_viol
            and b in ends
        )
        detail = None if m is None else (m["runs"], m["n_rows"], m["n_violations"])
        for k in ks:
            run.gate(ok, f"file {names[k]} in batch {b}: manifest {detail}, "
                     f"want (1, {want_rows}, {want_viol})")
    extra = set(manifest) - {f"stream-batch:{b}" for b in by_batch}
    run.gate(not extra, f"manifest lineages with no files: {sorted(extra)}")

    lat, queue = [], []
    for name in timed:
        b = batch_of.get(name)
        if b is None or b not in ends:
            continue
        lat.append(ends[b] - due[name])
        queue.append(starts[b] - due[name])
    timed_batches = sorted({batch_of[n] for n in timed if n in batch_of})
    batch_s = [ends[b] - starts[b] for b in timed_batches if b in ends]
    # backlog: files due but not yet taken by a micro-batch, at each due time
    taken = {n: starts[batch_of[n]] for n in timed if n in batch_of}
    backlog = [
        sum(1 for m in timed if due[m] <= due[n] and taken.get(m, math.inf) > due[n])
        for n in timed
    ]
    recorded = sum(len(file_ids[names.index(n)]) for n in timed if n in batch_of)
    run.report.update(
        {
            "files_timed": len(timed),
            "streaming.batches": len(timed_batches),
            "streaming.batch_s_p50": H.percentile(batch_s, 50),
            "streaming.queue_s_p50": H.percentile(queue, 50),
            "streaming.backlog_max": max(backlog),
            "streaming.backlog_at_due": backlog,
            "streaming.files_per_batch": [
                sum(1 for n in timed if batch_of.get(n) == b) for b in timed_batches
            ],
            "streaming.generator_late_s_max": max(sent[n] - due[n] for n in timed),
            "manifest.files_end": n_manifest_files,
            "offered_clips_per_s": STREAM_FILE_CLIPS / STREAM_GAP_S,
        }
    )
    run.ops = [
        {"t0": starts[b], "t1": ends[b], "clips": None, "ok": True}
        for b in timed_batches
        if b in ends
    ]
    run.report["latencies"] = lat
    run.report["stream_clips_per_s"] = recorded / (t_end - t_first)
    return {
        "spark": spark,
        "check": None,
        "table": stage,
        "bytes_per_row": total_bytes / sum(len(i) for i in file_ids),
        "kernel_files": [os.path.join(watched, n) for n in names],
    }


WORKLOADS = {
    "clips_short": clips_short,
    "audio_qa": audio_qa,
    "stream_arrivals": stream_arrivals,
}


def stream_manifest_layers(run: Run, log: dict, row_bytes: float) -> dict:
    """Per micro-batch, from the jobs Spark tags with its batch id: the
    manifest idempotence read (the jobs before the payload scan) and the
    manifest append (the final parquet write); check time against batch
    index shows the cost of the growing manifest."""
    per_batch: dict[int, list[dict]] = {}
    for j in log["jobs"].values():
        m = re.search(r"^batch = (\d+)$", j["desc"], re.M)
        if m and "t1" in j:
            per_batch.setdefault(int(m.group(1)), []).append(j)
    check, record = [], []
    for b, jobs in sorted(per_batch.items()):
        jobs.sort(key=lambda j: j["t0"])
        scan = next(
            (k for k, j in enumerate(jobs)
             if any(H.is_payload_scan(log["stages"][s], row_bytes) for s in j["stages"])),
            None,
        )
        if scan:
            check.append((b, H.union_length([(j["t0"], j["t1"]) for j in jobs[:scan]])))
        writes = [j for j in jobs if j["stages"] and
                  log["stages"][j["stages"][-1]]["name"].startswith("parquet at")]
        if writes:
            record.append(writes[-1]["t1"] - writes[-1]["t0"])
    slope = float(np.polyfit([b for b, _ in check], [c for _, c in check], 1)[0]) if len(check) > 1 else 0.0
    return {
        "manifest.check_s_p50": H.percentile([c for _, c in check], 50),
        "manifest.check_s_per_batch_slope": slope,
        "manifest.check_s_by_batch": {b: round(c, 4) for b, c in check},
        "manifest.record_s": H.percentile(record, 50),
    }

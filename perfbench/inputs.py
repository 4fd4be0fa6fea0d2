"""Seeded benchmark inputs, built from the repository's deterministic clips
generator (`macrobase_spark.sources.clips`), and the truth each workload's
outputs are checked against.

Every clip is a pure function of its integer id, so a seed only has to pick
*which* ids a run gets (and, for the stream, when each file is due). The
truth below is derived from the ids with the generator's documented plant
rules, never from the program's outputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from macrobase_spark.operators.audio import splitmix64
from macrobase_spark.sources import clips as C

ARROW_SCHEMA = pa.schema(
    [
        ("clip_id", pa.string()),
        ("bytes", pa.binary()),
        ("sr_hz", pa.int32()),
        ("dur_ms", pa.int32()),
        ("codec", pa.string()),
        ("transcript", pa.string()),
    ]
)

# loudness gating blocks (operators/loudness.py: BLOCK_S, STEP_S)
_BLOCK_S, _STEP_S = 0.400, 0.100


def seed_draw(seed: int, salt: int) -> int:
    """A 64-bit draw from (seed, salt); the benchmark's only seeded choice."""
    return int(splitmix64(np.array([seed * 1_000_003 + salt], dtype=np.uint64))[0])


def source_ids(ids: np.ndarray) -> np.ndarray:
    """Duplicate plant: a row whose id is 7 mod 500 carries the previous
    id's content (clip_id included)."""
    return np.where((ids % 500 == 7) & (ids > 0), ids - 1, ids)


def clips_table(ids: np.ndarray, max_payload_ms: int) -> pa.Table:
    """The rows `generate_clips` produces for these ids, as one Arrow table
    (the same per-row generator calls, without a Spark job)."""
    src = source_ids(ids)
    p = C.row_params(src)
    rows = list(zip(src.tolist(), p.itertuples()))
    return pa.table(
        {
            "clip_id": [f"clip_{s:012d}" for s, _ in rows],
            "bytes": [
                C._payload(s, int(r.sr_hz), int(r.dur_ms), max_payload_ms, str(r.codec))
                for s, r in rows
            ],
            "sr_hz": p["sr_hz"].to_numpy().astype(np.int32),
            "dur_ms": p["dur_ms"].to_numpy().astype(np.int32),
            "codec": p["codec"].tolist(),
            "transcript": [C._transcript(s, int(r.n_words)) for s, r in rows],
        },
        schema=ARROW_SCHEMA,
    )


def write_clips_dir(path: str, ids: np.ndarray, max_payload_ms: int, files: int) -> int:
    """Write the clips for `ids` as `files` parquet files under `path`;
    returns the bytes written."""
    os.makedirs(path, exist_ok=True)
    total = 0
    for k, chunk in enumerate(np.array_split(ids, files)):
        f = os.path.join(path, f"part-{k:05d}.parquet")
        pq.write_table(clips_table(chunk, max_payload_ms), f)
        total += os.path.getsize(f)
    return total


# -- id-derived truth ---------------------------------------------------------


def _flags(ids: np.ndarray) -> dict[str, np.ndarray]:
    src = source_ids(ids)
    codec = C.row_params(src)["codec"].to_numpy()
    corrupt = (src % 401 == 5) | ((codec == "flac") & (src % 13 == 3))
    return {
        "null": src % 211 == 3,
        # a null-plant row is null, never empty (sources.clips._transcript)
        "empty": (src % 503 == 11) & ~(src % 211 == 3),
        "undecodable": corrupt | (src % 601 == 9),
    }


def stream_violations(ids: np.ndarray) -> int:
    """What the stream's per-batch manifest rows sum to for these rows:
    null + empty transcript + SNR failure, counted per row
    (streaming/validate.py batch_processor)."""
    f = _flags(ids)
    return int(f["null"].sum() + f["empty"].sum() + f["undecodable"].sum())


def decodable(ids: np.ndarray) -> int:
    """Rows whose payload is a well-formed WAV (not garbage, not truncated)."""
    return int((~_flags(ids)["undecodable"]).sum())


def loudness_rows(ids: np.ndarray, max_payload_ms: int) -> int:
    """Rows `loudness_blocks` emits: one per 400 ms gating block (100 ms
    step) of every decodable clip, or one sentinel row for a clip shorter
    than one block."""
    src = source_ids(ids)
    p = C.row_params(src)
    sr = p["sr_hz"].to_numpy()
    ms = np.minimum(p["dur_ms"].to_numpy(), max_payload_ms)
    n = np.maximum((sr * ms / 1000).astype(np.int64), 16)
    w = np.round(_BLOCK_S * sr).astype(np.int64)
    s = np.round(_STEP_S * sr).astype(np.int64)
    blocks = np.where(n < w, 1, (n - w) // s + 1)
    return int(blocks[~_flags(ids)["undecodable"]].sum())

"""Seeded input generators. The same seed gives byte-identical inputs.

Batch workloads get ``events`` and ``customer`` parquet in the shape
``sources/transcripts.py`` derives transcripts from. How the derivation
reads them decides what the generator controls:

  * a turn belongs to conversation ``conv-<user_id>``;
  * a turn's text fails the canonical parse when ``event_id % 10 >= 7``,
    so ``event_id = 10 * row + digit`` with the digit drawn from 7..9
    for the wanted parse-failure share and from 0..6 otherwise;
  * a parsed turn is FATAL when ``event_type = 'error'`` and
    ``event_id % 13 = 0``; a FATAL puts its whole conversation on the
    resource-context ``incident`` route.

``customer`` covers every generated ``user_id`` so the conversation
enrichment hits (the derivation itself leaves out one key in ten).

The streaming workload gets transcript-shaped files
(``schema.TRANSCRIPT_SCHEMA``). Timestamps are written as microseconds:
Spark rejects INT64 nanosecond parquet timestamps.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
EVENT_TYPE_P = [0.4, 0.25, 0.1, 0.1, 0.15]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
TS0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000


@dataclass(frozen=True)
class BatchShape:
    turns: int
    convs: int
    hot_share: float = 0.0
    parse_fail_share: float = 0.3
    files: int = 4


def _fatal_ids(event_id: np.ndarray) -> np.ndarray:
    return (event_id % 13 == 0) & (event_id % 10 < 7)


def write_batch_inputs(sf_dir: str, shape: BatchShape, seed: int) -> dict:
    """Write ``events.parquet/`` and ``customer.parquet/`` under ``sf_dir``.

    With ``hot_share`` > 0 one conversation takes that share of the turns
    and is guaranteed a FATAL turn. Returns a summary of what was made."""
    rng = np.random.default_rng(seed)
    n = shape.turns
    n_hot = int(n * shape.hot_share)
    hot_user = int(rng.integers(0, shape.convs))
    user_id = np.concatenate(
        [np.full(n_hot, hot_user), rng.integers(0, shape.convs, n - n_hot)]
    )
    rng.shuffle(user_id)
    freeform = rng.random(n) < shape.parse_fail_share
    digit = np.where(freeform, rng.integers(7, 10, n), rng.integers(0, 7, n))
    event_id = np.arange(n, dtype=np.int64) * 10 + digit
    event_type = EVENT_TYPES[rng.choice(len(EVENT_TYPES), n, p=EVENT_TYPE_P)]
    if n_hot:
        candidates = np.flatnonzero((user_id == hot_user) & _fatal_ids(event_id))
        event_type[candidates[0]] = "error"
    ts = TS0_US + rng.integers(0, 30 * DAY_US, n)
    value = np.round(rng.random(n) * 500.0, 2)
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")
    events = pa.table(
        {
            "event_id": pa.array(event_id, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(user_id.astype(np.int64), pa.int64()),
            "event_type": pa.array(event_type, pa.string()),
            "value": pa.array(value, pa.float64()),
            "props": pa.array(props, pa.string()),
        }
    )
    keys = np.arange(shape.convs, dtype=np.int64)
    customer = pa.table(
        {
            "c_custkey": pa.array(keys, pa.int64()),
            "c_name": pa.array([f"Customer#{k:09d}" for k in keys], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, shape.convs), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.random(shape.convs) * 1e4, 2), pa.float64()),
            "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, shape.convs)], pa.string()),
        }
    )
    _write_parts(events, os.path.join(sf_dir, "events.parquet"), shape.files)
    _write_parts(customer, os.path.join(sf_dir, "customer.parquet"), 1)
    fatal = (event_type == "error") & _fatal_ids(event_id)
    return {
        "turns": n,
        "convs": shape.convs,
        "hot_conv_turns": n_hot,
        "parse_fail_share": float(freeform.mean()),
        "fatal_turns": int(fatal.sum()),
        "hot_conv_has_fatal": bool(n_hot and fatal[user_id == hot_user].any()),
    }


def _write_parts(table: pa.Table, path: str, parts: int) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet")
        )


# ---------------------------------------------------------------------------
# streaming: transcript-shaped files, generated up front and dropped later
# ---------------------------------------------------------------------------

LEVELS = np.array(["DEBUG", "INFO", "WARN", "ERROR", "FATAL"])
LEVEL_P = [0.3, 0.35, 0.2, 0.12, 0.03]
ROLES = np.array(["user", "assistant", "system", "tool"])
TOOLS = np.array(["bash", "search", "browser", "editor", ""])


def transcript_files(
    seed: int, *, files: int, rows_per_file: int, convs: int, parse_fail_share: float = 0.3
) -> list[pa.Table]:
    """``files`` transcript tables; turn_idx runs densely per conversation
    across the whole sequence, as a live tail of many conversations would."""
    rng = np.random.default_rng(seed)
    next_turn = np.zeros(convs, dtype=np.int64)
    out = []
    for _ in range(files):
        conv = rng.integers(0, convs, rows_per_file)
        turn = np.empty(rows_per_file, dtype=np.int32)
        for i, c in enumerate(conv):
            turn[i] = next_turn[c]
            next_turn[c] += 1
        ts = TS0_US + rng.integers(0, DAY_US, rows_per_file)
        level = LEVELS[rng.choice(len(LEVELS), rows_per_file, p=LEVEL_P)]
        svc = rng.integers(0, 7, rows_per_file)
        items = rng.integers(0, 500, rows_per_file)
        freeform = rng.random(rows_per_file) < parse_fail_share
        stamp = np.datetime_as_string(ts.astype("datetime64[us]"), unit="s")
        text = [
            f"freeform event {{\"k\": {items[i]}}}"
            if freeform[i]
            else f"{stamp[i]}Z {level[i]} svc-{svc[i]}: handled event user={conv[i]} items={items[i]}"
            for i in range(rows_per_file)
        ]
        out.append(
            pa.table(
                {
                    "conv_id": pa.array([f"conv-{c:08d}" for c in conv], pa.string()),
                    "turn_idx": pa.array(turn, pa.int32()),
                    "role": pa.array(ROLES[rng.integers(0, 4, rows_per_file)], pa.string()),
                    "text": pa.array(text, pa.string()),
                    "tool": pa.array(TOOLS[rng.integers(0, 5, rows_per_file)], pa.string()),
                    "ts": pa.array(ts, pa.timestamp("us")),
                }
            )
        )
    return out

"""Seeded input generation for the benchmark workloads.

Every table is a pure function of ``(seed, size)``: NumPy's PCG64 stream
for the sandbox-shaped ``events`` table, and the engine's own
``datagen.gen_turns`` for the synthetic turns panel. The engine under
test only ever sees the written parquet files.

``events`` mirrors the schema and value distributions of the sandbox
test data described in TESTDATA.md: one stream over 30 days, uniform
users, five event types, exponential values at cent precision and
``{"k": n}`` props, so every declared query over it and its DuckDB twin
run on it unchanged.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
SPAN_US = 30 * 86_400 * 1_000_000
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])


def events_table(rng: np.random.Generator, n_events: int, n_users: int) -> pa.Table:
    ts = np.sort(rng.integers(0, SPAN_US, n_events)) + EPOCH0_US
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_events)]),
            "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )


def write_events(out_dir: str, seed: int, n_events: int, n_users: int) -> int:
    """Write ``events.parquet`` under ``out_dir``; returns its row count."""
    os.makedirs(out_dir, exist_ok=True)
    t = events_table(np.random.default_rng(seed), n_events, n_users)
    pq.write_table(t, os.path.join(out_dir, "events.parquet"))
    return t.num_rows


def write_turns(spark, path: str, seed: int, n_convs: int, mega_share: float) -> int:
    """``datagen.gen_turns`` panel with one mega-conversation holding
    ``mega_share`` of all rows, written to parquet; returns its row
    count."""
    from ts_raster_spark.datagen import gen_turns

    mean_turns = (3 + 60) / 2  # gen_turns draws 3..60 turns per conversation
    mega = int(round(mega_share * n_convs * mean_turns / (1.0 - mega_share)))
    gen_turns(spark, n_convs=n_convs, seed=seed, mega_conv_turns=mega).write.mode(
        "overwrite"
    ).parquet(path)
    return pq.ParquetDataset(path).read(columns=["turn_idx"]).num_rows

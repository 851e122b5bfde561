"""Seeded benchmark inputs.

`make_input` writes an `events` table with the schema of the repo's
synthetic test data (event_id, ts, user_id, event_type, value, props)
and derives the transcript table (conv_id, turn_idx, role, text, tool,
ts) from it with the DuckDB dialect of `transcripts.transcripts_sql`,
which produces the same rows as the Spark dialect. The program only
ever sees the transcript table, read through
`transcripts.read_transcripts`; the DuckDB oracle reads the events.

The events follow `profile.json`, fitted to the repo's sf0.1 test data
by `perfbench/fit_profile.py`: the event_type mix (which sets the tag
mix and the route fan-out), turns per user (the conversation count),
the quantile function of `value` (the numbers in, and so the length
of, every log line), the days the timestamps span and the props keys.
Timestamps are uniform over the span, as in sf0.1.

The seed varies user ids, event types, amounts, timestamps and the
row order on disk. It does not vary the row count or the grammar mix:
`event_id` is always 0..n-1, and the grammar is chosen by
`event_id % 5` (with every 89th row corrupt).
"""

from __future__ import annotations

import functools
import json
import os
import shutil
from dataclasses import dataclass
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from fluent_bit_spark.transcripts import transcripts_sql

PROFILE_PATH = Path(__file__).resolve().parent / "profile.json"
BASE_TS = np.datetime64("2024-01-01T00:00:00", "us")
# The transcript table is split into this many files, so that Spark
# reads it with more than one task even at small sizes.
N_FILES = 8


@dataclass(frozen=True)
class Input:
    """One generated input: the events parquet file (oracle side), the
    transcript table directory (program side) and its size."""

    events: str
    transcripts: str
    turns: int
    text_bytes: int
    days: list[str]


@functools.cache
def profile() -> dict:
    with open(PROFILE_PATH) as f:
        return json.load(f)


def make_input(out_dir: str, turns: int, seed: int, days: int | None = None) -> Input:
    """Write `turns` events spread over `days` UTC days (the profile's
    span by default), and the transcript table derived from them, under
    `out_dir`."""
    prof = profile()
    days = prof["days"] if days is None else days
    if turns < 1 or days < 1:
        raise ValueError("turns and days must be positive")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(os.path.join(out_dir, "transcripts"))
    rng = np.random.default_rng(seed)
    span_us = days * 86_400 * 1_000_000
    ts = BASE_TS + np.sort(rng.integers(0, span_us, turns)).astype("timedelta64[us]")
    types = sorted(prof["event_type"])
    shares = np.array([prof["event_type"][t] for t in types])
    quantiles = np.array(prof["value_quantiles"])
    users = max(round(turns / prof["turns_per_user"]), 1)
    events = pa.table(
        {
            "event_id": np.arange(turns, dtype=np.int64),
            "ts": pa.array(ts),
            "user_id": rng.integers(0, users, turns).astype(np.int64),
            "event_type": np.array(types)[rng.choice(len(types), turns, p=shares / shares.sum())],
            # inverse-CDF sampling from the fitted quantile function
            "value": np.round(np.interp(rng.random(turns), np.linspace(0, 1, len(quantiles)),
                                        quantiles), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, prof["props_keys"], turns)],
        }
    )
    events_path = os.path.join(out_dir, "events.parquet")
    pq.write_table(events.take(rng.permutation(turns)), events_path)

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')")
        table = con.execute(
            f"SELECT * FROM ({transcripts_sql('duckdb')}) ORDER BY conv_id, turn_idx"
        ).fetch_arrow_table()
    finally:
        con.close()
    # UTC-adjusted timestamps, so that Spark reads `ts` as TIMESTAMP (the
    # transcript schema), not TIMESTAMP_NTZ
    ts_utc = pc.cast(table["ts"], pa.timestamp("us", tz="UTC"))
    table = table.set_column(table.schema.get_field_index("ts"), "ts", ts_utc)
    table = table.take(rng.permutation(turns))
    step = -(-turns // N_FILES)
    for i in range(N_FILES):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(out_dir, "transcripts", f"part-{i:02d}.parquet"))
    # characters, as PipelineMetrics counts them (the text is ASCII)
    text_bytes = int(pc.sum(pc.utf8_length(table["text"])).as_py())
    day_keys = sorted({str(d) for d in ts.astype("datetime64[D]")})
    return Input(events_path, os.path.join(out_dir, "transcripts"), turns, text_bytes, day_keys)

"""Seeded generator of the `events` table the streaming gate reads.

Writes `events.parquet` with the column names, physical types
(pandas/pyarrow defaults, so `ts` is a µs TIMESTAMP_NTZ) and value
domains of the engine's judged `events` table. Every column is drawn
from a numpy generator seeded with `seed`, so the same seed writes a
byte-identical table.

    python3 perfbench/gen_events.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pandas as pd

ROWS = 1000
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def events(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    # events arrive in id order with exponential gaps (mean ~260 s),
    # so ts is increasing in event_id like a real append-only log
    gaps = rng.exponential(259.0, ROWS)
    return pd.DataFrame({
        "event_id": np.arange(ROWS, dtype=np.int64),
        "ts": (pd.Timestamp("2024-01-01")
               + pd.to_timedelta(np.cumsum(gaps), unit="s")).values.astype("datetime64[us]"),
        "user_id": rng.integers(0, 150, ROWS).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, ROWS),
        # two-decimal doubles in [0.01, 490.00]
        "value": rng.integers(1, 49001, ROWS) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ROWS)]})


def write(out_dir: str, seed: int) -> int:
    """Writes `events.parquet` under `out_dir`; returns its row count."""
    os.makedirs(out_dir, exist_ok=True)
    events(seed).to_parquet(os.path.join(out_dir, "events.parquet"), index=False)
    return ROWS


if __name__ == "__main__":
    print(write(sys.argv[1], int(sys.argv[2])))

"""Seeded input generator for the ts_fleet workload.

It writes the fleet in the schema of the ``events.parquet`` test table the
declared queries read, so the program under test receives only a file, and
returns the planted truth the correctness checks score against.  The same
seed gives the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FLEET_SERIES = 50
FLEET_HOURS = 240  # 10 days
FLEET_SPIKES = 3


def fleet(seed: int, out_dir: str) -> dict:
    """Hourly series with daily seasonality, a small trend and noise, one
    planted level shift and a few planted spikes each.  One event per
    series-hour; ``event_type`` is the series id."""
    rng = np.random.default_rng([seed, 1])
    n, h = FLEET_SERIES, FLEET_HOURS
    t = np.arange(h)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ids, stamps, values = [], [], []
    truth = {}
    for i in range(n):
        sid = f"s{i:04d}"
        sigma = rng.uniform(1.0, 2.0)
        level = rng.uniform(50.0, 150.0)
        amp = rng.uniform(2.0, 5.0) * sigma
        phase = rng.uniform(0, 2 * np.pi)
        slope = rng.uniform(-0.002, 0.002) * sigma
        y = level + slope * t + amp * np.sin(2 * np.pi * t / 24 + phase)
        y = y + rng.normal(0.0, sigma, h)
        cp = int(rng.integers(int(0.4 * h), int(0.6 * h)))
        shift = rng.choice([-1.0, 1.0]) * rng.uniform(4.0, 6.0) * sigma
        y[cp:] += shift
        # spikes away from the edges and from the shift, where the centred
        # 24-hour moving average of the decomposition is defined
        spikes = []
        while len(spikes) < FLEET_SPIKES:
            p = int(rng.integers(30, h - 30))
            if abs(p - cp) > 24 and all(abs(p - q) > 24 for q in spikes):
                spikes.append(p)
        spikes.sort()
        y[spikes] += rng.uniform(10.0, 14.0, FLEET_SPIKES) * sigma
        offs = rng.integers(0, 3600, h) * 1_000_000  # seconds into the hour
        ids.append(np.full(h, sid))
        stamps.append(start + (t * 3600 * 1_000_000 + offs).astype("timedelta64[us]"))
        values.append(np.round(y, 4))
        truth[sid] = {"cp_index": cp, "shift": float(shift), "spikes": spikes}
    total = n * h
    table = pa.table(
        {
            "event_id": pa.array(np.arange(total, dtype=np.int64)),
            "ts": pa.array(np.concatenate(stamps), type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 500, total).astype(np.int64)),
            "event_type": pa.array(np.concatenate(ids)),
            "value": pa.array(np.concatenate(values)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, total)]),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "events.parquet"))
    return {"series": truth, "hours": h}


def fleet_subset(src_dir: str, out_dir: str, series: list[str]) -> None:
    """Copy the events of ``series`` alone into ``out_dir``, for the oracles."""
    table = pq.read_table(os.path.join(src_dir, "events.parquet"))
    mask = pc.is_in(table["event_type"], value_set=pa.array(series))
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table.filter(mask), os.path.join(out_dir, "events.parquet"))

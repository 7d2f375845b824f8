"""Inputs of the benchmark: the base events table and its per-seed staging.

The base table has the make-up of the program's `events` input at sf0.1:
100,000 events over 30 days from 2024-01-01 UTC, strictly increasing
microsecond timestamps, 1,500 users, five event types drawn uniformly,
exponential `value` with mean 50 rounded to cents, and a small JSON `props`.
It is generated once from a fixed generator seed, so every run measures the
same data; the run's `--seed` only drives staging:

- batch (`telematics_sf0.1`): the rows of `events.parquet` in a seeded order;
- stream (`stream_telematics`): `REPLICAS` copies of the table in disjoint
  user-id ranges, user ids relabelled by a seeded permutation, event ids
  offset per copy, written in event-time order as `BATCH_ROWS`-row files,
  one file per micro-batch.
"""
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASE_ROWS = 100_000
USERS = 1_500
DAYS = 30
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
GENERATOR_SEED = 42
START_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC

# One copy: a run must finish in about a minute (see README.md, time budget).
REPLICAS = 1
BATCH_ROWS = 25_000


def _write(df: pd.DataFrame, path: str, utc: bool) -> None:
    """Writes events with `ts` as a microsecond timestamp: local (as in the
    program's batch input) or UTC-adjusted (as Spark stages stream files)."""
    ts = pa.array(df["ts_us"].to_numpy(), pa.int64()).cast(
        pa.timestamp("us", tz="UTC" if utc else None))
    t = pa.table({"event_id": df["event_id"].to_numpy(), "ts": ts,
                  "user_id": df["user_id"].to_numpy(),
                  "event_type": df["event_type"].to_numpy(),
                  "value": df["value"].to_numpy(), "props": df["props"].to_numpy()})
    pq.write_table(t, path)


def base_events() -> pd.DataFrame:
    rng = np.random.default_rng(GENERATOR_SEED)
    n = BASE_ROWS
    gaps = rng.exponential(1.0, n)
    span_us = DAYS * 86_400_000_000 - 60_000_000
    offs = np.floor(np.cumsum(gaps) / gaps.sum() * (span_us - n)).astype(np.int64)
    ts_us = START_US + offs + np.arange(n, dtype=np.int64)  # strictly increasing
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts_us": ts_us,
        "user_id": rng.integers(0, USERS, n, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n)],
    })


def stage_batch(dst: str, seed: int) -> None:
    """`dst/events.parquet`: the base rows in the order seed `seed` draws."""
    df = base_events()
    order = np.random.default_rng(seed).permutation(len(df))
    os.makedirs(dst, exist_ok=True)
    _write(df.iloc[order], os.path.join(dst, "events.parquet"), utc=False)


def stream_events(seed: int) -> pd.DataFrame:
    """The replicated, relabelled events in event-time order."""
    base = base_events()
    relabel = np.random.default_rng(seed).permutation(USERS * REPLICAS)
    parts = []
    for rep in range(REPLICAS):
        p = base.copy()
        p["event_id"] = p["event_id"] + rep * BASE_ROWS
        p["user_id"] = relabel[p["user_id"].to_numpy() + rep * USERS]
        parts.append(p)
    ev = pd.concat(parts, ignore_index=True)
    return ev.sort_values(["ts_us", "event_id"], kind="stable").reset_index(drop=True)


def stage_stream(dst: str, seed: int) -> None:
    """Micro-batch files under `dst/events.parquet/`.

    Modification times increase file by file: the file source orders its
    input by modification time, so batch k is always file k.
    """
    ev = stream_events(seed)
    d = os.path.join(dst, "events.parquet")
    os.makedirs(d, exist_ok=True)
    for i, lo in enumerate(range(0, len(ev), BATCH_ROWS)):
        path = os.path.join(d, f"part-{i:05d}.parquet")
        _write(ev.iloc[lo:lo + BATCH_ROWS], path, utc=True)
        t = 1_700_000_000 + i
        os.utime(path, (t, t))


def stage(workload: str, dst: str, seed: int) -> None:
    """Stages `workload`'s input for `seed` into `dst` (atomically)."""
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    if workload.startswith("stream"):
        stage_stream(tmp, seed)
    else:
        stage_batch(tmp, seed)
    shutil.rmtree(dst, ignore_errors=True)
    os.rename(tmp, dst)

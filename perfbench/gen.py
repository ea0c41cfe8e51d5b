"""Seeded event generation for the FADS workloads.

Each input is a pure function of (seed, size): the same seed writes
byte-identical parquet files. Events follow the `graft.Tables` `events`
schema and the distribution of the repository's sf0.1 testdata: user_id
uniform over 1,500 users, value exponential with mean 50, event_type uniform
over five types, props `{"k": 0..99}`. The entry workloads read the
testdata itself (`perfbench/data`), not generated tables.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds

# The QID domain (user_id, value) of the sf0.1 `events` table.
FADS_USERS = 1500
FADS_VALUE_MEAN = 50.0


def write_parquet(table, path):
    pq.write_table(table, path, compression="snappy")


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _event_columns(rng, n, first_id=0):
    return {
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "user_id": pa.array(rng.integers(0, FADS_USERS, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.exponential(FADS_VALUE_MEAN, n), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    }


def sparse_events(seed, n):
    """Backlog for the closed-loop sharded replay: `n` events with sparse event
    time (exponential gaps, mean 26 s, like the repository's sf0.1 `events`), so
    clusters expire before a later tuple could reuse them."""
    rng = np.random.default_rng([seed, 2])
    ev = _event_columns(rng, n)
    gaps = rng.exponential(26.0e6, n).astype(np.int64) + 1
    ev["ts"] = _ts(EPOCH_2024_US + np.cumsum(gaps))
    return pa.table({k: ev[k] for k in
        ["event_id", "ts", "user_id", "event_type", "value", "props"]})


def paced_content(seed, n):
    """Event content for the open-loop generator, without `ts`: the generator
    stamps each event with its creation time when it publishes it."""
    rng = np.random.default_rng([seed, 3])
    return pa.table(_event_columns(rng, n))

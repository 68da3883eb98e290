"""Seeded inputs for the CDC benchmark, built with pyarrow and numpy only.

The program under test never sees the seed: it reads the parquet landing
zones and JSON-lines changelogs written here.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "scroll", "signup", "logout"])

#: Row image of the change-apply table (listening mode).
APPLY_COLUMNS = ("id", "user_id", "event_type", "value")


def events_table(rng, first_id: int, n: int, **extra) -> pa.Table:
    """``n`` rows shaped like the repo's ``events`` table, with ascending
    ``event_id`` from ``first_id``. ``extra`` adds constant or array
    columns (the tail generator's wave number and stamps)."""
    cols = {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "user_id": rng.integers(0, 50_000, n, dtype=np.int64),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": np.round(rng.random(n) * 1000.0, 3),
        "props": pa.array([f'{{"k":{int(v)}}}' for v in rng.integers(0, 1000, n)]),
    }
    for k, v in extra.items():
        cols[k] = v if isinstance(v, np.ndarray) else np.full(n, v)
    return pa.table(cols)


def write_zone(path: str, rng, files: int, rows_per_file: int, **extra) -> int:
    """A landing zone of ``files`` parquet files: one seeded events chunk
    and id-shifted copies of it (``extra`` as in :func:`events_table`).
    Returns the largest ``event_id``."""
    os.makedirs(path, exist_ok=True)
    base = events_table(rng, 0, rows_per_file, **extra)
    ids = base.column("event_id").to_numpy()
    for f in range(files):
        shifted = base.set_column(0, "event_id", pa.array(ids + f * rows_per_file))
        pq.write_table(shifted, os.path.join(path, f"part-{f:05d}.parquet"))
    return files * rows_per_file - 1


def apply_bootstrap(path: str, rng, keys: int) -> pa.Table:
    """Snapshot rows of the change-apply target (keys ``0..keys-1``),
    written as one parquet file in the flattened multi-op shape the merge
    store consumes."""
    tbl = pa.table({
        "id": np.arange(keys, dtype=np.int64),
        "user_id": rng.integers(0, 50_000, keys, dtype=np.int64),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), keys)]),
        "value": np.round(rng.random(keys) * 1000.0, 3),
    })
    snap = tbl.append_column("operation", pa.array(["snapshot"] * keys)).append_column(
        "ts_ms", pa.array(np.zeros(keys, dtype=np.int64))
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(snap, path)
    return tbl


class ChangeStream:
    """Seeded Debezium envelopes over a keyed table: updates and deletes of
    live keys and inserts of new ones, with strictly increasing ``ts_ms`` so
    the latest event per key is unambiguous.

    The mix, 40% inserts, 40% updates and 20% deletes, is the batch shape of
    the repo's ``tools/bench_apply_curve.py`` (40 + 40 + 20 per batch). The
    keys of updates and deletes are drawn uniformly from the live keys; no
    trace backs that choice, and a key may change more than once in a file.
    The store hashes keys into 64 buckets, so a file of thousands of
    events touches every bucket: every merge rewrites all of them, and the
    store's rewrite-only-touched-buckets path cannot show on this load."""

    P_INSERT, P_UPDATE = 0.4, 0.4  # the rest are deletes

    def __init__(self, rng, live_keys: int):
        self.rng = rng
        self.alive = np.ones(live_keys, dtype=bool)
        self.next_key = live_keys
        self.ts = 1_700_000_000_000

    def events(self, n: int) -> list[dict]:
        rng = self.rng
        kinds = rng.random(n)
        live = np.flatnonzero(self.alive)
        picks = live[rng.integers(0, len(live), n)]
        out = []
        for i in range(n):
            self.ts += 1
            if kinds[i] < self.P_INSERT:
                key, op = self.next_key, "c"
                self.next_key += 1
                self.alive = np.append(self.alive, True)
            else:
                key = int(picks[i])
                op = "u" if kinds[i] < self.P_INSERT + self.P_UPDATE else "d"
                if not self.alive[key]:  # deleted earlier in this file
                    op = "c"
                self.alive[key] = op != "d"
            after = {
                "id": key,
                "user_id": int(rng.integers(0, 50_000)),
                "event_type": str(EVENT_TYPES[int(rng.integers(0, len(EVENT_TYPES)))]),
                "value": round(float(rng.random()) * 1000.0, 3),
            }
            before = dict(after, value=-1.0) if op != "c" else None
            out.append({
                "op": op,
                "before": before,
                "after": after if op != "d" else None,
                "source": {"ts_ms": self.ts},
                "ts_ms": self.ts,
            })
        return out

    def write_file(self, path: str, n: int) -> list[dict]:
        evs = self.events(n)
        with open(path, "w") as f:
            f.write("\n".join(json.dumps(e) for e in evs))
            f.write("\n")
        return evs


def apply_oracle(bootstrap: pa.Table, events: list[dict]) -> pa.Table:
    """The store a correct change-apply leaves behind: per key the latest
    event by ``ts_ms`` decides; a delete removes the row. Sorted by id."""
    rows = {int(k): (u, e, v) for k, u, e, v in zip(*(bootstrap.column(c).to_numpy(zero_copy_only=False) for c in APPLY_COLUMNS))}
    for ev in sorted(events, key=lambda e: e["ts_ms"]):
        if ev["op"] == "d":
            rows.pop(ev["before"]["id"], None)
        else:
            a = ev["after"]
            rows[a["id"]] = (a["user_id"], a["event_type"], a["value"])
    keys = sorted(rows)
    return pa.table({
        "id": pa.array(keys, pa.int64()),
        "user_id": pa.array([int(rows[k][0]) for k in keys], pa.int64()),
        "event_type": pa.array([str(rows[k][1]) for k in keys]),
        "value": pa.array([float(rows[k][2]) for k in keys], pa.float64()),
    })

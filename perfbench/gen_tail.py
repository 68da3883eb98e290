"""Open-loop wave generator for the ``tail`` workload, run as its own process.

Wave ``w`` is due at ``t0 + w * period`` whatever the system under test is
doing: a late wave is written at once and the schedule does not shift. Each
wave is one parquet file, written under a dot-name (the landing-zone reader
skips those) and renamed into place, so a reader never sees half a wave.
Every row carries its wave number and due time. When all waves are written
the generator writes its lateness record (seconds past due, per wave) as
JSON to ``--report``.

    python3 gen_tail.py --dir ZONE --seed 7 --first-id 100000 --waves 200 \
        --rows 150 --period 0.075 --t0 1700000000.0 --report late.json
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow.parquet as pq

from data import events_table


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--first-id", type=int, required=True)
    ap.add_argument("--waves", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--period", type=float, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--report", required=True)
    a = ap.parse_args()
    rng = np.random.default_rng(a.seed)
    late = []
    for w in range(a.waves):
        due = a.t0 + w * a.period
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        late.append(max(0.0, time.time() - due))
        tbl = events_table(rng, a.first_id + w * a.rows, a.rows, wave=np.int64(w), due_ts=float(due))
        tmp = os.path.join(a.dir, f".wave-{w:06d}.parquet")
        pq.write_table(tbl, tmp)
        os.rename(tmp, os.path.join(a.dir, f"wave-{w:06d}.parquet"))
    with open(a.report, "w") as f:
        json.dump({"late": late}, f)


if __name__ == "__main__":
    main()

"""Correctness checks of the CDC benchmark, as pure functions so the smoke
test can feed each one a wrong expected value."""

from __future__ import annotations

from collections import Counter

import pyarrow as pa


def apply_ok(store: pa.Table, oracle: pa.Table) -> bool:
    """The merge store equals the oracle's latest-op-per-key table; both
    sorted by ``id`` with the oracle's columns."""
    return store.select(oracle.column_names).equals(oracle)


def tail_check(delivered: pa.Table, waves: int, rows_per_wave: int) -> tuple[list[int], int]:
    """Every row the sink holds, checked against the generator's waves.

    ``delivered`` holds the sink's ``event_id``, ``wave`` and
    ``bench_batch`` columns. Returns the waves not delivered exactly once
    and the number of stray rows. A wave fails when its row count is wrong,
    an ``event_id`` repeats, or its rows landed in more than one
    micro-batch (a torn wave). A stray row has a wave outside
    ``[0, waves)``: a row of the landing zone as it stood when the query
    started (wave -1), which ``startFrom=latest`` must never deliver."""
    ids = delivered.column("event_id").to_pylist()
    dup_ids = {i for i, c in Counter(ids).items() if c > 1}
    per_wave: dict[int, list] = {}
    for i, w, b in zip(ids, delivered.column("wave").to_pylist(),
                       delivered.column("bench_batch").to_pylist()):
        per_wave.setdefault(w, []).append((i, b))
    failed = []
    for w in range(waves):
        got = per_wave.get(w, [])
        if (len(got) != rows_per_wave or len({b for _, b in got}) != 1
                or any(i in dup_ids for i, _ in got)):
            failed.append(w)
    strays = sum(len(got) for w, got in per_wave.items() if not 0 <= w < waves)
    return failed, strays

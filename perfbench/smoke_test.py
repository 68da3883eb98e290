"""Smoke test of the benchmark itself, on tiny inputs.

    python3 perfbench/smoke_test.py          # from the root of a checkout
    python3 -m pytest perfbench/smoke_test.py

Checks that ``BENCHMARK.json`` names exactly the metrics the benchmark
prints, that every workload run (untraced and traced, ``--small``) prints
every named metric with its unit and passes its checks, and that each
correctness check fails when given a wrong expected value.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401 - pa.compute below

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import data  # noqa: E402
from layers import END_TO_END, MOVES, PER_LAYER  # noqa: E402
from run import WORKLOADS  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_catalogue():
    bench = _bench_json()
    assert bench["end_to_end"] == END_TO_END
    assert bench["per_layer"] == PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert set(MOVES) == {m["name"] for m in PER_LAYER}


def test_apply_check_rejects_wrong_expected():
    rng = np.random.default_rng(0)
    boot = pa.table({
        "id": pa.array(range(50), pa.int64()),
        "user_id": pa.array(rng.integers(0, 9, 50), pa.int64()),
        "event_type": pa.array(["view"] * 50),
        "value": pa.array(rng.random(50)),
    })
    events = data.ChangeStream(rng, 50).events(200)
    oracle = data.apply_oracle(boot, events)
    assert checks.apply_ok(oracle, oracle)
    wrong = oracle.set_column(3, "value", pa.array([v + 1.0 for v in oracle.column("value").to_pylist()]))
    assert not checks.apply_ok(oracle, wrong)
    assert not checks.apply_ok(oracle, oracle.slice(1))
    # A store that kept a deleted row.
    last_op = {(e["after"] or e["before"])["id"]: e["op"] for e in events}
    deleted = next(k for k, op in last_op.items() if op == "d")
    assert deleted not in oracle.column("id").to_pylist()
    kept = pa.concat_tables([oracle, boot.filter(pa.compute.equal(boot.column("id"), deleted))]).sort_by("id")
    assert not checks.apply_ok(kept, oracle)


def test_tail_check_rejects_wrong_expected():
    delivered = pa.table({
        "event_id": pa.array([0, 1, 2, 3, 4, 5], pa.int64()),
        "wave": pa.array([0, 0, 1, 1, 2, 2], pa.int64()),
        "bench_batch": pa.array([0, 0, 0, 0, 1, 1], pa.int64()),
    })
    assert checks.tail_check(delivered, 3, 2) == ([], 0)
    assert checks.tail_check(delivered, 4, 2) == ([3], 0)
    assert checks.tail_check(delivered, 3, 3) == ([0, 1, 2], 0)
    dup = pa.concat_tables([delivered, delivered.slice(0, 1)])
    assert checks.tail_check(dup, 3, 2) == ([0], 0)
    torn = delivered.set_column(2, "bench_batch", pa.array([0, 1, 0, 0, 1, 1], pa.int64()))
    assert checks.tail_check(torn, 3, 2) == ([0], 0)
    # A row of the zone as it stood at the start (wave -1) was delivered.
    replayed = pa.concat_tables([delivered, pa.table({
        "event_id": pa.array([-7], pa.int64()), "wave": pa.array([-1], pa.int64()),
        "bench_batch": pa.array([0], pa.int64())})])
    assert checks.tail_check(replayed, 3, 2) == ([], 1)
    assert checks.tail_check(delivered, 2, 2) == ([], 2)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "3", "--trace", str(trace), "--small"],
        cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=300, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_every_workload_prints_every_metric_with_its_unit():
    for workload in WORKLOADS:
        for trace, catalogue in ((0, END_TO_END), (1, PER_LAYER)):
            res = _run(workload, trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, (workload, res)
            want = {m["name"]: m["unit"] for m in catalogue}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, (workload, trace, set(want) ^ set(got))
            for m in END_TO_END if not trace else ():
                assert res["metrics"][m["name"]]["value"] > 0, (workload, m["name"])


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_") and callable(fn):
            fn()
            print(f"ok {name}")

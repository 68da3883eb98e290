"""The full production composition in one test:

envelope changelog stream (listening mode) → multi-op flatten →
bucketed partition-pruned merge store → multi-granularity rollup read.

This is the path a reference user runs end-to-end: capture, shape, apply,
aggregate — each stage is unit-tested elsewhere; here the seams are.
"""

import json
import os
import time

from pyspark.sql import functions as F
from pyspark.sql import types as T

from siddhi_io_cdc_spark.operators.flatten import flatten
from siddhi_io_cdc_spark.operators.mutate import foreach_batch_merge, read_bucketed_store
from siddhi_io_cdc_spark.plans.rollup import rollup_single_pass
from siddhi_io_cdc_spark.sources.envelope import read_changelog_stream

ROW_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), True),
        T.StructField("v", T.DoubleType(), True),
    ]
)


def _event(op, k, v, ts, before=None):
    return {
        "op": op,
        "before": before,
        "after": {"k": k, "v": v} if op != "d" else None,
        "source": {"ts_ms": ts},
        "ts_ms": ts,
    }


def _write_events(path, events):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, f"b-{time.time_ns()}.jsonl"), "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def test_capture_shape_apply_aggregate(spark, tmp_path):
    src = str(tmp_path / "changelog")
    store = str(tmp_path / "store")

    # batch 1: insert k=1..6 (v=10*k), update k=2 -> 99, delete k=3
    evs = [_event("c", k, 10.0 * k, ts=k) for k in range(1, 7)]
    evs.append(_event("u", 2, 99.0, ts=10, before={"k": 2, "v": 20.0}))
    evs.append(_event("d", 3, None, ts=11, before={"k": 3, "v": 30.0}))
    _write_events(src, evs)

    env = read_changelog_stream(spark, src, ROW_SCHEMA)
    flat = flatten(env, operations=["insert", "update", "delete"])
    q = (
        flat.writeStream.foreachBatch(
            foreach_batch_merge(spark, store, key=["k"], num_buckets=4)
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        state = {r.k: r.v for r in read_bucketed_store(spark, store).select("k", "v").collect()}
        assert state == {1: 10.0, 2: 99.0, 4: 40.0, 5: 50.0, 6: 60.0}

        # batch 2: insert k=7, delete k=1 — the stream keeps applying
        _write_events(src, [_event("c", 7, 70.0, ts=20), _event("d", 1, None, ts=21, before={"k": 1, "v": 10.0})])
        q.processAllAvailable()
        state = {r.k: r.v for r in read_bucketed_store(spark, store).select("k", "v").collect()}
        assert state == {2: 99.0, 4: 40.0, 5: 50.0, 6: 60.0, 7: 70.0}
    finally:
        q.stop()

    # aggregate the materialized store: rollup at widths 2 and 4 over k
    roll = rollup_single_pass(
        read_bucketed_store(spark, store).withColumn("one", F.lit("all")),
        time_col="k", keys=["one"], value_col="v", granularities=(2, 4),
    )
    got = {
        (r.granularity_sec, r.bucket_start): (r.sum_value, r.n_events)
        for r in roll.collect()
    }
    assert got[(2, 2)] == (99.0, 1)   # [2,4) = {2}
    assert got[(2, 4)] == (90.0, 2)   # [4,6) = {4,5}
    assert got[(2, 6)] == (130.0, 2)  # [6,8) = {6,7}
    assert got[(4, 0)] == (99.0, 1)   # [0,4) = {2}
    assert got[(4, 4)] == (220.0, 4)  # [4,8) = {4,5,6,7}


def test_default_merge_adapter_is_bucketed(spark, tmp_path):
    """foreach_batch_merge defaults to the bucketed (partition-pruned) store."""
    from siddhi_io_cdc_spark.operators.mutate import (
        BUCKET_COL,
        foreach_batch_merge,
        read_bucketed_store,
    )

    store = str(tmp_path / "store_default")
    batch = spark.createDataFrame(
        [(1, 10.0, "insert", 1), (2, 20.0, "insert", 2), (2, 99.0, "update", 3)],
        "k long, v double, operation string, ts_ms long",
    )
    apply_fn = foreach_batch_merge(spark, store, key=["k"], num_buckets=4)
    apply_fn(batch, 0)
    apply_fn(batch, 0)  # replay-idempotent

    assert any(d.startswith(BUCKET_COL + "=") for d in os.listdir(store)), (
        "default layout must be the bucketed store"
    )
    state = {r.k: r.v for r in read_bucketed_store(spark, store).collect()}
    assert state == {1: 10.0, 2: 99.0}

    import pytest

    with pytest.raises(ValueError, match="layout"):
        foreach_batch_merge(spark, store, key=["k"], layout="nope")

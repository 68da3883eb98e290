"""Property test for the bucketed changelog store (``operators.mutate``
over ``streaming/mor.py``): ANY program of random insert / update /
delete batches, applied through the ``foreachBatch`` adapter with a
replayed batch id and major compactions or minor folds at random points,
must read back equal to :func:`apply_changelog` over every event from
scratch — once over a single key and once over a composite key.

The first batch of a program bootstraps the store (it may leave it
empty); every later one appends a delta. Timestamps rise across the
whole program, so the latest event per key over all batches is the
state a sequential apply reaches.
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from siddhi_io_cdc_spark.operators.mutate import (
    apply_changelog,
    foreach_batch_merge,
    read_bucketed_store,
)
from siddhi_io_cdc_spark.streaming.mor import mor_compact, mor_fsck, mor_minor_compact

#: one event: (kind 0=insert, 1=update, 2=delete, key a, key b, value)
_events = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 3), st.integers(0, 1), st.integers(0, 99)),
    min_size=1,
    max_size=6,
)

#: a program: 1-4 batches, each with events, an after-step (0=nothing,
#: 1=major compaction, 2=minor fold) and a replay flag (re-run the batch
#: under its batch id, as the engine does after a crash)
_programs = st.lists(
    st.tuples(_events, st.integers(0, 2), st.booleans()), min_size=1, max_size=4
)

OPS = ["insert", "update", "delete"]


@pytest.mark.parametrize("key", [["a"], ["a", "b"]])
@given(program=_programs)
@settings(max_examples=3, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_changelog_store_programs_match_apply_changelog(spark, key, program, tmp_path_factory):
    store = str(tmp_path_factory.mktemp("clprop") / "store")
    schema = "a LONG, b LONG, v LONG, operation STRING, ts_ms LONG"

    def adapter():
        return foreach_batch_merge(spark, store, key=key, num_buckets=4)

    merge = adapter()
    ts, applied = 0, []
    for batch_id, (events, after_step, replay) in enumerate(program):
        rows = []
        for kind, a, b, v in events:
            ts += 1
            rows.append((a, b if len(key) == 2 else 0, v, OPS[kind], ts))
        batch = spark.createDataFrame(rows, schema)
        merge(batch, batch_id)
        applied += rows
        # Out-of-band maintenance claims the writer epoch, so the stream
        # restarts with a new adapter afterwards (the takeover procedure).
        if after_step == 1:
            mor_compact(spark, store)
            merge = adapter()
        elif after_step == 2:
            mor_minor_compact(spark, store)
            merge = adapter()
        if replay:  # a restarted engine re-runs its last batch
            merge = adapter()
            merge(batch, batch_id)

    target = spark.createDataFrame([], "a LONG, b LONG, v LONG")
    want = apply_changelog(target, spark.createDataFrame(applied, schema), key=key)
    got = read_bucketed_store(spark, store)
    assert sorted(got.columns) == ["a", "b", "v"]
    assert sorted(map(tuple, got.select("a", "b", "v").collect())) == sorted(
        map(tuple, want.select("a", "b", "v").collect())
    )
    assert not mor_fsck(spark, store)["errors"]

"""Mutating query surface — Q1/Q3/Q4 semantics incl. the NULL-update fix
(siddhi's ``update T on key`` writes the given value including NULL;
reference usage TestCaseOfCDCListeningMode.java:275-277) and the crash-safe
bucketed parquet merge store (bootstrap + per-bucket swap)."""

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from siddhi_io_cdc_spark.operators.mutate import (
    apply_changelog,
    delete_on,
    insert_into,
    merge_into_bucketed_parquet,
    read_bucketed_store,
    update_on,
)


def _target(spark):
    return spark.createDataFrame(
        [("e001", "alice", 10), ("e002", "bob", 20), ("e003", "carol", 30)],
        "id string, name string, score int",
    )


def test_update_on_writes_null_values(spark):
    # A source row that explicitly sets name=NULL must null the target column,
    # not keep the old value (match-flag join, not coalesce).
    src = spark.createDataFrame([("e001", None, 99)], "id string, name string, score int")
    out = update_on(_target(spark), src, on=["id"]).orderBy("id").collect()
    assert out[0] == Row(id="e001", name=None, score=99)
    # Unmatched rows pass through untouched.
    assert out[1] == Row(id="e002", name="bob", score=20)


def test_update_on_distinguishes_unmatched_from_null(spark):
    # No source row for e003 → e003 keeps its values even though another
    # source row carries NULLs.
    src = spark.createDataFrame([("e002", None, None)], "id string, name string, score int")
    out = {r["id"]: r for r in update_on(_target(spark), src, on=["id"]).collect()}
    assert out["e002"].name is None and out["e002"].score is None
    assert out["e003"].name == "carol" and out["e003"].score == 30


def test_insert_and_delete(spark):
    tgt = _target(spark)
    src = spark.createDataFrame([("e004", "dave", 40)], "id string, name string, score int")
    assert insert_into(tgt, src).count() == 4
    left = delete_on(tgt, spark.createDataFrame([("e002",)], "id string"), on=["id"])
    assert sorted(r["id"] for r in left.collect()) == ["e001", "e003"]


def test_apply_changelog_last_event_wins(spark):
    tgt = _target(spark)
    ev = spark.createDataFrame(
        [
            ("e001", "x", 1, "update", 10),
            ("e001", "y", 2, "delete", 20),  # later → e001 deleted
            ("e004", "dave", 40, "insert", 5),
        ],
        "id string, name string, score int, operation string, ts_ms long",
    )
    out = {r["id"]: r for r in apply_changelog(tgt, ev, key=["id"]).collect()}
    assert "e001" not in out
    assert out["e004"].name == "dave"
    assert out["e002"].name == "bob"


def test_bucketed_merge_rewrites_only_touched_partitions(spark, tmp_path):
    """A merge into the bucketed store rewrites no base file: it appends
    one delta file and one tombstone file, and the store reads back
    merged."""
    import glob
    import time as _time

    target = os.path.join(str(tmp_path), "store")
    seed = spark.createDataFrame(
        [(i, f"name{i}", "insert", 1) for i in range(100)],
        "id long, name string, operation string, ts_ms long",
    )
    merge_into_bucketed_parquet(spark, target, seed, key=["id"], num_buckets=8)
    assert read_bucketed_store(spark, target).count() == 100
    buckets = glob.glob(f"{target}/__bucket=*")
    assert len(buckets) > 1
    # The bootstrap writes each bucket once, under a rebalance on the
    # bucket: one file per bucket, not one per writer task.
    for d in buckets:
        assert len(glob.glob(f"{d}/*.parquet")) == 1, d

    before = {f: os.path.getmtime(f) for f in glob.glob(f"{target}/__bucket=*/*.parquet")}
    _time.sleep(0.05)
    batch = spark.createDataFrame(
        [(7, "UPDATED", "update", 2), (8, "", "delete", 2), (500, "new", "insert", 2)],
        "id long, name string, operation string, ts_ms long",
    )
    merge_into_bucketed_parquet(spark, target, batch, key=["id"], num_buckets=8)
    got = {r["id"]: r["name"] for r in read_bucketed_store(spark, target).collect()}
    assert got[7] == "UPDATED" and 8 not in got and got[500] == "new" and len(got) == 100

    after = {f: os.path.getmtime(f) for f in glob.glob(f"{target}/__bucket=*/*.parquet")}
    assert after == before  # no base file rewritten
    assert len(glob.glob(f"{target}/_delta/*/__seq=*/*.parquet")) == 1
    assert len(glob.glob(f"{target}/_tomb/*/__seq=*/*.parquet")) == 1


def test_bucketed_merge_recovers_interrupted_swap(spark, tmp_path):
    """A crash between the two renames of a bucket swap leaves the live
    bucket parked under ``_swap-*`` with nothing in its place; re-running
    the batch must restore it first and converge. Driven through the SCD2
    history store, the bucketed store that still swaps partitions per
    batch."""
    import glob

    from siddhi_io_cdc_spark.operators.history import merge_history_into_parquet

    schema = "id long, name string, operation string, ts_ms long"
    seed = spark.createDataFrame([(i, f"name{i}", "insert", 1) for i in range(40)], schema)
    batch = spark.createDataFrame(
        [(i, f"new{i}", "update", 2) for i in range(0, 40, 3)]
        + [(i, "", "delete", 3) for i in range(1, 40, 5)]
        + [(100, "ins", "insert", 2)],
        schema,
    )
    crashed, clean = (os.path.join(str(tmp_path), n) for n in ("crashed", "clean"))
    for target in (crashed, clean):
        merge_history_into_parquet(spark, target, seed, key=["id"], num_buckets=4)
    parked = sorted(glob.glob(f"{crashed}/__bucket=*"))[0]
    os.makedirs(f"{crashed}/_swap-deadbeef")
    os.rename(parked, f"{crashed}/_swap-deadbeef/{os.path.basename(parked)}")

    for target in (crashed, clean):
        merge_history_into_parquet(spark, target, batch, key=["id"], num_buckets=4)

    def rows(p):
        return {tuple(r) for r in spark.read.parquet(p).collect()}

    assert rows(crashed) == rows(clean)
    assert len({r[0] for r in rows(clean)}) == 41  # every key has history
    assert not glob.glob(f"{crashed}/_swap-*")


def test_bucketed_merge_delete_empties_bucket(spark, tmp_path):
    target = os.path.join(str(tmp_path), "store2")
    seed = spark.createDataFrame(
        [(1, "a", "insert", 1), (2, "b", "insert", 1)],
        "id long, name string, operation string, ts_ms long",
    )
    merge_into_bucketed_parquet(spark, target, seed, key=["id"], num_buckets=4)
    wipe = spark.createDataFrame(
        [(1, "a", "delete", 2), (2, "b", "delete", 2)],
        "id long, name string, operation string, ts_ms long",
    )
    merge_into_bucketed_parquet(spark, target, wipe, key=["id"], num_buckets=4)
    assert read_bucketed_store(spark, target).count() == 0


def test_apply_changelog_deletes_keyed_from_before_image(spark):
    """flatten's multi-op delete rows carry type DEFAULTS in the current
    columns and the real key in before_<k> — apply must re-key them."""
    from siddhi_io_cdc_spark.operators.flatten import flatten
    from siddhi_io_cdc_spark.sources.envelope import synthetic_changelog

    base = spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double")
    env = synthetic_changelog(
        base,
        F.when(F.col("k") == 3, "d").otherwise("c"),
        ts_ms=F.col("k"),
    )
    flat = flatten(env, operations=["insert", "delete"])
    target = spark.createDataFrame([], "k long, v double")
    out = {r.k: r.v for r in apply_changelog(target, flat, key=["k"]).collect()}
    assert out == {1: 10.0, 2: 20.0}  # k=3's delete must not strand a k=0 row


def test_bucketed_merge_evolves_schema(spark, tmp_path):
    """Additive evolution: a column appearing mid-stream lands as typed
    NULLs on historical rows; a column dropped upstream reads NULL on new
    rows but keeps historical values."""
    from siddhi_io_cdc_spark.operators.mutate import evolve_target_schema

    target = os.path.join(str(tmp_path), "bevolve")
    b1 = spark.createDataFrame(
        [("k1", "v1", "insert", 1), ("k2", "v2", "insert", 1)],
        "id string, v string, operation string, ts_ms long",
    )
    merge_into_bucketed_parquet(spark, target, b1, key=["id"], num_buckets=4)
    # A store bootstrapped from a batch keeps its row image, not the meta columns.
    assert sorted(read_bucketed_store(spark, target).columns) == ["id", "v"]
    b2 = spark.createDataFrame(
        [("k1", "V1", 5, "update", 2), ("k3", "v3", 6, "insert", 2)],
        "id string, v string, w long, operation string, ts_ms long",
    )
    merge_into_bucketed_parquet(spark, target, b2, key=["id"], num_buckets=4, evolve=True)

    got = {r.id: (r.v, r.w) for r in read_bucketed_store(spark, target).collect()}
    assert got["k1"] == ("V1", 5) and got["k3"] == ("v3", 6)
    # k2's bucket was untouched by the evolving batch: union schema reads
    # its missing column as NULL.
    assert got["k2"] == ("v2", None)

    # A later merge touching ONLY k2's bucket must not erase k1's w values
    # (the single-footer-sample hazard: without mergeSchema on the internal
    # read, an un-evolved footer would drop the column for the whole store).
    b3 = spark.createDataFrame(
        [("k2", "V2", "update", 3)], "id string, v string, operation string, ts_ms long"
    )
    merge_into_bucketed_parquet(spark, target, b3, key=["id"], num_buckets=4, evolve=True)
    got = {r.id: (r.v, r.w) for r in read_bucketed_store(spark, target).collect()}
    assert got["k1"] == ("V1", 5) and got["k2"] == ("V2", None) and got["k3"] == ("v3", 6)

    # upstream drops v: the new row gets NULL v, the others keep theirs
    b4 = spark.createDataFrame(
        [("k4", 9, "insert", 4)], "id string, w long, operation string, ts_ms long"
    )
    merge_into_bucketed_parquet(spark, target, b4, key=["id"], num_buckets=4, evolve=True)
    got = {r.id: (r.v, r.w) for r in read_bucketed_store(spark, target).collect()}
    assert got == {"k1": ("V1", 5), "k2": ("V2", None), "k3": ("v3", 6), "k4": (None, 9)}

    # pure-projection check, no store: after alignment every target column
    # is present on the events side (events keep their extra meta columns).
    t, e = evolve_target_schema(read_bucketed_store(spark, target), b2)
    assert set(t.columns) <= set(e.columns)


def test_delta_layout_gates_cleanly(spark, tmp_path):
    """layout='delta' routes to MERGE INTO when delta-spark exists; in this
    container the import gate must raise a CLEAR error, not fail obscurely."""
    import pytest

    from siddhi_io_cdc_spark.operators.mutate import foreach_batch_merge

    batch = spark.createDataFrame(
        [(1, 1.0, "insert", 1)], "k long, v double, operation string, ts_ms long"
    )
    apply_fn = foreach_batch_merge(spark, str(tmp_path / "d"), key=["k"], layout="delta")
    try:
        import delta  # noqa: F401

        have_delta = True
    except ImportError:
        have_delta = False
    if not have_delta:
        with pytest.raises(ImportError, match="delta-spark"):
            apply_fn(batch, 0)


def test_foreach_batch_merge_refuses_layout_interleave(spark, tmp_path):
    """A checkpointed stream resuming against a store written in another
    layout must fail fast: a plain parquet directory, a bucketed store and
    a Delta table are not interchangeable on disk (silent interleave would
    corrupt reads)."""
    from siddhi_io_cdc_spark.operators.mutate import foreach_batch_merge

    batch = spark.createDataFrame(
        [(1, "a", 10, "insert")], "k long, v string, ts_ms long, operation string"
    )
    # A plain parquet directory (written outside the package) is refused.
    flat = str(tmp_path / "flat_store")
    batch.drop("operation", "ts_ms").write.parquet(flat)
    with pytest.raises(ValueError, match="already uses the 'flat' layout"):
        foreach_batch_merge(spark, flat, key=["k"])
    # The full-rewrite flat layout is gone.
    with pytest.raises(ValueError, match="layout must be 'bucketed' or 'delta'"):
        foreach_batch_merge(spark, str(tmp_path / "new_store"), key=["k"], layout="flat")

    # A bucketed store opened with another layout, by path and by URI.
    bucketed = str(tmp_path / "bucketed_store")
    apply_b = foreach_batch_merge(spark, bucketed, key=["k"], num_buckets=4)
    apply_b(batch, 0)
    for path in (bucketed, "file://" + bucketed):
        with pytest.raises(ValueError, match="already uses the 'bucketed' layout"):
            foreach_batch_merge(spark, path, key=["k"], layout="delta")
    # A copy-on-write bucketed store (bucket directories at the root and no
    # _mor.json, the layout before the store became merge-on-read) is
    # refused by every writer and by the reader; nothing migrates it.
    legacy = str(tmp_path / "cow_store")
    batch.drop("operation", "ts_ms").withColumn("__bucket", F.lit(0)).write.partitionBy(
        "__bucket"
    ).parquet(legacy)
    for path in (legacy, "file://" + legacy):
        with pytest.raises(ValueError, match="'copy-on-write bucketed' layout"):
            foreach_batch_merge(spark, path, key=["k"], num_buckets=4)
    with pytest.raises(ValueError, match="'copy-on-write bucketed' layout"):
        merge_into_bucketed_parquet(spark, legacy, batch, key=["k"], num_buckets=4)
    with pytest.raises(ValueError, match="no bucketed merge store"):
        read_bucketed_store(spark, legacy)


@pytest.mark.parametrize("store", ["changelog", "history", "rollup"])
def test_empty_first_batch_leaves_a_usable_store(spark, tmp_path, store):
    """A first batch with no surviving rows must create a readable store
    (one zero-row partition): the next batch merges into it, and the store
    then holds exactly what that batch alone creates. A created store has
    one parquet file per bucket."""
    import glob

    from siddhi_io_cdc_spark.operators.history import merge_history_into_parquet
    from siddhi_io_cdc_spark.streaming.rollup_sink import merge_rollup_batch

    schema = "id long, v double, operation string, ts_ms long"
    batch = spark.createDataFrame([(k, float(k), "insert", 2) for k in range(40)], schema)
    if store == "changelog":
        empty = spark.createDataFrame([(1, 0.0, "delete", 1)], schema)  # nothing survives
        merge = lambda p, b: merge_into_bucketed_parquet(spark, p, b, key=["id"], num_buckets=4)
    elif store == "history":
        empty = batch.limit(0)
        merge = lambda p, b: merge_history_into_parquet(spark, p, b, key=["id"], num_buckets=4)
    else:
        empty = batch.limit(0)
        merge = lambda p, b: merge_rollup_batch(
            spark, p, b, "ts_ms", ["id"], "v", granularity=10, num_buckets=4
        )

    after_empty, fresh = str(tmp_path / "after_empty"), str(tmp_path / "fresh")
    merge(after_empty, empty)
    assert spark.read.parquet(after_empty).count() == 0
    merge(after_empty, batch)
    # Without AQE's coalescing, each of the 4 shuffle partitions of a
    # writer without the rebalance hint would hold rows of every bucket.
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    try:
        merge(fresh, batch)
    finally:
        spark.conf.set(key, "true")

    def rows(p):
        return {tuple(r) for r in spark.read.parquet(p).collect()}

    assert len(rows(fresh)) == 40
    assert rows(after_empty) == rows(fresh)
    for p in (after_empty, fresh):
        buckets = glob.glob(f"{p}/__bucket=*")
        assert len(buckets) == 4
        for d in buckets:
            assert len(glob.glob(f"{d}/*.parquet")) == 1, d


def test_foreach_batch_merge_refuses_fewer_buckets(spark, tmp_path):
    """A store bootstrapped with the default 64 buckets must not be merged
    with num_buckets=8, nor with 128: the store records its bucket count
    and a key's bucket depends on it."""
    import pytest

    from siddhi_io_cdc_spark.operators.mutate import foreach_batch_merge

    store = str(tmp_path / "store")
    batch = spark.createDataFrame(
        [(k, "a", 1, "insert") for k in range(20)],
        "id long, v string, ts_ms long, operation string",
    )
    foreach_batch_merge(spark, store, key=["id"])(batch, 0)
    with pytest.raises(ValueError, match="num_buckets=8"):
        foreach_batch_merge(spark, store, key=["id"], num_buckets=8)
    with pytest.raises(ValueError, match="num_buckets=128"):
        foreach_batch_merge(spark, store, key=["id"], num_buckets=128)
    foreach_batch_merge(spark, store, key=["id"], num_buckets=64)


def test_foreach_batch_merge_is_fenced_by_out_of_band_compaction(spark, tmp_path):
    """The adapter threads each batch's writer epoch into the next batch:
    a compaction run beside a live stream fences it loudly, and a
    restarted adapter carries on from the compacted store."""
    from siddhi_io_cdc_spark.operators.mutate import foreach_batch_merge
    from siddhi_io_cdc_spark.streaming.mor import MorWriterFenced, mor_compact

    store = str(tmp_path / "store")
    schema = "id long, v string, ts_ms long, operation string"
    merge = foreach_batch_merge(spark, store, key=["id"], num_buckets=4)
    merge(spark.createDataFrame([(k, "a", 1, "insert") for k in range(6)], schema), 0)
    merge(spark.createDataFrame([(1, "b", 2, "update")], schema), 1)
    assert mor_compact(spark, store)
    batch = spark.createDataFrame([(2, "", 3, "delete")], schema)
    with pytest.raises(MorWriterFenced):
        merge(batch, 2)
    foreach_batch_merge(spark, store, key=["id"], num_buckets=4)(batch, 2)
    got = {r.id: r.v for r in read_bucketed_store(spark, store).collect()}
    assert got == {0: "a", 1: "b", 3: "a", 4: "a", 5: "a"}

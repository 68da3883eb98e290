"""End-to-end tests of the cdc-poll streaming source.

Spark restatements of the reference's polling-mode integration tests:
- incremental capture     (TestCaseOfCDCPollingMode.java:224-300)
- gap-wait / out-of-order (:302-388)
- resume without loss     (:393-515)
"""

import os
import time

import pandas as pd
import pytest

from siddhi_io_cdc_spark.sources import register_cdc_poll


def _write_rows(path, ids, fname):
    df = pd.DataFrame({"id": ids, "name": [f"n{i}" for i in ids]})
    df.to_parquet(os.path.join(path, fname))


def _read_stream(spark, path, **opts):
    reader = (
        spark.readStream.format("cdc-poll")
        .option("path", path)
        .option("pollingColumn", "id")
    )
    for k, v in opts.items():
        reader = reader.option(k, str(v))
    return reader.load()


def _drain(query, deadline=30.0):
    query.processAllAvailable()


@pytest.fixture(autouse=True)
def _register(spark):
    register_cdc_poll(spark)


def _memory_query(spark, df, name, checkpoint):
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime="200 milliseconds")
        .start()
    )


def test_capture_new_inserts_only(spark, tmp_path):
    """startFrom=latest: pre-existing rows skipped, new rows delivered."""
    table = tmp_path / "t1"
    table.mkdir()
    _write_rows(str(table), [0, 1, 2], "part-0.parquet")

    df = _read_stream(spark, str(table))
    q = _memory_query(spark, df, "t1_sink", str(tmp_path / "ckpt1"))
    try:
        _drain(q)
        assert spark.sql("SELECT count(*) FROM t1_sink").first()[0] == 0  # seeded at max
        _write_rows(str(table), [3, 4], "part-1.parquet")
        _drain(q)
        got = {r["id"] for r in spark.sql("SELECT id FROM t1_sink").collect()}
        assert got == {3, 4}
    finally:
        q.stop()


def test_earliest_captures_existing(spark, tmp_path):
    table = tmp_path / "t2"
    table.mkdir()
    _write_rows(str(table), [10, 11], "part-0.parquet")
    df = _read_stream(spark, str(table), startFrom="earliest")
    q = _memory_query(spark, df, "t2_sink", str(tmp_path / "ckpt2"))
    try:
        _drain(q)
        got = {r["id"] for r in spark.sql("SELECT id FROM t2_sink").collect()}
        assert got == {10, 11}
    finally:
        q.stop()


def test_gap_wait_holds_then_delivers(spark, tmp_path):
    """Insert 1,2,4 → only 1,2 flow; insert 3 → 3 and 4 flow (reference
    out-of-order test, ids 1,2,4 then 3)."""
    table = tmp_path / "t3"
    table.mkdir()
    _write_rows(str(table), [0], "part-0.parquet")  # seed so offset starts at 0

    df = _read_stream(
        spark, str(table), waitOnMissedRecord="true", missedRecordWaitingTimeout=60
    )
    q = _memory_query(spark, df, "t3_sink", str(tmp_path / "ckpt3"))
    try:
        _drain(q)
        _write_rows(str(table), [1, 2, 4], "part-1.parquet")
        _drain(q)
        got = {r["id"] for r in spark.sql("SELECT id FROM t3_sink").collect()}
        assert got == {1, 2}, f"gap at 3 must hold back 4, got {got}"
        _write_rows(str(table), [3], "part-2.parquet")
        _drain(q)
        got = {r["id"] for r in spark.sql("SELECT id FROM t3_sink").collect()}
        assert got == {1, 2, 3, 4}
    finally:
        q.stop()


def test_gap_wait_timeout_moves_on(spark, tmp_path):
    table = tmp_path / "t4"
    table.mkdir()
    _write_rows(str(table), [0], "part-0.parquet")
    df = _read_stream(
        spark, str(table), waitOnMissedRecord="true", missedRecordWaitingTimeout=2
    )
    q = _memory_query(spark, df, "t4_sink", str(tmp_path / "ckpt4"))
    try:
        _drain(q)
        _write_rows(str(table), [1, 2, 4], "part-1.parquet")
        deadline = time.time() + 20
        got = set()
        while time.time() < deadline:
            _drain(q)
            got = {r["id"] for r in spark.sql("SELECT id FROM t4_sink").collect()}
            if got == {1, 2, 4}:
                break
            time.sleep(0.3)
        assert got == {1, 2, 4}, f"timeout should release past the gap, got {got}"
    finally:
        q.stop()


def test_resume_without_loss(spark, tmp_path):
    """persist → stop → rows arrive while down → restart → nothing lost
    (TestCaseOfCDCPollingMode.java:393-515)."""
    table = tmp_path / "t5"
    table.mkdir()
    ckpt = str(tmp_path / "ckpt5")
    out = str(tmp_path / "out5")
    _write_rows(str(table), [0, 1], "part-0.parquet")

    def _file_query():
        # memory sink can't recover from checkpoints; the file sink can.
        return (
            _read_stream(spark, str(table))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .start()
        )

    q = _file_query()
    try:
        _drain(q)
        _write_rows(str(table), [2], "part-1.parquet")
        _drain(q)
        assert {r["id"] for r in spark.read.parquet(out).select("id").collect()} == {2}
    finally:
        q.stop()

    # Source is "down"; new rows land in the table meanwhile.
    _write_rows(str(table), [3, 4], "part-2.parquet")

    q2 = _file_query()
    try:
        _drain(q2)
        got = {r["id"] for r in spark.read.parquet(out).select("id").collect()}
        assert got == {2, 3, 4}, f"rows inserted while down must be delivered exactly once, got {got}"
    finally:
        q2.stop()


def test_offset_discovery_uses_row_group_stats(spark, tmp_path):
    """Initial/latest offset must come from parquet footer statistics, not a
    data scan (scale rule: O(row groups) driver work, never O(rows))."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from siddhi_io_cdc_spark.sources.polling import CDCPollStreamReader

    path = str(tmp_path / "tbl")
    os.makedirs(path)
    tbl = pa.table({"event_id": list(range(1, 5001)), "v": [str(i) for i in range(5000)]})
    pq.write_table(tbl, f"{path}/part-0.parquet", row_group_size=500)

    reader = CDCPollStreamReader.__new__(CDCPollStreamReader)
    reader.path = path
    reader.column = "event_id"
    mn, mx = reader._stats_minmax()
    assert (mn, mx) == (1, 5000)

    # Poison the data-scan path: stats alone must answer _current_max.
    reader._col_values = lambda *a, **k: (_ for _ in ()).throw(AssertionError("full scan!"))
    assert reader._current_max() == 5000


def test_gap_scan_is_windowed(spark, tmp_path):
    """Gap-wait contiguity check reads only (last, last+maxKeysPerTrigger]."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from siddhi_io_cdc_spark.sources.polling import CDCPollStreamReader

    path = str(tmp_path / "tbl")
    os.makedirs(path)
    ids = [i for i in range(1, 1001) if i != 500] + [5000]
    pq.write_table(pa.table({"event_id": ids}), f"{path}/part-0.parquet")

    reader = CDCPollStreamReader.__new__(CDCPollStreamReader)
    reader.path = path
    reader.column = "event_id"
    reader.wait_on_missed = True
    reader.missed_timeout = 1e9
    reader.max_keys_per_trigger = 100

    seen = {}
    orig = CDCPollStreamReader._col_values
    def spy(self, low=None, high=None):
        seen["bounds"] = (low, high)
        return orig(self, low=low, high=high)
    reader._col_values = spy.__get__(reader)

    off = reader._advance({"last": 0})
    assert seen["bounds"] == (0, 100)       # bounded window, not full backlog
    assert off["last"] == 100                # contiguous through the window

    off2 = reader._advance({"last": 450})
    assert off2["last"] == 499               # stops at the 500 gap
    assert off2["gap_next"] == 500


def test_columns_option_prunes_schema(spark, tmp_path):
    import os
    import time as _t

    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = str(tmp_path / "tbl")
    os.makedirs(tbl)
    pq.write_table(
        pa.table({"id": pa.array([1, 2], pa.int64()),
                  "a": pa.array(["x", "y"], pa.string()),
                  "b": pa.array([1.0, 2.0], pa.float64())}),
        os.path.join(tbl, f"p-{_t.time_ns()}.parquet"),
    )
    register_cdc_poll(spark)
    stream = (
        spark.readStream.format("cdc-poll")
        .option("path", tbl)
        .option("pollingColumn", "id")
        .option("startFrom", "earliest")
        .option("columns", "id,b")
        .load()
    )
    assert stream.columns == ["id", "b"]
    q = (
        stream.writeStream.format("memory").queryName("pruned_sink")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("select * from pruned_sink order by id").collect()
        assert [(r.id, r.b) for r in rows] == [(1, 1.0), (2, 2.0)]
    finally:
        q.stop()


def test_stats_minmax_per_fragment(spark, tmp_path):
    """One stat-less legacy file must not degrade offset discovery to a
    full-table driver scan: covered fragments answer from footer stats and
    only the stat-less fragment's polling column is read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from siddhi_io_cdc_spark.sources.polling import CDCPollStreamReader

    path = str(tmp_path / "tbl")
    os.makedirs(path)
    pq.write_table(pa.table({"event_id": list(range(1, 1001))}),
                   f"{path}/with-stats.parquet", row_group_size=100)
    pq.write_table(pa.table({"event_id": [2000, 1500]}),
                   f"{path}/no-stats.parquet", write_statistics=False)

    reader = CDCPollStreamReader.__new__(CDCPollStreamReader)
    reader.path = path
    reader.column = "event_id"
    assert reader._stats_minmax() == (1, 2000)

    # The whole-table scan path must stay untouched — stats + the targeted
    # single-fragment read answer _current_max alone.
    reader._col_values = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("full-table driver scan!"))
    assert reader._current_max() == 2000


def test_timestamp_offset_advances_stats_only(spark, tmp_path):
    """A JSON-stringified (timestamp) offset advances via footer statistics
    and offset coercion — never an unbounded (last, inf) driver column read
    (the round-2 scale bug on the non-integer offset path)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from siddhi_io_cdc_spark.sources.polling import CDCPollStreamReader, _jsonable

    path = str(tmp_path / "tbl")
    os.makedirs(path)
    base = dt.datetime(2024, 1, 1)
    ts = [base + dt.timedelta(seconds=i) for i in range(1000)]
    pq.write_table(
        pa.table({"ts": pa.array(ts, pa.timestamp("us")), "v": list(range(1000))}),
        f"{path}/part-0.parquet", row_group_size=100)

    reader = CDCPollStreamReader.__new__(CDCPollStreamReader)
    reader.path = path
    reader.column = "ts"
    reader.wait_on_missed = False

    last = _jsonable(ts[500])  # what a checkpoint round-trip hands back
    assert isinstance(last, str)
    # Poison every data-read path: stats must answer alone.
    reader._col_values = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("driver column read on the non-int offset path!"))
    off = reader._advance({"last": last})
    assert off["last"] == _jsonable(ts[-1])
    # Caught up: offset holds, still zero data reads.
    assert reader._advance(dict(off)) == off


def test_timestamp_polling_column_end_to_end(spark, tmp_path):
    """cdc-poll over a timestamp polling column: offsets JSON-stringify and
    the executor read path casts the bounds back (Arrow has no
    greater(timestamp, string) kernel)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    table = tmp_path / "ts_tbl"
    table.mkdir()
    base = dt.datetime(2024, 1, 1)

    def write(lo, n, fname):
        ts = [base + dt.timedelta(seconds=lo + i) for i in range(n)]
        pq.write_table(
            pa.table({"ts": pa.array(ts, pa.timestamp("us")),
                      "v": list(range(lo, lo + n))}),
            str(table / fname))

    write(0, 5, "part-0.parquet")
    stream = (
        spark.readStream.format("cdc-poll")
        .option("path", str(table))
        .option("pollingColumn", "ts")
        .load()
    )
    q = _memory_query(spark, stream, "ts_sink", str(tmp_path / "ckpt_ts"))
    try:
        _drain(q)
        assert spark.sql("SELECT count(*) FROM ts_sink").first()[0] == 0
        write(5, 3, "part-1.parquet")
        _drain(q)
        got = sorted(r["v"] for r in spark.sql("SELECT v FROM ts_sink").collect())
        assert got == [5, 6, 7]
        write(8, 2, "part-2.parquet")
        _drain(q)
        got = sorted(r["v"] for r in spark.sql("SELECT v FROM ts_sink").collect())
        assert got == [5, 6, 7, 8, 9]
    finally:
        q.stop()


def test_ordered_delivery_option(spark, tmp_path):
    """orderByPollingColumn=true: rows within a micro-batch arrive sorted by
    the polling column even when files interleave keys (reference §4
    ordered-delivery parity, single-partition case = global order)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = tmp_path / "ord_tbl"
    table.mkdir()
    pq.write_table(pa.table({"id": [0]}), str(table / "p0.parquet"))

    stream = (
        spark.readStream.format("cdc-poll")
        .option("path", str(table))
        .option("pollingColumn", "id")
        .option("numPartitions", "1")
        .option("orderByPollingColumn", "true")
        .load()
    )
    seen = []

    def capture(batch_df, batch_id):
        seen.extend(r["id"] for r in batch_df.collect())

    q = (
        stream.writeStream.foreachBatch(capture)
        .option("checkpointLocation", str(tmp_path / "ck_ord"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        # Interleaved keys across files: scan order != key order.
        pq.write_table(pa.table({"id": [5, 2, 9]}), str(table / "p1.parquet"))
        pq.write_table(pa.table({"id": [7, 1, 3]}), str(table / "p2.parquet"))
        q.processAllAvailable()
    finally:
        q.stop()
    assert seen == sorted(seen) and set(seen) == {1, 2, 3, 5, 7, 9}


def test_partitions_prune_fragments_by_stats(spark, tmp_path):
    """Storage-natural partitioning: fragments wholly outside (low, high]
    never appear in any slice (footer-stats pruning), and kept fragments are
    spread across balanced groups with each file in exactly one slice."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from siddhi_io_cdc_spark.sources.polling import CDCPollStreamReader

    path = str(tmp_path / "tbl")
    os.makedirs(path)
    pq.write_table(pa.table({"id": list(range(1, 101))}), f"{path}/old.parquet")
    pq.write_table(pa.table({"id": list(range(101, 161))}), f"{path}/mid1.parquet")
    pq.write_table(pa.table({"id": list(range(161, 201))}), f"{path}/mid2.parquet")
    pq.write_table(pa.table({"id": list(range(201, 301))}), f"{path}/future.parquet")

    reader = CDCPollStreamReader.__new__(CDCPollStreamReader)
    reader.path = path
    reader.column = "id"
    reader.field_names = ["id"]
    reader.ordered = False
    reader.num_partitions = 2
    reader._prev = None

    parts = reader.partitions({"last": 100}, {"last": 200})
    all_paths = [p for part in parts for p in (part.paths or [])]
    names = {os.path.basename(p) for p in all_paths}
    assert names == {"mid1.parquet", "mid2.parquet"}
    assert len(all_paths) == len(set(all_paths)), "each fragment in exactly one slice"
    # Rows delivered are exactly the window, via the executor read path.
    rows = []
    for part in parts:
        for batch in reader.read(part):
            rows += batch.column(0).to_pylist()
    assert sorted(rows) == list(range(101, 201))


def test_resume_without_loss_timestamp_column(spark, tmp_path):
    """Checkpoint-restart with a TIMESTAMP polling column: the offset
    round-trips through Spark's offset JSON as a string, and the restarted
    reader must coerce it back and deliver rows that arrived while down —
    exactly once (the true e2e path of the round-3 offset-coercion fix)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    table = tmp_path / "ts_resume"
    table.mkdir()
    ckpt = str(tmp_path / "ckpt_tsr")
    out = str(tmp_path / "out_tsr")
    base = dt.datetime(2024, 1, 1)

    def write(lo, n, fname):
        ts = [base + dt.timedelta(seconds=lo + i) for i in range(n)]
        pq.write_table(
            pa.table({"ts": pa.array(ts, pa.timestamp("us")),
                      "v": list(range(lo, lo + n))}),
            str(table / fname))

    def file_query():
        return (
            spark.readStream.format("cdc-poll")
            .option("path", str(table))
            .option("pollingColumn", "ts")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .start()
        )

    write(0, 3, "p0.parquet")
    q = file_query()
    try:
        _drain(q)
        write(3, 2, "p1.parquet")
        _drain(q)
        assert {r["v"] for r in spark.read.parquet(out).collect()} == {3, 4}
    finally:
        q.stop()

    # Down: more rows land.
    write(5, 3, "p2.parquet")

    q2 = file_query()
    try:
        _drain(q2)
        got = sorted(r["v"] for r in spark.read.parquet(out).collect())
        assert got == [3, 4, 5, 6, 7], got
    finally:
        q2.stop()

def _bare_reader(path, column, ordered=False, num_partitions=4):
    from siddhi_io_cdc_spark.sources.polling import CDCPollStreamReader

    r = CDCPollStreamReader.__new__(CDCPollStreamReader)
    r.path = path
    r.column = column
    r.start_from = "latest"
    r.field_names = [column]
    r.ordered = ordered
    r.num_partitions = num_partitions
    r.wait_on_missed = False
    r.missed_timeout = -1
    r.max_keys_per_trigger = 1_000_000
    r._prev = None
    return r


def test_ordered_earliest_catchup_multipartition_monotone(tmp_path):
    """orderByPollingColumn + numPartitions>1 on the startFrom=earliest
    catch-up (low == EMPTY sentinel): slices must carry monotone,
    non-overlapping key ranges so in-order partition consumption yields
    globally ordered keys — the documented guarantee. Regression for the
    fragment-group fall-through that emitted overlapping ranges."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "tbl")
    os.makedirs(path)
    # Keys interleaved ACROSS files so fragment grouping would overlap.
    pq.write_table(pa.table({"id": [1, 50, 99, 7, 62]}), f"{path}/a.parquet")
    pq.write_table(pa.table({"id": [2, 51, 98, 30, 77]}), f"{path}/b.parquet")
    pq.write_table(pa.table({"id": [3, 52, 97, 44, 81]}), f"{path}/c.parquet")

    reader = _bare_reader(path, "id", ordered=True, num_partitions=3)
    parts = reader.partitions({"last": -1}, {"last": 99})
    assert len(parts) > 1, "catch-up must still parallelize"
    rows = []
    for part in parts:  # consume partitions IN ORDER
        part_rows = []
        for batch in reader.read(part):
            part_rows += batch.column(0).to_pylist()
        assert part_rows == sorted(part_rows)
        rows += part_rows
    assert rows == sorted(rows), "global order across in-order partitions"
    assert set(rows) == {1, 2, 3, 7, 30, 44, 50, 51, 52, 62, 77, 81, 97, 98, 99}


def test_ordered_timestamp_multipartition_monotone(tmp_path):
    """Same guarantee for a non-integer (timestamp) polling column, with the
    low bound in its JSON-string checkpoint form."""
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "ts_tbl")
    os.makedirs(path)
    base = datetime(2026, 1, 1)
    ts = [base + timedelta(minutes=m) for m in range(60)]
    # Interleave across files.
    pq.write_table(pa.table({"ts": ts[0::3]}), f"{path}/a.parquet")
    pq.write_table(pa.table({"ts": ts[1::3]}), f"{path}/b.parquet")
    pq.write_table(pa.table({"ts": ts[2::3]}), f"{path}/c.parquet")

    reader = _bare_reader(path, "ts", ordered=True, num_partitions=4)
    low = str(ts[9])   # JSON round-trip renders timestamps as strings
    high = str(ts[-1])
    parts = reader.partitions({"last": low}, {"last": high})
    assert len(parts) > 1
    rows = []
    for part in parts:
        part_rows = []
        for batch in reader.read(part):
            part_rows += batch.column(0).to_pylist()
        assert part_rows == sorted(part_rows)
        rows += part_rows
    assert rows == sorted(rows)
    assert rows == ts[10:], "window (low, high] exactly"


def test_uncastable_offset_raises_instead_of_string_compare(tmp_path):
    """A checkpointed offset that cannot be cast back into the polling
    column's type must fail loudly — a lexicographic fallback could silently
    stall the stream (str(9.5) > str(10.2))."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from datetime import datetime

    path = str(tmp_path / "bad_off")
    os.makedirs(path)
    pq.write_table(pa.table({"ts": [datetime(2026, 1, 1)]}), f"{path}/a.parquet")

    reader = _bare_reader(path, "ts")
    reader._prev = {"last": "not-a-timestamp"}
    with pytest.raises(RuntimeError, match="cannot be cast back"):
        reader.latestOffset()


def _count_footer_reads(monkeypatch):
    from siddhi_io_cdc_spark.sources import polling

    reads = []
    orig = polling._read_file_stats

    def spy(filesystem, path, column):
        reads.append(os.path.basename(path))
        return orig(filesystem, path, column)

    monkeypatch.setattr(polling, "_read_file_stats", spy)
    return reads


def _trigger(reader):
    """One trigger's driver passes: latestOffset, then partitions."""
    start = dict(reader._prev)
    end = reader.latestOffset()
    return end, reader.partitions(start, end)


def test_offset_discovery_reads_only_new_footers(tmp_path, monkeypatch):
    """Per trigger, footers are read for new or changed files only: an
    unchanged zone costs zero footer reads, k new files cost exactly k."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "zone")
    os.makedirs(path)
    for i in range(4):
        pq.write_table(pa.table({"id": list(range(i * 10 + 1, i * 10 + 11))}),
                       f"{path}/f{i}.parquet")
    reads = _count_footer_reads(monkeypatch)
    reader = _bare_reader(path, "id")
    reader.initialOffset()
    assert reader._prev == {"last": 40}
    assert len(reads) == 4

    reads.clear()
    end, _ = _trigger(reader)
    assert end == {"last": 40} and reads == []

    pq.write_table(pa.table({"id": [41, 42]}), f"{path}/f4.parquet")
    pq.write_table(pa.table({"id": [43]}), f"{path}/f5.parquet")
    end, parts = _trigger(reader)
    assert end == {"last": 43}
    assert sorted(reads) == ["f4.parquet", "f5.parquet"]
    kept = sorted(os.path.basename(p) for part in parts for p in part.paths)
    assert kept == ["f4.parquet", "f5.parquet"]


def test_offset_cache_rereads_changed_and_drops_deleted_files(tmp_path, monkeypatch):
    """A file rewritten in place (new size) is re-read, so the offset and
    the fragment pruning see its new max; a deleted file leaves no entry."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "zone")
    os.makedirs(path)
    pq.write_table(pa.table({"id": [1, 2, 3]}), f"{path}/a.parquet")
    pq.write_table(pa.table({"id": [4, 5]}), f"{path}/b.parquet")
    reads = _count_footer_reads(monkeypatch)
    reader = _bare_reader(path, "id")
    reader.initialOffset()
    reads.clear()

    pq.write_table(pa.table({"id": list(range(1, 101))}), f"{path}/a.parquet")
    assert reader._current_max() == 100
    assert reads == ["a.parquet"]
    parts = reader.partitions({"last": 5}, {"last": 100})
    assert [os.path.basename(p) for part in parts for p in part.paths] == ["a.parquet"]

    os.remove(f"{path}/a.parquet")
    assert reader._stats_minmax() == (4, 5)
    assert [os.path.basename(p) for p in reader._stats_cache] == ["b.parquet"]

    # Each reader has its own cache, even when built without __init__.
    other = _bare_reader(str(tmp_path / "other"), "id")
    os.makedirs(other.path)
    pq.write_table(pa.table({"id": [7]}), f"{other.path}/c.parquet")
    assert other._current_max() == 7 and reader._current_max() == 5


@pytest.mark.parametrize("ordered", [False, True])
def test_file_still_being_written_is_not_landed_yet(tmp_path, ordered):
    """A landing file listed while it is still being written (empty, then
    without its footer) is skipped by the trigger instead of failing it,
    on the default and on the ordered path; its rows flow on the trigger
    after the write completes."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    def parquet_bytes(ids):
        buf = io.BytesIO()
        pq.write_table(pa.table({"id": ids}), buf)
        return buf.getvalue()

    def land(name, data):
        with open(f"{path}/{name}", "wb") as f:
            f.write(data)

    def trigger_rows():
        end, parts = _trigger(reader)
        rows = [v for part in parts for b in reader.read(part) for v in b.column(0).to_pylist()]
        return end, sorted(rows)

    path = str(tmp_path / "zone")
    os.makedirs(path)
    land("a.parquet", parquet_bytes([1, 2, 3]))
    reader = _bare_reader(path, "id", ordered=ordered)
    reader.initialOffset()
    assert reader._prev == {"last": 3}

    b, c = parquet_bytes([4, 5, 6]), parquet_bytes([7, 8, 9])
    for partial in (b"", b[: len(b) // 2]):
        land("b.parquet", partial)
        assert trigger_rows() == ({"last": 3}, [])
        assert [os.path.basename(p) for p in reader._stats_cache] == ["a.parquet"]

    land("b.parquet", b)
    land("c.parquet", c[: len(c) // 2])
    assert trigger_rows() == ({"last": 6}, [4, 5, 6])
    land("c.parquet", c)
    assert trigger_rows() == ({"last": 9}, [7, 8, 9])


def test_gap_scan_reads_only_overlapping_files(tmp_path, monkeypatch):
    """The gap-wait contiguity scan opens only files whose cached [min, max]
    can overlap the window, plus every stat-less file."""
    import pyarrow as pa
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    path = str(tmp_path / "zone")
    os.makedirs(path)
    pq.write_table(pa.table({"id": list(range(1, 101))}), f"{path}/old.parquet")
    pq.write_table(pa.table({"id": [101, 102, 104]}), f"{path}/new.parquet")
    pq.write_table(pa.table({"id": [90]}), f"{path}/nostats.parquet",
                   write_statistics=False)
    reader = _bare_reader(path, "id")
    reader.wait_on_missed = True
    reader.missed_timeout = 1e9

    scanned = []
    orig = pads.dataset

    def spy(source, *a, **k):
        if isinstance(source, list):
            scanned.append(sorted(os.path.basename(p) for p in source))
        return orig(source, *a, **k)

    monkeypatch.setattr(pads, "dataset", spy)
    off = reader._advance({"last": 100})
    assert off["last"] == 102 and off["gap_next"] == 103
    assert scanned == [["new.parquet", "nostats.parquet"]]


def _zone_of(tmp_path, rows_per_file):
    """A landing zone with one file per entry of ``rows_per_file``, ids
    consecutive from 1; returns (path, total rows)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "zone")
    os.makedirs(path)
    nxt = 1
    for i, n in enumerate(rows_per_file):
        pq.write_table(pa.table({"id": list(range(nxt, nxt + n))}), f"{path}/f{i:02d}.parquet")
        nxt += n
    return path, nxt - 1


def _group_paths(parts):
    groups = [part.paths for part in parts]
    flat = [p for g in groups for p in g]
    assert len(flat) == len(set(flat)), "each file in exactly one group"
    return groups, flat


def test_small_window_is_one_read_task(tmp_path):
    """A live-tail-sized window (12 files, 1,800 rows) is one task even with
    numPartitions=4: every file in one group, and its read is the window."""
    path, total = _zone_of(tmp_path, [150] * 12)
    reader = _bare_reader(path, "id", num_partitions=4)
    parts = reader.partitions({"last": 0}, {"last": total})
    groups, flat = _group_paths(parts)
    assert len(groups) == 1 and len(flat) == 12
    rows = [v for batch in reader.read(parts[0]) for v in batch.column(0).to_pylist()]
    assert sorted(rows) == list(range(1, total + 1))


@pytest.mark.parametrize(
    "rows_per_file, num_partitions, want",
    [([10_000] * 8, 4, 4),  # numPartitions caps the groups
     ([2_500] * 10, 8, 3)],  # ceil(25,000 / ROWS_PER_READ_TASK)
)
def test_read_groups_follow_window_rows(tmp_path, rows_per_file, num_partitions, want):
    """The group count is min(numPartitions, files, ceil(rows / 10,000))."""
    from siddhi_io_cdc_spark.sources.polling import ROWS_PER_READ_TASK

    assert ROWS_PER_READ_TASK == 10_000
    path, total = _zone_of(tmp_path, rows_per_file)
    reader = _bare_reader(path, "id", num_partitions=num_partitions)
    groups, flat = _group_paths(reader.partitions({"last": -1}, {"last": total}))
    assert len(groups) == want and len(flat) == len(rows_per_file)


@pytest.mark.parametrize("option", ["numPartitions", "maxKeysPerTrigger"])
@pytest.mark.parametrize("value", ["0", "-2"])
def test_non_positive_count_option_is_rejected(option, value):
    """numPartitions and maxKeysPerTrigger below 1 fail when the reader is
    built (i.e. at .start()), naming the option and its value, instead of
    failing later in partitions() or stalling the stream silently."""
    from pyspark.sql.types import LongType, StructField, StructType

    from siddhi_io_cdc_spark.sources.polling import CDCPollStreamReader

    schema = StructType([StructField("id", LongType())])
    options = {"path": "/unused", "pollingColumn": "id", option: value}
    with pytest.raises(ValueError, match=rf"{option}.*{value}"):
        CDCPollStreamReader(schema, options)


def test_gap_wait_timeout_per_gap_cycles(spark, tmp_path):
    """Reference semantics (WaitOnMissingRecordPollingStrategy.java:117-141):
    each gap waits its OWN timeout. The first timeout releases only the
    island after the first gap ({4,5}); the island after the SECOND gap
    ({7}) starts a fresh waitingFrom clock and waits its own full cycle —
    the pre-round-12 jump-to-max released everything on the first timeout."""
    table = tmp_path / "t4b"
    table.mkdir()
    _write_rows(str(table), [0], "part-0.parquet")
    df = _read_stream(
        spark, str(table), waitOnMissedRecord="true", missedRecordWaitingTimeout=3
    )
    q = _memory_query(spark, df, "t4b_sink", str(tmp_path / "ckpt4b"))
    try:
        _drain(q)
        _write_rows(str(table), [1, 2, 4, 5, 7], "part-1.parquet")
        deadline = time.time() + 40
        saw_middle = False
        got = set()
        while time.time() < deadline:
            _drain(q)
            got = {r["id"] for r in spark.sql("SELECT id FROM t4b_sink").collect()}
            if got == {1, 2, 4, 5}:
                saw_middle = True  # first timeout released 4,5 but NOT 7
            if got == {1, 2, 4, 5, 7}:
                break
            time.sleep(0.2)
        assert got == {1, 2, 4, 5, 7}
        assert saw_middle, (
            "first timeout must release only the island after the first gap"
        )
    finally:
        q.stop()


def test_gap_admission_phases_islands(spark):
    """phase = island ordinal: 1 + number of gaps at or below the key."""
    from siddhi_io_cdc_spark.sources.polling import gap_admission_phases

    df = spark.createDataFrame(
        [(5,), (6,), (7,), (10,), (11,), (13,), (20,)], "k: bigint"
    )
    got = {r["k"]: r["phase"] for r in gap_admission_phases(df, "k").collect()}
    assert got == {5: 1, 6: 1, 7: 1, 10: 2, 11: 2, 13: 3, 20: 4}


def test_gap_admission_phases_null_and_dense(spark):
    """NULL keys take no part in gap discovery and get phase NULL; a dense
    stream is all phase 1."""
    from siddhi_io_cdc_spark.sources.polling import gap_admission_phases

    df = spark.createDataFrame([(1,), (2,), (None,), (4,)], "k: bigint")
    got = {r["k"]: r["phase"] for r in gap_admission_phases(df, "k").collect()}
    assert got == {1: 1, 2: 1, None: None, 4: 2}

    dense = spark.createDataFrame([(i,) for i in range(100, 140)], "k: bigint")
    phases = {r["phase"] for r in gap_admission_phases(dense, "k").collect()}
    assert phases == {1}


def test_gap_admission_phases_bucket_boundaries(spark):
    """Keys spread over a range far wider than one bucket: the cumulative
    head count must carry across HEADLESS buckets (a key in a bucket with
    no island head inherits the running total, not zero)."""
    from siddhi_io_cdc_spark.sources.polling import gap_admission_phases

    keys = [0, 1, 1_000_000, 1_000_001, 9_000_000]
    df = spark.createDataFrame([(k,) for k in keys], "k: bigint")
    got = {
        r["k"]: r["phase"]
        for r in gap_admission_phases(df, "k", nbuckets=8).collect()
    }
    assert got == {0: 1, 1: 1, 1_000_000: 2, 1_000_001: 2, 9_000_000: 3}


def test_gap_phase_stream_parity_and_mid_gap_divergence(spark, tmp_path):
    """VERDICT r11 ask #7. (a) Dense-from-the-minimum fixture: the batch
    restatement's phases predict the streaming delivery order — a lower
    phase is always delivered before a higher one. (b) Divergence pin: the
    STREAM resumes from its checkpointed offset and waits for the
    checkpoint-successor key even when it is missing, while the batch
    restatement only sees present keys and calls the first present island
    phase 1 — the two are NOT interchangeable mid-gap."""
    from siddhi_io_cdc_spark.sources.polling import gap_admission_phases

    # (a) parity on keys that are dense from their minimum
    table = tmp_path / "t5p"
    table.mkdir()
    _write_rows(str(table), [0], "part-0.parquet")
    keys = [1, 2, 4, 5, 7]
    waves = []

    def sink(batch, _bid):
        ids = sorted(r["id"] for r in batch.select("id").collect())
        if ids:
            waves.append(ids)

    df = _read_stream(
        spark, str(table), waitOnMissedRecord="true", missedRecordWaitingTimeout=2
    )
    q = (
        df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt5p"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        _drain(q)
        _write_rows(str(table), keys, "part-1.parquet")
        deadline = time.time() + 40
        while time.time() < deadline and sum(len(w) for w in waves) < len(keys):
            _drain(q)
            time.sleep(0.2)
    finally:
        q.stop()
    delivered = [i for w in waves for i in w]
    assert sorted(delivered) == keys
    bdf = spark.createDataFrame([(i,) for i in keys], "id: bigint")
    phases = {r["id"]: r["phase"] for r in gap_admission_phases(bdf, "id").collect()}
    assert phases == {1: 1, 2: 1, 4: 2, 5: 2, 7: 3}
    rank = {i: n for n, i in enumerate(delivered)}
    for a in keys:
        for b in keys:
            if phases[a] < phases[b]:
                assert rank[a] < rank[b], f"{a} (phase {phases[a]}) must precede {b}"

    # (b) mid-gap divergence: checkpoint offset 0, table holds {2,3}
    table2 = tmp_path / "t5d"
    table2.mkdir()
    _write_rows(str(table2), [0], "part-0.parquet")
    df2 = _read_stream(
        spark, str(table2), waitOnMissedRecord="true", missedRecordWaitingTimeout=600
    )
    q2 = _memory_query(spark, df2, "t5d_sink", str(tmp_path / "ckpt5d"))
    try:
        _drain(q2)
        _write_rows(str(table2), [2, 3], "part-1.parquet")
        _drain(q2)
        _drain(q2)
        held = spark.sql("SELECT count(*) FROM t5d_sink").first()[0]
        assert held == 0, "stream must wait for missing checkpoint-successor key 1"
    finally:
        q2.stop()
    b2 = spark.createDataFrame([(2,), (3,)], "id: bigint")
    p2 = {r["id"]: r["phase"] for r in gap_admission_phases(b2, "id").collect()}
    assert p2 == {2: 1, 3: 1}, "batch restatement has no offset: islands start at min present"

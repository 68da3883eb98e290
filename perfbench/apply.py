"""``apply``: a listening-mode change stream applied to a bucketed store.

Path under test: ``sources.envelope.read_changelog_stream`` (one JSON-lines
change file per trigger) -> ``operators.flatten`` (multi-op) ->
``operators.mutate.foreach_batch_merge`` (layout ``bucketed``), into a
target bootstrapped in set-up. Closed loop over a backlog: the harness keeps
a change file queued behind the running batch, so the engine starts the
next batch as soon as the previous one commits. After ``WARMUP_BATCHES``
untimed batches a run applies a fixed number of files, one per
``NOMINAL_BATCH_S`` of ``--seconds``. One operation is one micro-batch; its
latency runs from trigger start to merge commit.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

import checks
import data
import probes
from harness import dir_bytes_files, engine_metrics, median, progress_batches, quantile, trace_engine

ROW_SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
])
OPS = ["insert", "update", "delete"]
QUEUE_DEPTH = 2
#: The first batches of the stream run while the JVM still compiles the
#: read, flatten and merge path; they are applied and checked, not timed.
WARMUP_BATCHES = 1
NOMINAL_BATCH_S = 5.0


def bootstrap(spark, tracer, snap_path, store, trace_id) -> float:
    """Bootstrap the store from the snapshot file through the package's
    merge (a missing target bootstraps from the batch). Returns the seconds
    spent in the merge."""
    from siddhi_io_cdc_spark.operators.mutate import merge_into_bucketed_parquet

    with tracer.span("bootstrap", "mutate", trace_id):
        t = time.perf_counter()
        merge_into_bucketed_parquet(spark, store, spark.read.parquet(snap_path), key=["id"])
        return time.perf_counter() - t


def run(ctx) -> dict:
    from siddhi_io_cdc_spark.operators.flatten import flatten
    from siddhi_io_cdc_spark.operators.mutate import foreach_batch_merge
    from siddhi_io_cdc_spark.sources.envelope import read_changelog_stream

    spark, tracer = ctx.spark, ctx.tracer
    keys, per_file = (5_000, 500) if ctx.small else (100_000, 5_000)
    phases = 2 if ctx.tracer_requested else 1
    # A fixed number of batches per phase, so every run does the same work:
    # one per NOMINAL_BATCH_S of --seconds (the merge's fixed cost per batch).
    per_phase = max(2, round(ctx.seconds / NOMINAL_BATCH_S))
    n_files = WARMUP_BATCHES + phases * per_phase

    # Inputs, not timed: the change backlog and the snapshot file.
    backlog = os.path.join(ctx.work, "backlog")
    os.makedirs(backlog)
    stream = data.ChangeStream(np.random.default_rng(ctx.seed + 10), keys)
    files, events = [], []
    for i in range(n_files):
        p = os.path.join(backlog, f"c{i:05d}.json")
        events.append(stream.write_file(p, per_file))
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))  # file-source order
        files.append(p)
    snap_path = os.path.join(ctx.work, "snapshot.parquet")
    snap = data.apply_bootstrap(snap_path, np.random.default_rng(ctx.seed), keys)
    # Set-up: the store bootstrap, three times, each into a fresh directory;
    # the last one is kept.
    boots = []  # (wall, cpu, merge wall)
    for r in range(3):
        if r:
            shutil.rmtree(store)
        store = os.path.join(ctx.work, f"store{r}")
        t, c = time.perf_counter(), ctx.cpu_s()
        merge_s = bootstrap(spark, tracer, snap_path, store, f"setup-{r}")
        boots.append((time.perf_counter() - t, ctx.cpu_s() - c, merge_s))

    src = os.path.join(ctx.work, "changes")
    os.makedirs(src)
    merge = foreach_batch_merge(spark, store, key=["id"], layout="bucketed")
    commits, merges = {}, {}

    def sink(df, batch_id):
        tid = f"apply-{batch_id}"
        traced = tracer.enabled
        t0 = time.time()
        with tracer.span("foreach_batch", "sink", tid):
            before = probes.store_snapshot(store) if traced else None
            with tracer.span("merge", "mutate", tid):
                t1 = time.perf_counter()
                merge(df, batch_id)
                merge_s = time.perf_counter() - t1
            if traced:
                merges[batch_id] = (merge_s, *probes.rewritten(before, probes.store_snapshot(store), store))
        commits[batch_id] = (t0, time.time())

    events_in = flatten(read_changelog_stream(spark, src, ROW_SCHEMA, max_files_per_trigger=1), operations=OPS)
    q = (events_in.writeStream.foreachBatch(sink)
         .option("checkpointLocation", os.path.join(ctx.work, "ck")).start())

    moved = backlog_max = 0
    phase_of_batch = {}

    def move_next() -> None:
        nonlocal moved
        os.rename(files[moved], os.path.join(src, os.path.basename(files[moved])))
        moved += 1

    def wait_drained(deadline: float) -> None:
        while len(commits) < moved and q.exception() is None and time.time() < deadline:
            time.sleep(0.02)

    hard_deadline = time.time() + 60 + 3 * phases * ctx.seconds
    for _ in range(WARMUP_BATCHES):
        move_next()
        wait_drained(hard_deadline)
    window_cpu = []
    for phase in range(phases):
        tracer.enabled = ctx.tracer_requested and phase == phases - 1
        first_batch, last_file = len(commits), moved + per_phase
        c = ctx.cpu_s()
        while moved < last_file and q.exception() is None and time.time() < hard_deadline:
            backlog_max = max(backlog_max, moved - len(commits))
            if moved - len(commits) < QUEUE_DEPTH:
                move_next()
            time.sleep(0.02)
        wait_drained(hard_deadline)
        window_cpu.append(ctx.cpu_s() - c)
        for b in range(first_batch, len(commits)):
            phase_of_batch[b] = phase
    # The progress report of the last batch lands just after its commit.
    while (q.exception() is None and time.time() < hard_deadline
           and not any(p["batchId"] == len(commits) - 1 for p in q.recentProgress)):
        time.sleep(0.02)
    error = q.exception()
    q.stop()

    prog = progress_batches(q.recentProgress)
    start_of = {b["batch"]: b["start"] for b in prog}
    lat = {b: commits[b][1] - start_of[b] for b in phase_of_batch if b in start_of}
    applied = [e for f_events in events[:moved] for e in f_events]

    store_tbl, read_s = probes.store_read(spark, tracer, store, "apply-read")
    oracle = data.apply_oracle(snap, applied)
    ok = error is None and len(commits) == moved and checks.apply_ok(store_tbl, oracle)
    attempted = len(commits) + 1
    failed = 0 if ok else attempted

    measured = [b for b, ph in phase_of_batch.items() if ph == 0 and b in lat]
    first, last = min(measured), max(measured)
    out = {
        "setup": [b[0] for b in boots],
        "setup_cpu": [b[1] for b in boots],
        "attempted": attempted,
        "failed": failed,
        "cpu_ms_per_event": 1000.0 * window_cpu[0] / (per_phase * per_file),
        "events_per_s": len(measured) * per_file / (commits[last][1] - start_of[first]),
        "latency": [lat[b] for b in measured],
    }
    if not ctx.tracer_requested:
        return out

    traced = [b for b, ph in phase_of_batch.items() if ph == phases - 1 and b in lat]
    trace_engine(tracer, [b for b in prog if b["batch"] in traced], "apply")
    size, nfiles = dir_bytes_files(store)
    layers = engine_metrics([b for b in prog if b["batch"] in lat])
    layers.update({
        "mutate.merge_s": median([merges[b][0] for b in traced]),
        "mutate.buckets_rewritten": median([merges[b][1] for b in traced]),
        "mutate.bytes_written_per_event": sum(merges[b][2] for b in traced) / (len(traced) * per_file),
        "mutate.store_files": nfiles,
        "mutate.read_store_s": read_s,
        "mutate.store_bytes_per_row": size / store_tbl.num_rows,
        "mutate.bootstrap_s": median([b[2] for b in boots]),
        "sink.append_s": median([commits[b][1] - commits[b][0] for b in traced]),
        "ops.setup_wall_s": median(out["setup"]),
        "ops.events_per_s": out["events_per_s"],
        "ops.latency_p50_s": median(out["latency"]),
        "ops.latency_p95_s": quantile(out["latency"], 0.95),
        "ops.backlog_max": backlog_max,
        "gen.late_max_s": max(start_of[b] - commits[b - 1][1] for b in measured + traced if b - 1 in commits),
        "trace.overhead_s": median([lat[b] for b in traced]) - median(out["latency"]),
    })
    layers.update(probes.flatten(spark, tracer, [os.path.join(src, os.path.basename(f)) for f in files[:min(4, moved)]]))
    probe_zone = os.path.join(ctx.work, "probe-zone")
    data.write_zone(probe_zone, np.random.default_rng(ctx.seed + 3), 16, 2_000 if ctx.small else 20_000)
    layers.update(probes.polling(tracer, probe_zone, "event_id", {"last": -1}, ctx.nproc))
    out["layers"] = layers
    return out

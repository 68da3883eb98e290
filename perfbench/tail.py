"""``tail``: an open-loop live tail of a growing landing zone.

A separate generator process (``gen_tail.py``) commits one wave of rows per
``PERIOD`` seconds by write-then-rename into a zone that already holds
``ZONE_FILES`` files. ``cdc-poll`` with ``startFrom=latest`` and the default
trigger feeds a ``foreachBatch`` parquet append sink. One operation is one
wave; its latency runs from the wave's due time to the commit of the sink
batch that holds it. One more operation is the query's start, which fails
if the sink ever holds a row the zone held before it. The offered rate
(2,000 rows/s) sits far under what the source reads in a catch-up
(``polling.read_rows_per_s``), so the backlog should stay flat.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pyarrow.dataset as ds
from pyspark.sql import functions as F

import checks
import data
import probes
from harness import engine_metrics, median, progress_batches, quantile, source_offset, trace_engine

PERIOD = 0.075
ZONE_FILES = 500


def run(ctx) -> dict:
    spark, tracer = ctx.spark, ctx.tracer
    zone_rows, wave_rows = (20, 15) if ctx.small else (200, 150)
    zone_files = 50 if ctx.small else ZONE_FILES
    phases = 2 if ctx.tracer_requested else 1
    commits = {}

    def sink(df, batch_id):
        t0 = time.time()
        with tracer.span("append", "sink", f"tail-{batch_id}"):
            df.withColumn("bench_batch", F.lit(batch_id)).write.mode("append").parquet(sink_dir)
        commits[batch_id] = (t0, time.time())

    def start(zone, ck):
        q = (spark.readStream.format("cdc-poll").option("path", zone)
             .option("pollingColumn", "event_id").option("startFrom", "latest")
             .option("numPartitions", str(ctx.nproc)).load()
             .writeStream.foreachBatch(sink).option("checkpointLocation", ck).start())
        q.processAllAvailable()
        return q

    # Set-up, three times: a fresh zone of ZONE_FILES files is written (not
    # timed), then the query is started and its first (seeding) trigger
    # drained (timed). The last query keeps running.
    setup, setup_cpu = [], []
    q = None
    for r in range(3):
        if q is not None:
            q.stop()
            shutil.rmtree(zone)
        zone = os.path.join(ctx.work, f"zone{r}")
        sink_dir = os.path.join(ctx.work, f"sink{r}")
        max_id = data.write_zone(zone, np.random.default_rng(ctx.seed), zone_files, zone_rows,
                                wave=np.int64(-1), due_ts=0.0)
        t, c = time.perf_counter(), ctx.cpu_s()
        q = start(zone, os.path.join(ctx.work, f"ck{r}"))
        setup.append(time.perf_counter() - t)
        setup_cpu.append(ctx.cpu_s() - c)
    commits.clear()

    first_id = max_id + 1
    waves = math.ceil(phases * ctx.seconds / PERIOD)
    t0 = time.time() + 0.5
    report = os.path.join(ctx.work, "gen.json")
    cpu0 = ctx.cpu_s()
    gen = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen_tail.py"),
         "--dir", zone, "--seed", str(ctx.seed + 5), "--first-id", str(first_id),
         "--waves", str(waves), "--rows", str(wave_rows), "--period", str(PERIOD),
         "--t0", repr(t0), "--report", report],
    )
    try:
        boundary = t0 + ctx.seconds
        tracer.enabled = False
        if phases == 2:
            time.sleep(max(0.0, boundary - time.time()))
            tracer.enabled = True
        gen.wait(timeout=phases * ctx.seconds + 60)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    last_id = first_id + waves * wave_rows - 1
    deadline = time.time() + 60
    while time.time() < deadline and q.exception() is None:
        lp = q.lastProgress
        if source_offset(lp, "endOffset").get("last", -1) >= last_id and lp["batchId"] in commits:
            break
        time.sleep(0.05)
    window_cpu = ctx.cpu_s() - cpu0
    error = q.exception()
    q.stop()
    prog = progress_batches(q.recentProgress)

    # Every row the sink holds, the zone's pre-existing rows included: the
    # query's start is one more operation, failed if it delivered any.
    delivered = ds.dataset(sink_dir, format="parquet").to_table(columns=["event_id", "wave", "bench_batch"])
    failed_waves, strays = checks.tail_check(delivered, waves, wave_rows)
    failed_waves = set(range(waves) if error is not None else failed_waves)
    batch_of = {}
    for w, b in zip(delivered.column("wave").to_pylist(), delivered.column("bench_batch").to_pylist()):
        batch_of[w] = b
    due = [t0 + w * PERIOD for w in range(waves)]
    lat = {w: commits[batch_of[w]][1] - due[w] for w in range(waves) if w not in failed_waves}
    with open(report) as f:
        late = json.load(f)["late"]

    def phase_of(w):
        return 0 if due[w] < boundary else 1

    measured = [w for w in lat if phase_of(w) == 0]
    span = max(commits[batch_of[w]][1] for w in measured) - t0
    out = {
        "setup": setup,
        "setup_cpu": setup_cpu,
        "attempted": waves + 1,
        "failed": len(failed_waves) + (1 if strays or error is not None else 0),
        "cpu_ms_per_event": 1000.0 * window_cpu / (waves * wave_rows),
        "events_per_s": len(measured) * wave_rows / span,
        "latency": [lat[w] for w in measured],
    }
    if not ctx.tracer_requested:
        return out

    traced = [w for w in lat if phase_of(w) == 1]
    traced_batches = {batch_of[w] for w in traced}
    trace_engine(tracer, [p for p in prog if p["batch"] in traced_batches], "tail")
    backlog = []
    for b, (_, c) in sorted(commits.items()):
        due_n = min(waves, int((c - t0) / PERIOD) + 1) if c >= t0 else 0
        done_n = sum(1 for w in range(waves) if batch_of.get(w, math.inf) <= b)
        backlog.append(due_n - done_n)
    layers = engine_metrics([p for p in prog if p["batch"] in traced_batches])
    layers.update({
        "sink.append_s": median([commits[b][1] - commits[b][0] for b in traced_batches]),
        "ops.setup_wall_s": median(setup),
        "ops.events_per_s": out["events_per_s"],
        "ops.latency_p50_s": median(out["latency"]),
        "ops.latency_p95_s": quantile(out["latency"], 0.95),
        "ops.backlog_max": max(backlog),
        "gen.late_max_s": max(late),
        "trace.overhead_s": median([lat[w] for w in traced]) - median(out["latency"]),
    })
    layers.update(probes.polling(tracer, zone, "event_id", {"last": last_id - 10 * wave_rows}, ctx.nproc))
    keys = 2_000 if ctx.small else 20_000
    layers.update(probes.flatten(spark, tracer, probes.changelog_files(ctx.work, "probe-changes", ctx.seed, keys, 4, 5_000)))
    layers.update(probes.mutate(spark, tracer, ctx.work, ctx.seed, ctx.small))
    out["layers"] = layers
    return out

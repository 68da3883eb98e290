"""Direct-call probes of single layers, run only in the traced run.

Each probe times calls into one module of the package on inputs the
workload already built; a workload that bypasses a layer probes it on small
seeded inputs of its own, so every traced run reports every layer.
"""

from __future__ import annotations

import glob
import os
import time

import numpy as np

import data
from harness import dir_bytes_files, median

REPEATS = 3


def polling(tracer, zone: str, column: str, start: dict, nproc: int) -> dict:
    """``sources.polling``: ``latestOffset`` and ``partitions`` of the window
    ``(start, latest]`` on the zone as it stands, then ``read`` of every
    partition of a catch-up of the whole zone (``startFrom=earliest``)."""
    from siddhi_io_cdc_spark.sources.polling import CDCPollDataSource

    opts = {"path": zone, "pollingColumn": column, "numPartitions": str(nproc)}
    reader = CDCPollDataSource(opts).streamReader(CDCPollDataSource(opts).schema())
    offset_s, part_s = [], []
    for r in range(REPEATS):
        # latestOffset advances from the last offset the reader handed out,
        # which is reader state; reset it so every call answers the same ask.
        reader._prev = dict(start)
        with tracer.span("latest_offset", "polling", f"probe.polling-{r}"):
            t = time.perf_counter()
            end = reader.latestOffset()
            offset_s.append(time.perf_counter() - t)
        with tracer.span("partitions", "polling", f"probe.polling-{r}"):
            t = time.perf_counter()
            parts = reader.partitions(start, end)
            part_s.append(time.perf_counter() - t)
    window_parts = parts
    parts = reader.partitions({"last": -1}, end)
    rows, read_s = 0, 0.0
    for i, p in enumerate(parts):
        with tracer.span("read", "polling", f"probe.polling-read{i}"):
            t = time.perf_counter()
            rows += sum(b.num_rows for b in reader.read(p))
            read_s += time.perf_counter() - t
    return {
        "polling.latest_offset_s": median(offset_s),
        "polling.partitions_s": median(part_s),
        "polling.read_rows_per_s": rows / read_s if read_s else 0.0,
        "polling.fragments_per_partition": median([len(p.paths or []) for p in window_parts]),
        "polling.landing_files": len(glob.glob(os.path.join(zone, "*.parquet"))),
    }


def flatten(spark, tracer, files: list[str]) -> dict:
    """``sources.envelope`` + ``operators.flatten``: a batch JSON read of
    envelope files, multi-op flatten, noop write. The second pass is timed."""
    from siddhi_io_cdc_spark.operators.flatten import flatten as flatten_op
    from siddhi_io_cdc_spark.sources.envelope import envelope_schema

    from apply import ROW_SCHEMA, OPS

    rows = sum(1 for f in files for _ in open(f))
    elapsed = 0.0
    for r in range(2):
        with tracer.span("flatten", "flatten", f"probe.flatten-{r}"):
            t = time.perf_counter()
            env = spark.read.schema(envelope_schema(ROW_SCHEMA)).json(files)
            flatten_op(env, operations=OPS).write.format("noop").mode("overwrite").save()
            elapsed = time.perf_counter() - t
    return {"flatten.rows_per_s": rows / elapsed}


def changelog_files(work: str, name: str, seed: int, keys: int, files: int, per_file: int) -> list[str]:
    """A small seeded envelope changelog for workloads without one."""
    d = os.path.join(work, name)
    os.makedirs(d, exist_ok=True)
    stream = data.ChangeStream(np.random.default_rng(seed + 1), keys)
    out = []
    for i in range(files):
        p = os.path.join(d, f"c{i:05d}.json")
        stream.write_file(p, per_file)
        out.append(p)
    return out


def store_snapshot(store: str) -> dict[str, frozenset]:
    return {
        d: frozenset(os.listdir(os.path.join(store, d)))
        for d in os.listdir(store) if d.startswith("__bucket=")
    }


def rewritten(before: dict, after: dict, store: str) -> tuple[int, int]:
    """(bucket dirs whose files changed, bytes of files that are new)."""
    changed = {d for d in set(before) | set(after) if before.get(d) != after.get(d)}
    new_bytes = 0
    for d, names in after.items():
        for n in names - before.get(d, frozenset()):
            if n.endswith(".parquet"):
                new_bytes += os.path.getsize(os.path.join(store, d, n))
    return len(changed), new_bytes


def store_read(spark, tracer, store: str, trace_id: str):
    """Read the merge store once into Arrow, sorted by key; (table, seconds)."""
    from siddhi_io_cdc_spark.operators.mutate import read_bucketed_store

    with tracer.span("read_store", "mutate", trace_id):
        t = time.perf_counter()
        tbl = read_bucketed_store(spark, store).toArrow().sort_by("id")
        return tbl, time.perf_counter() - t


def mutate(spark, tracer, work: str, seed: int, small: bool) -> dict:
    """``operators.mutate`` on a small seeded store: bootstrap, then merges
    of envelope files through the batch path (read, flatten, merge)."""
    from siddhi_io_cdc_spark.operators.flatten import flatten as flatten_op
    from siddhi_io_cdc_spark.operators.mutate import merge_into_bucketed_parquet
    from siddhi_io_cdc_spark.sources.envelope import envelope_schema

    from apply import OPS, ROW_SCHEMA, bootstrap

    keys, per_file = (2_000, 200) if small else (20_000, 2_000)
    store = os.path.join(work, "probe-store")
    snap_path = os.path.join(work, "probe-snapshot.parquet")
    data.apply_bootstrap(snap_path, np.random.default_rng(seed + 2), keys)
    boot_s = bootstrap(spark, tracer, snap_path, store, "probe.mutate")
    files = changelog_files(work, "probe-mutate-changes", seed, keys, 2, per_file)
    merge_s, buckets, written = [], [], 0
    for i, f in enumerate(files):
        before = store_snapshot(store)
        with tracer.span("merge", "mutate", f"probe.mutate-{i}"):
            t = time.perf_counter()
            batch = flatten_op(spark.read.schema(envelope_schema(ROW_SCHEMA)).json(f), operations=OPS)
            merge_into_bucketed_parquet(spark, store, batch, key=["id"])
            merge_s.append(time.perf_counter() - t)
        n, b = rewritten(before, store_snapshot(store), store)
        buckets.append(n)
        written += b
    tbl, read_s = store_read(spark, tracer, store, "probe.mutate-read")
    size, nfiles = dir_bytes_files(store)
    return {
        "mutate.merge_s": median(merge_s),
        "mutate.buckets_rewritten": median(buckets),
        "mutate.bytes_written_per_event": written / (len(files) * per_file),
        "mutate.store_files": nfiles,
        "mutate.read_store_s": read_s,
        "mutate.store_bytes_per_row": size / max(1, tbl.num_rows),
        "mutate.bootstrap_s": boot_s,
    }

"""Metric catalogue: every metric the benchmark prints, its unit, and for
each per-layer metric the end-to-end metric it should move and on which
workload. ``BENCHMARK.json`` repeats the names and units; the smoke test
checks the two agree.

Layers are named by the package module they time:

- ``polling``: ``sources.polling`` (the cdc-poll reader), timed by direct
  calls to ``CDCPollStreamReader.latestOffset`` and ``partitions`` on the
  live landing zone, and ``read`` of a whole-zone catch-up (apply: a small
  seeded zone).
- ``flatten``: ``sources.envelope`` JSON read + ``operators.flatten`` in
  multi-op form, a batch probe into the noop sink (apply: its own change
  files; tail: a small seeded changelog).
- ``mutate``: ``operators.mutate``'s bucketed merge store (apply: the
  stream's own merges; tail: a small seeded store).
- ``engine``: Spark's micro-batch loop, from each query's progress reports.
- ``sink``: the ``foreachBatch`` callback (apply: the merge call, tail: the
  parquet append).
- ``gen``/``ops``: the load itself, to check a run is valid.

Prediction: a ``mutate`` change moves apply's numbers only; a ``polling``
change moves tail's numbers only.
"""

#: Bounds are the largest share the parent's median may worsen by.
#:
#: - ``setup_s``: CPU seconds of the program's own set-up, median of three
#:   (apply: the store bootstrap merge; tail: the query start and its
#:   seeding trigger). The benchmark builds its inputs outside this window.
#: - ``cpu_ms_per_event``: CPU milliseconds per event over the measured
#:   window, taken over the driver JVM (which runs the local executors), its
#:   Python workers and the driver Python. CPU time, unlike wall time, holds
#:   when other tenants load a shared host.
#: - ``latency_p50_s``: wall-clock freshness, the median operation latency
#:   (apply: trigger start to merge commit per micro-batch; tail: wave due
#:   time to sink commit per wave). On the open-loop tail the offered rate
#:   is fixed, so a trigger loop that polls less often lowers
#:   ``cpu_ms_per_event`` while deliveries get staler; this metric catches
#:   that. It moves with host load: every run's context line carries the
#:   load average before and after.
#:
#: Over ten seeds their quartile spread reached 15-18% of the median, mostly
#: from other load on the host between runs, hence the widest bound, 0.25.
END_TO_END = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "cpu_ms_per_event", "unit": "ms", "better": "lower", "bound": 0.25},
    {"name": "latency_p50_s", "unit": "s", "better": "lower", "bound": 0.25},
]

#: (name, unit, better, moves): ``moves`` is the end-to-end metric the layer
#: metric(s) should move, with the workload in brackets; "" for context
#: only.
_LAYER = [
    ("polling.latest_offset_s", "s", "lower", "latency_p50_s, cpu_ms_per_event [tail]"),
    ("polling.partitions_s", "s", "lower", "latency_p50_s, cpu_ms_per_event [tail]"),
    ("polling.read_rows_per_s", "1/s", "higher", "latency_p50_s, cpu_ms_per_event [tail]"),
    ("polling.fragments_per_partition", "count", "lower", "cpu_ms_per_event [tail]"),
    ("polling.landing_files", "count", "lower", ""),
    ("engine.latest_offset_s", "s", "lower", "latency_p50_s, cpu_ms_per_event [tail]"),
    ("engine.planning_s", "s", "lower", "latency_p50_s, cpu_ms_per_event [tail]"),
    ("engine.commit_s", "s", "lower", "latency_p50_s, cpu_ms_per_event [tail]"),
    ("engine.add_batch_s", "s", "lower", "latency_p50_s, cpu_ms_per_event [apply, tail]"),
    ("engine.overhead_s", "s", "lower", "latency_p50_s, cpu_ms_per_event [tail]"),
    ("engine.batches", "count", "higher", ""),
    ("engine.rows_per_batch", "count", "higher", ""),
    ("flatten.rows_per_s", "1/s", "higher", "cpu_ms_per_event [apply]"),
    ("mutate.merge_s", "s", "lower", "latency_p50_s, cpu_ms_per_event [apply]"),
    ("mutate.buckets_rewritten", "count", "lower", "latency_p50_s, cpu_ms_per_event [apply]"),
    ("mutate.bytes_written_per_event", "B", "lower", "cpu_ms_per_event [apply]"),
    ("mutate.store_files", "count", "lower", "mutate.read_store_s [apply]"),
    ("mutate.read_store_s", "s", "lower", ""),
    ("mutate.store_bytes_per_row", "B", "lower", "mutate.read_store_s [apply]"),
    ("mutate.bootstrap_s", "s", "lower", "setup_s [apply]"),
    ("sink.append_s", "s", "lower", "latency_p50_s, cpu_ms_per_event [tail]"),
    ("ops.setup_wall_s", "s", "lower", ""),
    ("ops.events_per_s", "1/s", "higher", ""),
    ("ops.latency_p50_s", "s", "lower", ""),
    ("ops.latency_p95_s", "s", "lower", ""),
    ("ops.backlog_max", "count", "lower", ""),
    ("gen.late_max_s", "s", "lower", ""),
    ("session.start_s", "s", "lower", ""),
    ("peak_rss_mb", "MB", "lower", ""),
    ("rss.jvm_mb", "MB", "lower", ""),
    ("rss.python_mb", "MB", "lower", ""),
    ("jvm.gc_s", "s", "lower", "cpu_ms_per_event [apply, tail]"),
    ("host.loadavg_before", "load", "lower", ""),
    ("host.loadavg_after", "load", "lower", ""),
    ("trace.overhead_s", "s", "lower", ""),
    ("trace.spans", "count", "lower", ""),
    ("self.engine_s", "s", "lower", "latency_p50_s, cpu_ms_per_event [apply, tail]"),
    ("self.sink_s", "s", "lower", "latency_p50_s, cpu_ms_per_event [tail]"),
    ("self.mutate_s", "s", "lower", "latency_p50_s, cpu_ms_per_event [apply]"),
    ("self.polling_s", "s", "lower", "latency_p50_s, cpu_ms_per_event [tail]"),
    ("self.flatten_s", "s", "lower", "cpu_ms_per_event [apply]"),
]

PER_LAYER = [{"name": n, "unit": u, "better": b} for n, u, b, _ in _LAYER]
MOVES = {n: m for n, _, _, m in _LAYER}

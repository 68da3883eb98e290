"""The CDC benchmark: one command per workload run, one JSON result line.

    python3 perfbench/run.py --workload {apply,tail} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. Each workload builds its inputs from the
seed, sets them up three times (``setup_s`` is the median), then measures
for ``--seconds`` and checks every output. The last line of standard output
is ``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones below, with ``--trace 1`` the per-layer ones
(see ``layers.py``). The line before it is a ``{"context"}`` record: load
average before and after, JVM GC time, peak RSS of JVM and Python, and the
raw operation latencies. A traced run measures twice, untraced then traced,
and reports the difference of the operation medians as
``trace.overhead_s``; its spans go to
``.perfbench_out/trace-<workload>-<seed>.jsonl``.

End-to-end metrics (every workload; what each counts and why, see
``layers.py``):

- ``setup_s``: CPU seconds of the program's own set-up, median of three
  (apply: the store bootstrap; tail: the query start and its seeding
  trigger). Building the inputs is not counted.
- ``cpu_ms_per_event``: CPU milliseconds per change event applied (apply) or
  row delivered (tail) over the measured window.
- ``latency_p50_s``: median wall seconds per operation (apply: trigger
  start to merge commit; tail: wave due time to sink commit).

Every run writes only below ``.perfbench_work/`` and ``.perfbench_out/`` in
the checkout, and removes its work directory when it ends.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass

from harness import Host, Tracer, median
from layers import END_TO_END, PER_LAYER

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("apply", "tail")
#: The whole run, set-up and checks included, must end within this.
RUN_LIMIT_S = 170


@dataclass
class Ctx:
    spark: object
    tracer: object
    cpu_s: object  # () -> CPU seconds used so far by the system under test
    work: str
    seed: int
    seconds: float
    nproc: int
    small: bool
    tracer_requested: bool


def _prepare_env(work: str) -> int:
    """Confine every temporary file to the checkout and size the session."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_CPUS": str(nproc),
        # A 2 GB driver heap in place of the package's 8 GB default, so a
        # run stays small on a host whose memory other work shares. A
        # smaller heap collects more often: jvm.gc_s reports that time.
        "SPARK_DRIVER_MEMORY": "2g",
        # No hsperfdata file: HotSpot writes it under /tmp whatever tmpdir is.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # Spark's Python workers import the cdc-poll source by module path.
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = tmp
    return nproc


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    for q in spark.streams.active:
        q.stop()
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def result_line(out: dict, trace: bool, extra: dict) -> dict:
    """The result line (correct, attempted, failed, metrics) from a
    workload's raw output."""
    if trace:
        metrics = dict(out["layers"])
        metrics.update(extra)
    else:
        metrics = {
            "setup_s": median(out["setup_cpu"]),
            "cpu_ms_per_event": out["cpu_ms_per_event"],
            "latency_p50_s": median(out["latency"]),
        }
    units = {m["name"]: m["unit"] for m in (PER_LAYER if trace else END_TO_END)}
    return {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true", help="tiny inputs, for the smoke test")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        importlib.import_module("siddhi_io_cdc_spark")
    except ImportError as e:
        print(f"perfbench: the package is not in this checkout: {e}", file=sys.stderr)
        return 2

    def timeout(signum, frame):
        raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")

    def terminate(signum, frame):
        raise SystemExit(128 + signum)  # run the clean-up below

    signal.signal(signal.SIGALRM, timeout)
    signal.signal(signal.SIGTERM, terminate)
    signal.alarm(RUN_LIMIT_S)
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    spark = None
    try:
        nproc = _prepare_env(work)
        from siddhi_io_cdc_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t
        from siddhi_io_cdc_spark.sources.polling import register_cdc_poll

        register_cdc_poll(spark)
        host = Host(spark)
        tracer = Tracer(bool(args.trace))
        ctx = Ctx(spark, tracer, host.cpu_s, work, args.seed, args.seconds, nproc, args.small, bool(args.trace))
        out = importlib.import_module(args.workload).run(ctx)
        extra = host.peak_rss_mb()
        extra.update(host.close())
        extra["session.start_s"] = session_s
        context = {"workload": args.workload, "seed": args.seed, **extra,
                   "setup_wall_s": out["setup"], "setup_cpu_s": out["setup_cpu"],
                   "events_per_s": out["events_per_s"], "operations_s": out["latency"]}
        if args.trace:
            extra["trace.spans"] = len(tracer.spans)
            self_time = tracer.self_time_by_layer()
            for m in PER_LAYER:
                if m["name"].startswith("self."):
                    extra[m["name"]] = self_time.get(m["name"][len("self."):-len("_s")], 0.0)
            tracer.write(os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.jsonl"))
        line = result_line(out, bool(args.trace), extra)
    finally:
        signal.alarm(0)
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    # Host context and the raw operation latencies, for every run; the
    # result line stays last.
    print(json.dumps({"context": context}))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())

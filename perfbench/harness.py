"""Shared pieces of the CDC benchmark: spans, statistics, host context and
the engine's progress reports.

Nothing here imports Spark at module load; the workloads pass a live session
in.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import resource
import statistics
import threading
import time


def median(values):
    return statistics.median(values) if values else 0.0


def quantile(values, q):
    """The ``q`` quantile by the same interpolation as
    ``statistics.quantiles(values, n=100)`` (method 'exclusive'); the median
    for fewer than two values."""
    if len(values) < 2:
        return median(values)
    cuts = statistics.quantiles(values, n=100)
    return cuts[min(98, max(0, round(q * 100) - 1))]


class Tracer:
    """Spans kept in memory and written out when the run ends.

    A span is ``(name, layer, trace_id, parent, start, end)``; times are
    ``time.time()`` seconds so they line up with the engine's progress
    timestamps. With ``enabled`` False every call is a no-op, which is how the
    untraced run measures the end-to-end metrics.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        # foreachBatch callbacks run on the py4j callback thread, so each
        # thread nests its own spans.
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, layer: str, trace_id: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        span = {"name": name, "layer": layer, "trace": trace_id,
                "parent": stack[-1] if stack else None, "start": time.time(), "end": None}
        self.spans.append(span)
        stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            stack.pop()
            span["end"] = time.time()

    def add(self, name, layer, trace_id, start, end, parent=None):
        """Record a span measured elsewhere (an engine phase from a progress
        report); returns its index for use as a parent."""
        if not self.enabled:
            return None
        self.spans.append(
            {"name": name, "layer": layer, "trace": trace_id, "parent": parent,
             "start": start, "end": end}
        )
        return len(self.spans) - 1

    def self_time_by_layer(self) -> dict[str, float]:
        """Each span's duration minus the part of it its children cover,
        summed per layer."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(i, [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def process_tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by ``root_pid`` and all its
    descendants, alive or already reaped (``cutime``/``cstime``)."""
    children: dict[int, list[int]] = {}
    cpu: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        fields = stat[stat.rindex(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(int(d))
        cpu[int(d)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


class Host:
    """Host context for one run: load average, JVM GC time, peak RSS of the
    driver JVM and the driver Python, and the CPU time the system under test
    has used."""

    def __init__(self, spark):
        self._jvm = spark.sparkContext._jvm
        self.jvm_pid = int(self._jvm.java.lang.ProcessHandle.current().pid())
        self.load_before = os.getloadavg()[0]
        self._gc0 = self.gc_seconds()

    def cpu_s(self) -> float:
        """CPU seconds used so far by the driver JVM (which runs the local
        executors), its Python workers, and this driver Python process
        (not its children: the load generator is not the system under
        test)."""
        own = os.times()
        return process_tree_cpu_s(self.jvm_pid) + own.user + own.system

    def gc_seconds(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def peak_rss_mb(self) -> dict:
        """Peak resident memory (MB) of the driver JVM and driver Python."""
        jvm_kb = 0
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return {"rss.jvm_mb": jvm_kb / 1024.0, "rss.python_mb": py_kb / 1024.0,
                "peak_rss_mb": (jvm_kb + py_kb) / 1024.0}

    def close(self) -> dict:
        return {
            "host.loadavg_before": self.load_before,
            "host.loadavg_after": os.getloadavg()[0],
            "jvm.gc_s": self.gc_seconds() - self._gc0,
        }


def _ts(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def source_offset(progress, key: str) -> dict:
    """A source offset from a progress report, as the engine wrote it."""
    if not progress:
        return {}
    sources = json.loads(progress.json).get("sources") or [{}]
    return sources[0].get(key) or {}


def progress_batches(progress: list[dict]) -> list[dict]:
    """Non-empty micro-batches of a query's progress reports, each with its
    trigger start (epoch seconds) and phase durations (seconds)."""
    out = []
    for p in progress:
        if not p.get("numInputRows"):
            continue
        d = {k: v / 1000.0 for k, v in p.get("durationMs", {}).items()}
        out.append({
            "batch": p["batchId"], "start": _ts(p["timestamp"]), "rows": p["numInputRows"],
            "trigger": d.get("triggerExecution", 0.0), "latest_offset": d.get("latestOffset", 0.0),
            "planning": d.get("queryPlanning", 0.0), "add_batch": d.get("addBatch", 0.0),
            "commit": d.get("walCommit", 0.0) + d.get("commitOffsets", 0.0),
        })
    return out


def engine_metrics(batches: list[dict]) -> dict:
    """``engine.*`` per-layer metrics: medians per non-empty micro-batch."""
    def med(key):
        return median([b[key] for b in batches])

    return {
        "engine.latest_offset_s": med("latest_offset"),
        "engine.planning_s": med("planning"),
        "engine.commit_s": med("commit"),
        "engine.add_batch_s": med("add_batch"),
        "engine.overhead_s": median([b["trigger"] - b["add_batch"] for b in batches]),
        "engine.batches": len(batches),
        "engine.rows_per_batch": med("rows"),
    }


def trace_engine(tracer: Tracer, batches: list[dict], trace_prefix: str) -> None:
    """Engine phases as spans: one trigger span per batch (trace id
    ``<prefix>-<batchId>``) with its latestOffset, planning, addBatch and
    commit phases laid end to end (the progress report gives durations, not
    start times). Spans the sink callback recorded under the same trace id
    become children of that batch's addBatch. Pass only batches that ran
    while the tracer was on."""
    if not tracer.enabled:
        return
    for b in batches:
        tid = f"{trace_prefix}-{b['batch']}"
        orphans = [s for s in tracer.spans if s["trace"] == tid and s["parent"] is None]
        root = tracer.add("trigger", "engine", tid, b["start"], b["start"] + b["trigger"])
        t = b["start"]
        for name in ("latest_offset", "planning", "add_batch", "commit"):
            idx = tracer.add(name, "engine", tid, t, t + b[name], parent=root)
            if name == "add_batch":
                for s in orphans:
                    s["parent"] = idx
            t += b[name]


def dir_bytes_files(path: str) -> tuple[int, int]:
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(d, n))
                files += 1
    return total, files

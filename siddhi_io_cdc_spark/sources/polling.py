"""``cdc-poll`` — a micro-batch Structured Streaming source for polling CDC.

Re-expresses the reference's polling mode (``source/polling/CDCPoller.java``,
``polling/strategies/DefaultPollingStrategy.java``,
``polling/strategies/WaitOnMissingRecordPollingStrategy.java``) as a native
Spark streaming source via the PySpark ``DataSource`` API (Spark 4):

- **Initial offset** seeds from the current table max (``SELECT MAX(col)``,
  DefaultPollingStrategy.java:109-132), with the ``-1`` sentinel for an empty
  table (:121-124); ``startFrom=earliest`` additionally captures existing rows.
- **Incremental scan**: each micro-batch reads ``polling_column > last AND
  polling_column <= current_max`` — the predicate is evaluated inside the
  storage scan (parquet row-group pruning / JDBC remote WHERE), mirroring the
  reference's pushdown at DefaultPollingStrategy.java:142-145.
- **Gap-wait** (``waitOnMissedRecord``): the offset never advances past a gap
  in an integer polling column until ``missedRecordWaitingTimeout`` seconds
  elapse (WaitOnMissingRecordPollingStrategy.java:112-152). Implemented as
  admission control in ``latestOffset()``; the PySpark API hands
  ``latestOffset`` no start offset, so the last emitted offset is reader
  state — seeded by ``initialOffset`` on a fresh start and by
  ``partitions(start, end)`` on a checkpoint-resumed uncommitted batch. One
  documented deviation: resuming from a clean checkpoint *while* a gap-wait
  was in flight restarts the wait from the checkpointed ``gap_since`` if the
  restart replays a batch, else skips straight to the available rows
  (equivalent to an immediate timeout).
- **Pacing**: the reference's ``polling.interval`` (T6) maps to
  ``trigger(processingTime=...)``; cron (T7) maps to externally scheduled
  ``trigger(availableNow=True)`` runs — see ``streaming/triggers.py``.
- **Resume** (T2/§3.3): Structured Streaming's checkpoint persists the offset
  JSON; restart loses nothing (reference test TestCaseOfCDCPollingMode.java:393-515).

Scale shape: offset discovery reads ONLY the polling column (column pruning +
parquet statistics); data reads are split into groups of landing files, one
group per ``ROWS_PER_READ_TASK`` rows of the window and at most
``numPartitions`` groups, so a large catch-up scan parallelizes across the
cluster while a small live-tail trigger is one task. The row floor is there
because each Python read task has a measured fixed cost (~0.2 s of worker CPU
before ``read()`` starts, against a few ms for the read of a ~1,500-row
trigger). Each partition yields Arrow record batches (no per-row Python).
The reader caches each landing file's polling-column min/max and row count
under the file's ``(size, mtime)`` signature, so a driver-side pass costs one
listing of the zone plus the footers of new or changed files (a stat-less
file's column is scanned once, not per trigger) — O(new files) per trigger,
not O(zone). A file rewritten in place is re-read only if its size or mtime
changes; a file whose footer is not readable yet (still being written) counts
as not landed until a later trigger reads it. The cache lives on the reader
object Spark keeps across triggers; a restarted query starts with an empty
cache and reads every footer once.

The storage backend here is a parquet directory (what the test harness and a
lakehouse landing zone use). A JDBC backend plugs into the same offset logic
with ``spark.read.jdbc(predicates=...)``; connection pooling per partition is
Spark-managed (reference S12 — HikariCP/JNDI — is obsolete under Spark's
executor model).
"""

from __future__ import annotations

import json
import math
import time
from dataclasses import dataclass, field
from typing import NamedTuple

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

EMPTY_SENTINEL = -1  # DefaultPollingStrategy.java:121-124
#: Names pyarrow dataset discovery skips (hidden files, ``_SUCCESS``,
#: staging dirs); the zone listing skips the same ones.
_IGNORED_PREFIXES = (".", "_")
#: Rows one default-path read task is sized for: a window of fewer rows is
#: one task. Equals one Arrow record batch at Spark's default
#: ``spark.sql.execution.arrow.maxRecordsPerBatch`` (10,000).
ROWS_PER_READ_TASK = 10_000


def _arrow_to_struct(schema):
    from pyspark.sql.pandas.types import from_arrow_type
    from pyspark.sql.types import StructField, StructType

    return StructType([StructField(f.name, from_arrow_type(f.type), f.nullable) for f in schema])


def _jsonable(v):
    """Offset values must round-trip through JSON."""
    try:
        json.dumps(v)
        return v
    except TypeError:
        if hasattr(v, "item"):
            return v.item()
        return str(v)


def _positive_int(options, name, default):
    """Integer option that must be at least 1 (a count or a window size)."""
    value = int(options.get(name) or default)
    if value < 1:
        raise ValueError(f"cdc-poll option {name!r} must be >= 1, got {value}")
    return value


def _coerce_bound(schema, column, value):
    """Cast a JSON-round-tripped offset bound back to the column's Arrow type.

    Checkpoint offsets pass through JSON, so a timestamp/date/decimal bound
    arrives as a string — and Arrow dataset filters do NOT auto-cast
    (``greater(timestamp, string)`` has no kernel). Returns the cast value,
    or the original when no cast is needed/possible."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if value is None or not isinstance(value, str):
        return value
    try:
        typ = schema.field(column).type
    except KeyError:
        return value
    if pa.types.is_string(typ) or pa.types.is_large_string(typ):
        return value
    try:
        return pc.cast(pa.scalar(value), typ).as_py()
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError, pa.ArrowTypeError, ValueError):
        return value


def _fragment_stats(md, column):
    """(min, max, covered) of ``column`` from one fragment's parquet footer.
    ``covered`` is False when any row group lacks min/max statistics (the
    caller then scans that fragment's column instead of trusting stats)."""
    frag_mn = frag_mx = None
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        if row_group.num_rows == 0:
            continue
        col_idx = None
        for i in range(row_group.num_columns):
            if row_group.column(i).path_in_schema == column:
                col_idx = i
                break
        if col_idx is None:
            continue  # column absent from this file: reads as null
        st = row_group.column(col_idx).statistics
        if st is None or not st.has_min_max:
            return (None, None, False)
        if st.num_values == 0:  # all-null row group
            continue
        frag_mn = st.min if frag_mn is None else min(frag_mn, st.min)
        frag_mx = st.max if frag_mx is None else max(frag_mx, st.max)
    return (frag_mn, frag_mx, True)


class _FileStats(NamedTuple):
    """Cached polling-column facts of one landing file."""

    sig: tuple  # (size, mtime_ns) the facts were read under
    mn: object  # None when the file holds no non-null value
    mx: object
    covered: bool  # footer stats cover every row group; else mn/mx were scanned
    num_rows: int


def _read_file_stats(filesystem, path, column):
    """``(min, max, covered, num_rows)`` of ``column`` in one parquet file,
    from its footer (:func:`_fragment_stats`). When the footer lacks
    statistics the file's polling column is scanned instead, so min/max are
    exact either way."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    with filesystem.open_input_file(path) as f:
        pf = pq.ParquetFile(f)
        mn, mx, covered = _fragment_stats(pf.metadata, column)
        if not covered:
            col = pc.drop_null(pf.read(columns=[column]).column(0))
            if len(col):
                mn, mx = pc.min(col).as_py(), pc.max(col).as_py()
        return mn, mx, covered, pf.metadata.num_rows


def _zone_filesystem(path):
    """``(filesystem, root)`` of a landing zone URI or plain local path."""
    import pyarrow as pa
    import pyarrow.fs as pafs

    try:
        return pafs.FileSystem.from_uri(path)
    except pa.ArrowInvalid:  # a plain local path
        return pafs.LocalFileSystem(), path


def _landing_files(filesystem, root):
    """The zone's data files, in path order (the order dataset discovery
    uses), skipping the names discovery skips."""
    import pyarrow.fs as pafs

    root = root.rstrip("/")
    infos = filesystem.get_file_info(pafs.FileSelector(root, recursive=True))
    for info in sorted(infos, key=lambda i: i.path):
        rel = info.path[len(root) + 1:]
        if info.type == pafs.FileType.File and not any(
            part.startswith(_IGNORED_PREFIXES) for part in rel.split("/")
        ):
            yield info


def _zone_schema(path):
    """The Arrow schema of the first landed file (footer readable) in
    listing order — the file dataset discovery would infer from, minus
    files still being written. Opens one footer in the normal case; a zone
    with no landed file has the empty schema, as discovery gives it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    filesystem, root = _zone_filesystem(path)
    for info in _landing_files(filesystem, root):
        try:
            with filesystem.open_input_file(info.path) as f:
                return pq.read_schema(f)
        except (pa.ArrowInvalid, OSError):
            continue
    return pa.schema([])


def _outside(st, low, high):
    """True when footer stats prove no row of the file lies in (low, high].
    Stat-less files and incomparable stats are never excluded."""
    if not st.covered or st.mn is None:
        return False
    try:
        if low is not None and low != EMPTY_SENTINEL and not st.mx > low:
            return True  # every row <= low: already delivered
        return high is not None and st.mn > high  # every row beyond high
    except TypeError:
        return False


@dataclass
class RangeScan(InputPartition):
    """One slice of the (low, high] incremental scan: a group of parquet
    fragments (``paths``), or the whole directory when ``paths`` is None
    (key-range slicing for ordered delivery)."""

    path: str
    column: str
    low: object  # exclusive; None/-1 sentinel = unbounded below
    high: object  # inclusive; None = empty scan
    columns: list = field(default_factory=list)
    ordered: bool = False  # sort the slice by the polling column before emit
    paths: list | None = None  # fragment group; None = scan `path`


class CDCPollStreamReader(DataSourceStreamReader):
    def __init__(self, schema, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("cdc-poll requires option 'path' (parquet table directory)")
        self.column = options.get("pollingColumn") or options.get("polling.column")
        if not self.column:
            raise ValueError("cdc-poll requires option 'pollingColumn'")
        self.start_from = (options.get("startFrom") or "latest").lower()
        self.wait_on_missed = (options.get("waitOnMissedRecord") or "false").lower() == "true"
        self.missed_timeout = float(options.get("missedRecordWaitingTimeout") or -1)
        self.num_partitions = _positive_int(options, "numPartitions", 4)
        self.max_keys_per_trigger = _positive_int(options, "maxKeysPerTrigger", 1_000_000)
        # Ordered delivery (reference §4: strict per-source event order,
        # CDCSource.java:436 single delivery thread). Spark parallelizes, so
        # the guarantee we offer is: rows within each partition are sorted by
        # the polling column, and partition ranges are themselves monotone —
        # a foreachBatch consumer iterating partitions in order sees globally
        # ordered keys. Holds on EVERY path: exact-int windows key-range
        # slice, non-int / earliest-catch-up windows slice via
        # _ordered_key_slices, and un-sliceable key domains collapse to one
        # partition (slower, never out of order). Costs one in-memory Arrow
        # sort per slice.
        self.ordered = (options.get("orderByPollingColumn") or "false").lower() == "true"
        self.field_names = [f.name for f in schema.fields]
        self._prev: dict | None = None  # last offset this reader emitted/saw

    # -- storage access (driver side: polling column only) --------------------

    def _dataset(self):
        """The landed files as one Arrow dataset (the table schema's source)."""
        import pyarrow.dataset as ds

        return ds.dataset(
            list(self._zone_stats()), format="parquet",
            filesystem=_zone_filesystem(self.path)[0],
        )

    def _zone_stats(self) -> dict:
        """Per-file polling-column stats of the landing zone, in path order
        (the order dataset discovery uses). Lists the zone once; a file's
        footer is read only when the file is new or its ``(size, mtime)``
        changed since the previous call, and files that are gone drop out.
        The cache is per reader (created lazily, so readers built without
        ``__init__`` work too), and Spark keeps the reader across triggers.
        A file whose footer cannot be read yet (listed while it is still
        being written) has not landed: it is left out, and read again on
        the next call."""
        import pyarrow as pa

        filesystem, root = _zone_filesystem(self.path)
        old = getattr(self, "_stats_cache", None) or {}
        cache = {}
        for info in _landing_files(filesystem, root):
            sig = (info.size, info.mtime_ns)
            st = old.get(info.path)
            if st is None or st.sig != sig:
                try:
                    st = _FileStats(sig, *_read_file_stats(filesystem, info.path, self.column))
                except (pa.ArrowInvalid, OSError):
                    continue
            cache[info.path] = st
        self._stats_cache = cache
        return cache

    def _coerce_bounds(self, *bounds):
        """Cast JSON-stringified bounds back to the polling column's type.
        Only a ``str`` bound needs the table schema, so int offsets skip it."""
        if not any(isinstance(b, str) for b in bounds):
            return bounds
        schema = self._dataset().schema
        return tuple(_coerce_bound(schema, self.column, b) for b in bounds)

    def _col_values(self, low=None, high=None):
        """Polling-column values in ``(low, high]`` — column-pruned, filtered
        scan of only the files whose cached stats can overlap the window
        (stat-less files always included). Callers bound ``high`` so this
        never materializes an unbounded backlog on the driver (the gap path
        caps at ``maxKeysPerTrigger``)."""
        import pyarrow as pa
        import pyarrow.dataset as ds

        low, high = self._coerce_bounds(low, high)
        paths = [p for p, st in self._zone_stats().items() if not _outside(st, low, high)]
        if not paths:
            return pa.chunked_array([], pa.null())
        filt = None
        if low is not None and low != EMPTY_SENTINEL:
            filt = ds.field(self.column) > low
        if high is not None:
            hf = ds.field(self.column) <= high
            filt = hf if filt is None else (filt & hf)
        dset = ds.dataset(paths, format="parquet", filesystem=_zone_filesystem(self.path)[0])
        return dset.to_table(columns=[self.column], filter=filt).column(0)

    def _stats_minmax(self):
        """(min, max) of the polling column from the cached per-file stats:
        parquet ROW-GROUP STATISTICS (footer metadata only, no data pages)
        for every file that has them, and a one-off polling-column scan of
        each file that lacks them. The reference's ``SELECT MAX(col)``
        (DefaultPollingStrategy.java:115) becomes a stats lookup. Returns
        (None, None) only when the table has no non-null polling values."""
        mn = mx = None
        for st in self._zone_stats().values():
            if st.mn is not None:
                mn = st.mn if mn is None else min(mn, st.mn)
                mx = st.mx if mx is None else max(mx, st.mx)
        return (mn, mx)

    def _coerce_offset(self, last):
        """Cast a JSON-stringified offset back into the polling column's Arrow
        domain. Checkpoint offsets round-trip through JSON, so a timestamp /
        date / decimal polling value comes back as a string; casting the
        string (rather than scanning data) lets footer-stats comparisons
        answer ``latestOffset`` with zero data pages read. Returns None when
        the cast fails (caller falls back to a string-domain compare)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        try:
            typ = self._dataset().schema.field(self.column).type
            return pc.cast(pa.scalar(last), typ).as_py()
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError, pa.ArrowTypeError,
                KeyError, ValueError, TypeError):
            return None

    def _current_max(self):
        return self._stats_minmax()[1]

    # -- offsets ---------------------------------------------------------------

    def initialOffset(self) -> dict:
        if self.start_from == "earliest":
            off = {"last": EMPTY_SENTINEL}
        elif self.start_from == "latest":
            mx = self._current_max()
            # Reference seeds with the current table max so only NEW rows flow
            # (DefaultPollingStrategy.java:109-132); -1 when the table is empty.
            off = {"last": EMPTY_SENTINEL if mx is None else _jsonable(mx)}
        else:
            # Explicit high-water mark: deliver strictly-after rows. This is
            # the snapshot-bootstrap seam (api.cdc_bootstrap_then_stream):
            # batch-load everything <= hwm, stream everything > hwm.
            try:
                off = {"last": int(self.start_from)}
            except ValueError:
                raise ValueError(
                    f"startFrom must be 'latest', 'earliest' or an integer "
                    f"high-water mark, got {self.start_from!r}"
                ) from None
        self._prev = off
        return off

    def latestOffset(self) -> dict:
        start = self._prev
        if start is None:
            # Resumed from a clean checkpoint: Spark didn't replay a batch, so
            # the true start is unknown until partitions() runs. Advance to
            # the current max (gap logic resumes next trigger).
            mx = self._current_max()
            off = {"last": EMPTY_SENTINEL if mx is None else _jsonable(mx)}
            self._prev = off
            return off
        off = self._advance(start)
        self._prev = off
        return off

    def _advance(self, start: dict) -> dict:
        import pyarrow.compute as pc

        last = start.get("last")
        if not self.wait_on_missed or not isinstance(last, int):
            # Fast path: max comes from row-group statistics (footer-only);
            # no polling-column data ever crosses the driver.
            mx = self._current_max()
            if mx is None:
                return dict(start)
            if last is not None and last != EMPTY_SENTINEL:
                try:
                    if not mx > last:
                        return dict(start)
                except TypeError:
                    # The checkpoint JSON-stringified the offset (e.g. a
                    # timestamp polling column). Compare in the column's own
                    # domain by casting the string back — NEVER by reading an
                    # unbounded (last, ∞) column slice on the driver: a 100×
                    # catch-up backlog must stay on the executors.
                    coerced = self._coerce_offset(last)
                    if coerced is None:
                        # No silent fallback to lexicographic string compare:
                        # str() of a decimal is not zero-padded ("9.5" > "10.2"
                        # as strings), so a string-domain compare could stall
                        # the stream forever without any error. Fail loudly —
                        # reaching here means the checkpointed offset cannot
                        # be cast back into the polling column's type, which
                        # is a corrupt checkpoint or a changed column type.
                        raise RuntimeError(
                            f"cdc-poll: checkpointed offset {last!r} cannot be "
                            f"cast back to polling column {self.column!r}'s "
                            f"type; refusing a lexicographic string compare "
                            f"(risks a silent stream stall). Was the polling "
                            f"column's type changed under an existing "
                            f"checkpoint?"
                        )
                    if not mx > coerced:
                        return dict(start)
            return {"last": _jsonable(mx)}

        # Gap admission (T8): only advance through a contiguous integer run
        # (gap detect: WaitOnMissingRecordPollingStrategy.java:116-131; the
        # int-only constraint mirrors :51-52). The contiguity scan is BOUNDED:
        # it reads only the (last, last + maxKeysPerTrigger] key window —
        # column-pruned, row-group-pruned — and runs vectorized (numpy), so a
        # huge catch-up backlog never materializes as Python objects on the
        # driver; the stream drains it window-per-trigger instead.
        import numpy as np

        stats_mn, stats_mx = self._stats_minmax()
        if last == EMPTY_SENTINEL:
            if stats_mn is None:
                return dict(start)  # no non-null polling value yet
            base = int(stats_mn) - 1
        else:
            base = last
        window_hi = base + self.max_keys_per_trigger
        vals = pc.drop_null(self._col_values(low=base, high=window_hi))
        if len(vals) == 0:
            return dict(start)
        arr = np.sort(pc.unique(vals).to_numpy(zero_copy_only=False).astype(np.int64))
        contiguous = arr == base + 1 + np.arange(arr.size)
        run = arr.size if bool(contiguous.all()) else int(np.argmin(contiguous))
        allowed = base + run
        mx = int(arr[-1])
        if stats_mx is not None:
            try:
                mx = max(mx, int(stats_mx))
            except (TypeError, ValueError):
                pass
        if allowed >= mx:
            return {"last": _jsonable(allowed)}
        if allowed == window_hi:
            # Window exhausted without a gap; continue next trigger.
            return {"last": _jsonable(allowed)}

        waiting_for = allowed + 1
        now = time.time()
        if start.get("gap_next") == waiting_for and start.get("gap_since") is not None:
            since = start["gap_since"]
            if self.missed_timeout >= 0 and now - since >= self.missed_timeout:
                # Timed out: give up on THIS missing record only. The
                # reference consumes the post-gap row and then re-checks
                # contiguity per row with waitingFor reset to -1
                # (WaitOnMissingRecordPollingStrategy.java:124-126, reset at
                # :140-141), so delivery resumes only through the NEXT
                # contiguous run — the following gap starts a FRESH
                # wait/timeout cycle. (Before round 12 this branch jumped the
                # offset to the current max, releasing every later island on
                # the FIRST timeout — single-gap-correct only.)
                tail = arr[arr > allowed]
                if tail.size == 0:
                    # the whole remaining window is missing keys; skip it and
                    # let the next trigger scan the following window
                    return {"last": _jsonable(window_hi)}
                t_contig = tail == tail[0] + np.arange(tail.size)
                t_run = (
                    tail.size if bool(t_contig.all()) else int(np.argmin(t_contig))
                )
                new_last = int(tail[t_run - 1])
                if new_last >= mx or new_last == window_hi:
                    return {"last": _jsonable(new_last)}
                return {
                    "last": _jsonable(new_last),
                    "gap_next": new_last + 1,
                    "gap_since": now,
                }
            return {"last": _jsonable(allowed), "gap_next": waiting_for, "gap_since": since}
        return {"last": _jsonable(allowed), "gap_next": waiting_for, "gap_since": now}

    def _ordered_key_slices(self, low, high):
        """Monotone key-range slices for ordered delivery when the offset
        window is not (int, int): timestamp / date / decimal / float polling
        columns, and the ``startFrom=earliest`` catch-up whose low is the
        EMPTY sentinel.

        Boundaries come from linear interpolation between the window ends in
        an ORDINAL domain (timestamp/date → epoch integer, decimal/float →
        float; the catch-up low is seeded from footer-stats min). Approximate
        boundaries affect only balance, never correctness: each slice still
        filters exactly ``(b_{i-1}, b_i]`` in the column's own domain, and
        the boundary chain is kept strictly increasing, so consuming
        partitions in order yields globally ordered keys — the same
        guarantee as the exact-int path. Returns None when the column type
        has no ordinal mapping (caller then emits a single slice)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        dset = self._dataset()
        try:
            typ = dset.schema.field(self.column).type
        except KeyError:
            return None
        lo_b = _coerce_bound(dset.schema, self.column, low)
        hi_b = _coerce_bound(dset.schema, self.column, high)
        if hi_b is None:
            return None
        unbounded_low = lo_b is None or lo_b == EMPTY_SENTINEL

        is_temporal = (
            pa.types.is_timestamp(typ) or pa.types.is_date(typ) or pa.types.is_time(typ)
        )

        def to_ord(v):
            if pa.types.is_integer(typ):
                return int(v)
            if pa.types.is_floating(typ) or pa.types.is_decimal(typ):
                return float(v)
            if is_temporal:
                return pc.cast(pa.scalar(v, typ), pa.int64()).as_py()
            return None

        def from_ord(o):
            if pa.types.is_integer(typ):
                return int(o)
            if pa.types.is_floating(typ):
                return float(o)
            if pa.types.is_decimal(typ):
                return pc.cast(pa.scalar(float(o), pa.float64()), typ).as_py()
            # Temporal: round-trip through the type's integer representation
            # (date32 stores int32 days — cast through int32 first).
            storage = pa.int32() if pa.types.is_date32(typ) else pa.int64()
            return pc.cast(pa.scalar(int(o), storage), typ).as_py()

        try:
            if unbounded_low:
                lo_val, _ = self._stats_minmax()
                if lo_val is None:
                    return None
            else:
                lo_val = lo_b
            lo_o, hi_o = to_ord(lo_val), to_ord(hi_b)
            if lo_o is None or hi_o is None or not hi_o > lo_o:
                return None
            chain = []
            for i in range(1, self.num_partitions):
                b = from_ord(lo_o + (hi_o - lo_o) * i / self.num_partitions)
                if (chain and not b > chain[-1]) or not b < hi_b:
                    continue
                if not unbounded_low and not b > lo_b:
                    continue
                chain.append(b)
        except (
            TypeError, ValueError, OverflowError, KeyError,
            pa.ArrowInvalid, pa.ArrowNotImplementedError, pa.ArrowTypeError,
        ):
            return None
        los = [low] + chain
        his = chain + [high]
        return [
            RangeScan(self.path, self.column, lo_i, hi_i, self.field_names, True)
            for lo_i, hi_i in zip(los, his)
        ]

    def _ordered_slices(self, low, high):
        """Monotone key-range slices of (low, high] for ordered delivery."""
        if (
            isinstance(low, int)
            and isinstance(high, int)
            and low != EMPTY_SENTINEL
            and high - low > self.num_partitions
        ):
            # Ordered delivery keeps KEY-RANGE slicing: partition ranges
            # are monotone, so in-order partition consumers see globally
            # ordered keys. The cost — each slice scans every fragment
            # that may contain its range — is the price of the ordering
            # guarantee; the default path never pays it.
            span = high - low
            step = span // self.num_partitions
            parts, lo = [], low
            for i in range(self.num_partitions):
                hi = high if i == self.num_partitions - 1 else lo + step
                parts.append(
                    RangeScan(self.path, self.column, lo, hi, self.field_names, True)
                )
                lo = hi
            return parts
        # Ordered delivery outside the exact-int window (timestamp /
        # decimal polling columns, and the startFrom=earliest catch-up
        # whose low is the EMPTY sentinel): the fragment-group path
        # would emit OVERLAPPING key ranges and silently break the
        # documented global-order guarantee. Derive monotone boundaries
        # from footer stats instead; when the key domain can't be split
        # (e.g. string keys), fall back to ONE slice — slower, never
        # wrong.
        parts = self._ordered_key_slices(low, high)
        if parts is not None:
            return parts
        return [RangeScan(self.path, self.column, low, high, self.field_names, True)]

    def partitions(self, start: dict, end: dict):
        # Learn the true start on checkpoint-replayed batches.
        self._prev = dict(end)
        low = start.get("last")
        high = end.get("last")
        empty = [RangeScan(self.path, self.column, None, None, self.field_names, self.ordered)]
        if high is None or high == low:
            return empty
        if (
            isinstance(low, int)
            and isinstance(high, int)
            and high <= low
            and low != EMPTY_SENTINEL
        ):
            return empty
        if self.ordered and self.num_partitions > 1:
            # Ordered slices scan the landed files only: a file still being
            # written is left to a later trigger, as on the default path.
            landed = list(self._zone_stats())
            if not landed:
                return empty
            parts = self._ordered_slices(low, high)
            for part in parts:
                part.paths = landed
            return parts
        # Default: STORAGE-NATURAL partitioning. One slice = one group of
        # parquet fragments, so a catch-up scan reads every byte exactly
        # once regardless of how keys cluster across files — key-range
        # slicing instead re-reads any fragment whose stats straddle several
        # ranges (worst case, an unsorted landing zone: num_partitions full
        # passes). Fragments wholly outside (low, high] are pruned by
        # footer statistics on the driver; groups are balanced by row count
        # (greedy LPT). The group count follows the kept files' cached row
        # counts, capped by numPartitions: a Python read task's fixed setup
        # cost dwarfs a small read, so a live-tail trigger is one task.
        lo_b, hi_b = self._coerce_bounds(low, high)
        keep = [
            (path, st.num_rows)
            for path, st in self._zone_stats().items()
            if not _outside(st, lo_b, hi_b)
        ]
        if not keep:
            return empty
        total = sum(rows for _, rows in keep)
        n = min(self.num_partitions, len(keep), max(1, math.ceil(total / ROWS_PER_READ_TASK)))
        groups: list[list[str]] = [[] for _ in range(n)]
        sizes = [0] * n
        for path, rows in sorted(keep, key=lambda t: -t[1]):
            i = sizes.index(min(sizes))
            groups[i].append(path)
            sizes[i] += rows
        return [
            RangeScan(
                self.path, self.column, low, high, self.field_names, self.ordered, paths=g
            )
            for g in groups
            if g
        ]

    def read(self, partition: RangeScan):
        import pyarrow.dataset as ds

        if partition.high is None:
            return iter(())
        dset = ds.dataset(partition.paths or partition.path, format="parquet")
        high = _coerce_bound(dset.schema, partition.column, partition.high)
        low = _coerce_bound(dset.schema, partition.column, partition.low)
        filt = ds.field(partition.column) <= high
        if low is not None and low != EMPTY_SENTINEL:
            filt = filt & (ds.field(partition.column) > low)
        tbl = dset.to_table(columns=partition.columns, filter=filt)
        if partition.ordered:
            # Ordered delivery: executor-side Arrow sort of this key slice.
            tbl = tbl.sort_by(partition.column)
        # Arrow batches straight through — no per-row Python.
        return iter(tbl.to_batches())

    def commit(self, end: dict) -> None:
        # Micro-batch commit supersedes the reference's per-event
        # OffsetCommitPolicy.always() (ChangeDataCapture.java:88).
        self._prev = dict(end)


class CDCPollDataSource(DataSource):
    """``spark.readStream.format("cdc-poll")`` — polling-mode CDC source.

    Options: ``path``, ``pollingColumn``, ``startFrom``
    (latest|earliest|<integer hwm>),
    ``waitOnMissedRecord`` (bool), ``missedRecordWaitingTimeout`` (seconds,
    -1 = wait forever), ``maxKeysPerTrigger`` (gap-wait scan window, >= 1),
    ``numPartitions`` (>= 1, default 4): the most tasks one trigger's read
    may use. The default path uses one task per ~``ROWS_PER_READ_TASK``
    rows of the window, so a small trigger is read by one task.

    Like the reference's polling mode, captures inserts and updates-as-new-rows
    only — a deleted row never matches ``col > last`` (CDCSource.java:82-84).
    """

    @classmethod
    def name(cls) -> str:
        return "cdc-poll"

    def schema(self):
        full = _arrow_to_struct(_zone_schema(self.options["path"]))
        cols = self.options.get("columns")
        if not cols:
            return full
        # Explicit column projection: prunes the scan at the parquet reader
        # (partition.columns) AND skips columns whose types the Arrow
        # transfer can't carry (e.g. TIMESTAMP(NANOS) fixture columns).
        want = [c.strip() for c in cols.split(",") if c.strip()]
        have = {f.name for f in full.fields}
        missing = [c for c in want if c not in have]
        if missing:
            raise ValueError(f"cdc-poll 'columns' not in table schema: {missing}")
        from pyspark.sql.types import StructType

        return StructType([f for f in full.fields if f.name in want])

    def streamReader(self, schema):
        return CDCPollStreamReader(schema, self.options)


def register_cdc_poll(spark) -> None:
    spark.dataSource.register(CDCPollDataSource)


def gap_admission_phases(df, key_col: str, nbuckets: int = 4096):
    """Batch restatement of the T8 gap-wait admission order
    (``WaitOnMissingRecordPollingStrategy.java:112-152``): ``phase`` is the
    WAIT-CYCLE index of each event. In the reference every gap is an
    independent wait/timeout cycle — on timeout the scanner consumes rows
    only until the NEXT missing key, where ``waitingFor == -1`` (reset at
    :140-141) starts a FRESH ``waitingFrom`` clock (:117-121) — so the
    events of the i-th contiguous key run (island) are delivered after
    exactly ``i - 1`` timeouts. ``phase = 1`` is the run the offset walks
    through immediately; ``phase = i`` rows appear only after the (i-1)-th
    missed-record timeout expires. (Before round 12 this function collapsed
    every post-gap island into one ``phase = 2`` give-up — correct only for
    single-gap streams.)

    ``phase(k) = #{island heads h : h <= k}`` where an island head is a
    present key whose predecessor is absent. The smallest present key is
    always a head, so phases start at 1 with no special case.

    Distributed shape — no global sort (a row_number over the raw key would
    serialize the whole stream through one partition):

    1. heads via a self-anti-join of the distinct keys on ``key+1``;
    2. a prefix count of heads per key via ``nbuckets`` range buckets:
       per-bucket head counts (tiny aggregate, <= nbuckets rows) get a
       cumulative sum through a window over that SMALL table only, and the
       within-bucket remainder is an equi-join on the bucket id — fan-out
       bounded by heads-per-bucket x keys-per-bucket;
    3. phases ride back to the event rows on a key equi-join.

    The bucket width derives from the observed min/max through a broadcast
    1-row cross join (no driver collect). NULL keys (and keys that do not
    cast to long) take no part in gap discovery and get ``phase = NULL`` —
    the reference's scanner never sees them (``resultSet.getInt`` on the
    ordered polling column), so they have no admission order. Both the
    gap-finding and the tag-back join use the SAME ``cast('long')``
    expression, so a string key column cannot gap-find on one domain and
    tag on another.
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    k = F.col(key_col).cast("long")
    keys = df.select(k.alias("__k")).where(F.col("__k").isNotNull()).distinct()
    # island heads: present keys whose predecessor is absent
    succ = keys.select((F.col("__k") + 1).alias("__k"))
    heads = keys.join(succ, "__k", "left_anti")
    bounds = keys.agg(
        F.min("__k").alias("__mn"), F.max("__k").alias("__mx")
    ).select(
        "__mn",
        F.greatest(
            F.lit(1),
            F.ceil((F.col("__mx") - F.col("__mn") + 1) / F.lit(nbuckets)),
        )
        .cast("long")
        .alias("__w"),
    )

    def bucketed(kdf):
        return kdf.crossJoin(F.broadcast(bounds)).select(
            "__k",
            F.floor((F.col("__k") - F.col("__mn")) / F.col("__w")).alias("__b"),
        )

    hb = bucketed(heads)
    kb = bucketed(keys)
    # heads strictly BELOW each bucket: the cum table spans every KEY
    # bucket (a headless bucket still inherits the running total), is
    # <= nbuckets rows, so the ordered window runs over the aggregate,
    # never the stream
    cum_before = (
        kb.select("__b")
        .distinct()
        .join(hb.groupBy("__b").agg(F.count(F.lit(1)).alias("__c")), "__b", "left")
        .select("__b", F.coalesce("__c", F.lit(0)).alias("__c"))
        .select(
            "__b",
            F.coalesce(
                F.sum("__c").over(
                    W.orderBy("__b").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("__cum"),
        )
    )
    in_bucket = (
        kb.join(hb.select(F.col("__k").alias("__h"), "__b"), "__b")
        .where(F.col("__h") <= F.col("__k"))
        .groupBy("__k")
        .agg(F.count(F.lit(1)).alias("__ib"))
    )
    phases = (
        kb.join(F.broadcast(cum_before), "__b", "left")
        .join(in_bucket, "__k", "left")
        .select(
            "__k",
            (F.coalesce(F.col("__cum"), F.lit(0)) + F.coalesce(F.col("__ib"), F.lit(0)))
            .cast("int")
            .alias("phase"),
        )
    )
    return df.join(phases, k == phases["__k"], "left").select(*df.columns, "phase")

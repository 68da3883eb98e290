"""Small shared DataFrame utilities."""

from __future__ import annotations

import contextlib
import logging
import os

from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)

# Cache-lifetime bookkeeping for multi-reference pipelines (minhash/simhash/
# n-gram/embedding near-dup): those operators MUST persist intermediates that
# feed both sides of a self-join, but a long-lived session running repeated
# curation jobs would otherwise accrete cached blocks until eviction
# pressure. Two release mechanisms, combinable:
#
# - ``cache_scope()``: every ``scoped_persist`` inside the ``with`` block is
#   unpersisted at exit — use around a whole job.
# - ``release_caches(result)``: pipelines tag their result DataFrame with the
#   intermediates built for it; call after materializing (collect/write) to
#   free them immediately.
#
# Unpersisting is always safe for correctness — a re-evaluated result merely
# recomputes.

_SCOPES: list[list[DataFrame]] = []
_CACHE_TAG = "_siddhi_cached_deps"


def scoped_persist(df: DataFrame) -> DataFrame:
    """``persist()`` that registers with the innermost :func:`cache_scope`."""
    df = df.persist()
    if _SCOPES:
        _SCOPES[-1].append(df)
    return df


def tag_caches(result: DataFrame, deps: list[DataFrame]) -> DataFrame:
    """Record ``deps`` (persisted intermediates) on ``result`` for
    :func:`release_caches`."""
    setattr(result, _CACHE_TAG, list(deps))
    return result


def release_caches(result: DataFrame) -> None:
    """Unpersist the intermediates a pipeline cached to build ``result``.

    Call after the result is materialized (collected / written); evaluating
    the result again afterwards recomputes instead of reading cache."""
    for df in getattr(result, _CACHE_TAG, []):
        df.unpersist()
    setattr(result, _CACHE_TAG, [])


@contextlib.contextmanager
def cache_scope():
    """Release every pipeline-internal persist created inside the block."""
    scope: list[DataFrame] = []
    _SCOPES.append(scope)
    try:
        yield
    finally:
        _SCOPES.remove(scope)
        for df in scope:
            df.unpersist()


_AQE_LOCK = __import__("threading").Lock()
_AQE_STATE: dict[int, tuple[int, str]] = {}  # id(session) -> (depth, saved)


@contextlib.contextmanager
def aqe_off(spark):
    """Scope ``spark.sql.adaptive.enabled=false`` around a driver-side
    training loop (the loops reduce to 1-row/model-sized actions AQE can't
    improve but taxes with re-planning barriers), re-entrantly and
    race-free across threads: concurrent scopes on one session share a
    single save/restore (first entry saves the prior value, last exit
    restores it), so two trainers can no longer race the toggle and leave
    AQE off after both return. The conf is still SESSION-global — an
    unrelated query PLANNED while any scope is open loses AQE for that one
    plan. That is perf-only (results unaffected) and accepted; the engine's
    own background threads (KN scorers) only run collects on
    already-planned, checkpoint-leaf tables inside such windows."""
    key = id(spark)
    with _AQE_LOCK:
        depth, saved = _AQE_STATE.get(key, (0, "true"))
        if depth == 0:
            saved = spark.conf.get("spark.sql.adaptive.enabled", "true")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
        _AQE_STATE[key] = (depth + 1, saved)
    try:
        yield
    finally:
        with _AQE_LOCK:
            depth, saved = _AQE_STATE[key]
            if depth == 1:
                spark.conf.set("spark.sql.adaptive.enabled", saved)
                del _AQE_STATE[key]
            else:
                _AQE_STATE[key] = (depth - 1, saved)


#: In-flight bytes of per-slot work below which the widening shuffle is
#: skipped: the narrow compute then finishes faster than the extra stage +
#: exchange cost. Measured calibration (two rounds): at sf0.1 (documents
#: pruned to ``text``: 1.44 MiB in flight → 46 KiB/core at 32 cores) the
#: always-on shuffle taxed the r7 bench ~0.4-1.3 s per text query, so those
#: stay narrow; at sf2 widening is a 10× wall-time win (gopher_quality
#: 15.3 s → 1.5 s, BASELINE.md round-7 section). The r16 sf1 series found
#: the earlier 128 KiB-of-estimate threshold straddled the middle: sf1 text
#: (77 KiB/core of estimate, ~585 KiB/core in flight at 32 cores) skipped
#: the widening and serialized a ~7 s tokenize+explode onto the scan's 2
#: row-group partitions, while an explicit widening measured 6.1-10.8 s →
#: 2.2-2.8 s (~3×, paired in-session). That calibration settled on
#: 32 KiB/core of Catalyst's COMPRESSED, column-pruned scan estimate, which
#: is 7.6× under the in-flight bytes for pruned text (sf0.1
#: ``documents.text``: 198,189 B estimate, 1,512,270 B footer uncompressed)
#: but 1.0× for float arrays (sf0.001 ``embeddings``: 193,646 B vs
#: 195,156 B), so one estimate-unit threshold could not serve both. Restated
#: in in-flight bytes: 32 KiB × the 5-10× text ratio = 160-320 KiB; the
#: lower end keeps every text decision above (sf0.1 stays narrow at 32
#: cores and widens at 4, 369 KiB/core; sf1 widens at 32) and still widens
#: sf0.1 ``embeddings`` at 4 cores (198 KiB/core), where ``pq_encode``
#: profiled a single 1.6 s task. Production override:
#: SPARK_GRAFT_FANOUT_MIN_SLOT_KIB (in-flight KiB per slot), read when
#: :func:`fan_out` is called.
MIN_FAN_OUT_BYTES_PER_SLOT = 160 * 1024


def _min_fan_out_bytes_per_slot() -> int:
    """``SPARK_GRAFT_FANOUT_MIN_SLOT_KIB`` in bytes if set, else
    ``MIN_FAN_OUT_BYTES_PER_SLOT``. A malformed value (``64k``, empty,
    negative) falls back to that default with a warning rather than
    failing the caller."""
    raw = os.environ.get("SPARK_GRAFT_FANOUT_MIN_SLOT_KIB")
    if raw is None:
        return MIN_FAN_OUT_BYTES_PER_SLOT
    try:
        kib = int(raw)
    except ValueError:
        kib = -1
    if kib < 0:
        _log.warning(
            "SPARK_GRAFT_FANOUT_MIN_SLOT_KIB=%r is not a non-negative integer "
            "(in-flight KiB per slot); using the default of %d",
            raw, MIN_FAN_OUT_BYTES_PER_SLOT // 1024,
        )
        return MIN_FAN_OUT_BYTES_PER_SLOT
    return kib * 1024


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's sizeInBytes estimate for the optimized plan (for a scan:
    sum of file sizes × compression factor; for a local relation: rows ×
    row-width). None when unavailable — callers treat unknown as large."""
    try:
        size = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:
        return None
    # Long.MaxValue-ish sentinels mean "no estimate"
    return None if size >= (1 << 62) else size


def _iterate(java_iterator):
    while java_iterator.hasNext():
        yield java_iterator.next()


def _parquet_scans(df: DataFrame):
    """The parquet file scans ``df`` reads, as ``(listing, columns)`` per
    scan: the scan's partition-pruned file listing and the top-level
    columns it reads. None when any leaf of the physical plan is not a
    parquet file scan (``Range``, local or cached relations, other
    formats), or when the plan cannot be inspected."""
    try:
        leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
        scans = []
        for leaf in _iterate(leaves.iterator()):
            if (
                leaf.getClass().getSimpleName() != "FileSourceScanExec"
                or leaf.relation().fileFormat().getClass().getSimpleName()
                != "ParquetFileFormat"
            ):
                return None
            scans.append(
                (leaf.selectedPartitions(), set(leaf.requiredSchema().fieldNames()))
            )
        return scans
    except Exception:
        return None


def _footer_bytes(scans, cap: int) -> int | None:
    """Bytes the scans put in flight: the footer ``total_uncompressed_size``
    of every column chunk they read, summed over their files. Stops once
    the sum reaches ``cap``, and returns None when a footer cannot be
    read."""
    import pyarrow as pa
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    total = 0
    for listing, columns in scans:
        for part in _iterate(listing.filePartitionIterator()):
            for status in _iterate(part.files()):
                try:
                    uri = status.getPath().toString()
                    filesystem, path = pafs.FileSystem.from_uri(uri)
                    with filesystem.open_input_file(path) as f:
                        md = pq.read_metadata(f)
                except (OSError, pa.ArrowException):
                    return None
                for rg in range(md.num_row_groups):
                    row_group = md.row_group(rg)
                    for i in range(row_group.num_columns):
                        chunk = row_group.column(i)
                        if chunk.path_in_schema.split(".")[0] in columns:
                            total += chunk.total_uncompressed_size
                if total >= cap:
                    return total
    return total


def fan_out(
    df: DataFrame,
    num_partitions: int | None = None,
    min_bytes_per_slot: int | None = None,
) -> DataFrame:
    """Ensure CPU-heavy narrow stages actually parallelize.

    A small/compact parquet input can arrive in a handful of partitions
    (row-group granularity), which serializes narrow per-row compute (JSON
    parsing, shingling, hashing) on a many-core executor. Repartition UP to
    the session's default parallelism before the heavy work — but never
    DOWN: a 100 TB input already carrying thousands of partitions must not
    be collapsed (the shuffle would dwarf the win), so this is a no-op
    there.

    The widening is ALSO skipped when the per-core work is below the
    shuffle's own cost (``min_bytes_per_slot`` of in-flight bytes per
    target partition): round-robin-shuffling a few hundred KiB to 32 cores
    costs more scheduling than the narrow compute it parallelizes. When
    every leaf is a parquet file scan, the in-flight bytes are the footers'
    uncompressed bytes of the columns each scan reads — the same basis for
    text and for float arrays, whatever the codec. Footers are read only
    for an input narrower than the target (a wide input returns at once)
    and only until the sum reaches the threshold. Other leaves, and a
    footer that cannot be read, fall back to Catalyst's ``sizeInBytes``.
    Unknown sizes (no stats) widen as before — the conservative choice for
    the scale this engine targets. ``min_bytes_per_slot=None`` (default) reads
    ``SPARK_GRAFT_FANOUT_MIN_SLOT_KIB`` (else ``MIN_FAN_OUT_BYTES_PER_SLOT``)
    at CALL time, so the threshold stays tunable after import.
    """
    if min_bytes_per_slot is None:
        min_bytes_per_slot = _min_fan_out_bytes_per_slot()
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    limit = parts * min_bytes_per_slot
    scans = _parquet_scans(df) if limit > 0 else None
    # Catalyst's figure costs a plan-stats call, so it gates before the
    # partition count; footers cost I/O, so they are read after it.
    if scans is None:
        size = _plan_size_bytes(df)
        if size is not None and size < limit:
            return df
    if df.rdd.getNumPartitions() >= parts:
        return df
    if scans is not None:
        size = _footer_bytes(scans, limit)
        if size is None:
            size = _plan_size_bytes(df)
        if size is not None and size < limit:
            return df
    return df.repartition(parts)

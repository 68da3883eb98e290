"""Mutating query surface: stream→table insert / update-on / delete-on.

The reference's tests drive three siddhi-core constructs against an RDBMS
store (SURVEY.md §2.4):

- Q1 ``from S select * insert into T``        (TestCaseOfCDCListeningMode.java:95-97)
- Q3 ``update T ... on T.id == id``           (:275-277)
- Q4 ``delete T on T.id == id and ...``       (:179-181)

Spark-first restatement: the *logic* is a keyed merge expressed as DataFrame
joins (anti-join + union — Catalyst broadcasts the small change-set side
automatically, so the target table is never shuffled); the *storage* is
pluggable. This container has no Delta/Iceberg, so the shipped store is a
hash-bucketed parquet directory kept merge-on-read by ``streaming/mor.py``:
:func:`merge_into_bucketed_parquet` writes the bucketed base once, then
appends each batch's latest row per key as one delta file plus one
tombstone file and reads no store data; compaction folds the deltas into
a new base every 16 batches. The store must be read through
:func:`read_bucketed_store`, which merges base, deltas and tombstones.
:func:`swap_partitions` is the one code path that reads, creates and
rewrites a copy-on-write bucketed store — the changelog store's base, the
SCD2 history store, the rollup sink and the IVF / BM25 / n-gram indexes
go through it: it reads only the touched partitions, writes their
replacement once and swaps each in by rename. On a real lakehouse the same
plan feeds ``DeltaTable.merge`` / ``MERGE INTO`` (:func:`merge_into_delta`)
and the physical commit becomes transactional. Streaming entry points wrap
the batch logic in ``foreachBatch`` — replay-idempotent because the merge
is keyed.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def insert_into(target: DataFrame, source: DataFrame) -> DataFrame:
    """Q1: append stream rows to the table (column-aligned union)."""
    return target.unionByName(source.select(*target.columns))


def update_on(
    target: DataFrame,
    source: DataFrame,
    on: Sequence[str],
    set_exprs: dict[str, str] | None = None,
) -> DataFrame:
    """Q3: ``update T set T.x = x, ... on T.k == k``.

    Rows of ``target`` whose key matches a ``source`` row get the source's
    values for ``set_exprs`` keys (default: every shared non-key column).
    Unmatched target rows pass through; unmatched source rows are ignored
    (siddhi `update` does not insert).
    """
    keys = list(on)
    if set_exprs is None:
        set_exprs = {c: c for c in source.columns if c in target.columns and c not in keys}
    # Deduplicate the change set per key (last writer wins is resolved by the
    # caller ordering; here any single row per key) to keep the join 1:1.
    # A match FLAG (not coalesce) distinguishes "no matching source row" from
    # "update sets the column to NULL" — siddhi's update writes the given
    # value including NULL (TestCaseOfCDCListeningMode.java:275-277).
    src = source.dropDuplicates(keys).select(
        *keys,
        F.lit(True).alias("__matched"),
        *[F.col(s).alias(f"__new_{t}") for t, s in set_exprs.items()],
    )
    joined = target.join(F.broadcast(src), on=keys, how="left")
    matched = F.col("__matched").eqNullSafe(F.lit(True))
    out_cols: list[Column] = []
    for c in target.columns:
        if c in set_exprs:
            out_cols.append(F.when(matched, F.col(f"__new_{c}")).otherwise(F.col(c)).alias(c))
        else:
            out_cols.append(F.col(c))
    return joined.select(*out_cols)


def delete_on(target: DataFrame, source: DataFrame, on: Sequence[str]) -> DataFrame:
    """Q4: ``delete T on T.k == k [and T.j == j]`` — keyed anti-join."""
    keys = list(on)
    return target.join(F.broadcast(source.select(*keys).dropDuplicates(keys)), on=keys, how="left_anti")


def rekey_deletes(events: DataFrame, keys: Sequence[str], op_col: str = "operation") -> DataFrame:
    """Move delete-event keys from the before image into the key columns.

    Multi-op flatten fills a delete's missing after-image with type defaults
    (E5), so its current key column holds a DEFAULT, not the key — anything
    that groups, joins, or buckets on the key must re-key deletes from
    ``before_<k>`` first. Single-op delete frames (before_ columns only) are
    re-keyed wholesale. Idempotent: after normalization the key and before
    key agree, so applying it again is a no-op.
    """
    ev_cols = set(events.columns)
    key_exprs = []
    for kcol in keys:
        b = f"before_{kcol}"
        if kcol in ev_cols and b in ev_cols:
            key_exprs.append(
                F.when(F.col(op_col) == "delete", F.col(b)).otherwise(F.col(kcol)).alias(kcol)
            )
        elif kcol not in ev_cols and b in ev_cols:
            key_exprs.append(F.col(b).alias(kcol))
        else:
            key_exprs.append(F.col(kcol))
    return events.select(*key_exprs, *[F.col(c) for c in events.columns if c not in keys])


def evolve_target_schema(
    target: DataFrame, events: DataFrame, op_col: str = "operation"
) -> tuple[DataFrame, DataFrame]:
    """Schema evolution for the CDC apply path (additive, the Debezium
    reality: upstream ``ALTER TABLE ADD COLUMN`` starts shipping envelopes
    with a new field).

    - a row-image column in ``events`` that ``target`` lacks is added to the
      target as typed NULLs (historical rows predate the column);
    - a target column missing from ``events`` (dropped upstream) is fed NULL
      for new/updated rows, historical rows keep their values.

    Returns the aligned ``(target, events)`` pair — feed straight into
    :func:`apply_changelog`. Pure projections (no shuffle, no data rewrite:
    with columnar storage the NULL column is metadata-only until rows carry
    values). Type CHANGES of an existing column are not auto-resolved: that
    needs a policy decision, so it surfaces as the union type error.
    """
    meta = {op_col, "operation", "source_ts_ms", "ts_ms"}
    ev_types = dict(events.dtypes)
    tgt_types = dict(target.dtypes)
    for c in events.columns:
        if c in meta or c.startswith("before_") or c in tgt_types:
            continue
        target = target.withColumn(c, F.lit(None).cast(ev_types[c]))
    for c in target.columns:
        if c not in ev_types:
            events = events.withColumn(c, F.lit(None).cast(tgt_types[c]))
    return target, events


def _latest_per_key(
    events: DataFrame, keys: list[str], row_cols: Sequence[str], seq_col: str, op_col: str
) -> DataFrame:
    """One row per key: its last event by ``(seq_col, op_col)``, as the key
    columns, that event's op as ``__op``, and the non-key ``row_cols``."""
    vals = [c for c in row_cols if c not in keys]
    return (
        events.groupBy(*keys)
        .agg(F.max(F.struct(F.col(seq_col), F.col(op_col), *vals)).alias("__last"))
        .select(*keys, F.col(f"__last.{op_col}").alias("__op"), *[F.col(f"__last.{c}").alias(c) for c in vals])
    )


def apply_changelog(
    target: DataFrame,
    events: DataFrame,
    key: Sequence[str],
    seq_col: str = "ts_ms",
    op_col: str = "operation",
) -> DataFrame:
    """Materialize flattened CDC events onto a table (CDC apply).

    ``events`` is the output of :func:`...operators.flatten` in multi-op form
    (columns = row image + ``operation`` + ``seq_col``). For each key, only the
    LAST event (max ``seq_col``) decides the final state: delete → row gone,
    insert/update → row replaced/added. Unaffected target rows pass through.

    This is the batch-idempotent core that ``foreachBatch`` re-runs safely on
    replay. Scale shape: a micro-batch change-set is ≪ target, so the
    anti-join broadcasts it and the target scan stays shuffle-free.
    """
    keys = list(key)
    row_cols = target.columns
    latest = _latest_per_key(rekey_deletes(events, keys, op_col), keys, row_cols, seq_col, op_col)
    survivors = target.join(F.broadcast(latest.select(*keys)), on=keys, how="left_anti")
    upserts = latest.filter(F.col("__op") != F.lit("delete")).select(*row_cols)
    return survivors.unionByName(upserts)


# ---------------------------------------------------------------------------
# Bucketed parquet stores (the container has no Delta): every hash- or
# cell-partitioned copy-on-write store of the package is read, created and
# rewritten through swap_partitions; the changelog merge store is
# merge-on-read on top of a base it writes that way. A lakehouse MERGE
# replaces both in production.
# ---------------------------------------------------------------------------


BUCKET_COL = "__bucket"
#: Prefix of the aside directory a partition swap parks live partitions in;
#: Spark's file listing skips names that start with ``_``.
_SWAP_PREFIX = "_swap-"


def _fs(spark, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath, jvm


def _rename(fs, src, dst) -> None:
    if not fs.rename(src, dst):
        raise OSError(f"rename {src.toString()} -> {dst.toString()} failed")


def swap_partitions(
    spark,
    path: str,
    part_col: str,
    touched: DataFrame,
    merge: Callable[[DataFrame | None], DataFrame],
) -> bool:
    """Rewrite the partitions of the parquet table at ``path`` (partitioned
    on ``part_col``) that ``touched`` names, with the rows ``merge`` returns.
    Returns whether ``merge`` returned any row (False if nothing was
    touched).

    ``touched`` is a one-column frame of the partition values the batch
    touches (NULLs ignored). ``merge(current)`` gets the live rows of those
    partitions, ``part_col`` included, read with the union schema
    (``mergeSchema``: partitions written before an additive schema change
    lack the new column in their footers, and a single-footer sample would
    drop it); it returns the replacement rows, each carrying ``part_col``.
    With no store at ``path`` (no partition), ``merge(None)`` creates it:
    ``touched`` is then not collected.

    The replacement is written ONCE, to a sibling staging directory, under
    a ``rebalance`` hint on ``part_col``: each partition's rows meet in one
    writer task, so each partition is one file (AQE splits a partition only
    past its advisory partition size, so a huge one still parallelizes). A
    new store's staging directory is renamed into place whole. Otherwise,
    per partition, through the Hadoop FileSystem API (local, hdfs:// and
    s3a:// paths alike): the live ``part=b`` is renamed aside into
    ``{path}/_swap-<uuid>/`` and the staged ``part=b``, if the replacement
    has rows there, is renamed into place; a touched partition with no
    staged rows is thereby emptied. The aside directory is dropped once
    every swap is done. A table that would be left with no partition at
    all keeps one zero-row partition, so its schema stays readable.

    Crash-safety: the call first restores every ``_swap-*/part=b`` whose
    live ``part=b`` is missing (a crash between the two renames), then
    drops the ``_swap-*`` directories; ``current`` is read after that, so
    re-running the interrupted batch converges.
    """
    fs, root, jvm = _fs(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path
    root = fs.makeQualified(root)
    exists = fs.exists(root)
    entries = {st.getPath().getName() for st in fs.listStatus(root)} if exists else set()
    for aside in sorted(e for e in entries if e.startswith(_SWAP_PREFIX)):
        for st in fs.listStatus(Path(root, aside)):
            name = st.getPath().getName()
            if name not in entries:
                _rename(fs, st.getPath(), Path(root, name))
                entries.add(name)
        fs.delete(Path(root, aside), True)
    live = {e for e in entries if e.startswith(part_col + "=")}

    touched_values, current = [], None
    if live:
        touched_values = [r[0] for r in touched.distinct().collect() if r[0] is not None]
        if not touched_values:
            return False
        current = (
            spark.read.option("mergeSchema", "true").parquet(path)
            .where(F.col(part_col).isin(touched_values))  # partition-pruned scan
        )
    touched_names = {f"{part_col}={v}" for v in touched_values}
    rows = merge(current)
    staging = Path(root.toString() + ".stage-" + uuid.uuid4().hex)
    try:
        rows.hint("rebalance", part_col).write.partitionBy(part_col).parquet(staging.toString())
        staged = {
            st.getPath().getName()
            for st in fs.listStatus(staging)
            if st.getPath().getName().startswith(part_col + "=")
        }
        has_rows = bool(staged)
        if not staged and live <= touched_names:
            # The table keeps one zero-row partition, so its schema stays
            # readable; a fresh empty frame does not re-run the merge plan.
            keep = f"{part_col}={min(touched_values, default=0)}"
            spark.createDataFrame([], rows.drop(part_col).schema).write.parquet(
                Path(staging, keep).toString()
            )
            staged = {keep}
        if not exists:
            _rename(fs, staging, root)
            return has_rows
        aside = Path(root, _SWAP_PREFIX + uuid.uuid4().hex)
        fs.mkdirs(aside)
        for name in sorted(touched_names | staged):
            if name in live:
                _rename(fs, Path(root, name), Path(aside, name))
            if name in staged:
                _rename(fs, Path(staging, name), Path(root, name))
        fs.delete(aside, True)
        return has_rows
    finally:
        fs.delete(staging, True)


def merge_into_bucketed_parquet(
    spark,
    target_path: str,
    batch_df: DataFrame,
    key: Sequence[str],
    num_buckets: int = 64,
    seq_col: str = "ts_ms",
    op_col: str = "operation",
    evolve: bool = False,
) -> None:
    """Apply one changelog batch to the bucketed merge store at
    ``target_path``: a merge-on-read table (``streaming/mor.py``) whose
    base is hash-bucketed on the merge key, ``{target}/__bucket=k/``, one
    file per bucket.

    A missing target bootstraps from the batch itself (its row-image
    columns): :func:`...streaming.mor.mor_init` stamps ``_mor.json``
    (key, bucket count, schema) and the base is written once through
    :func:`swap_partitions`. After that a batch reads no store data: it
    takes the latest event per key (the :func:`apply_changelog`
    semantics) and appends them as one delta file, plus one tombstone
    file of every batch key, at a sequence of its own; every 16th batch
    folds the deltas into a new base version. I/O per batch is O(batch).
    A store that holds no row and no delta (its first batch deleted
    everything) bootstraps again from the next batch.

    ``evolve=True`` aligns the batch with the store as
    :func:`evolve_target_schema` does. A column new to the store first
    folds the store into a new base version that has it (typed NULLs on
    older rows): O(table), once per upstream ``ADD COLUMN``.

    Read the store only with :func:`read_bucketed_store`: the root's
    bucket directories are the base alone.
    """
    _merge_changelog(spark, target_path, batch_df, list(key), num_buckets, seq_col, op_col, evolve)


#: The changelog store's table in its ``_mor.json``. Its first base is the
#: store root itself; a compaction moves it to ``{path}/changelog__v<k>/``.
CHANGELOG_TABLE = "changelog"


def _merge_changelog(
    spark, target_path, batch_df, keys, num_buckets, seq_col, op_col, evolve,
    batch_id=None, expect_epoch=None,
) -> int | None:
    """One batch into the changelog store; returns the writer epoch the
    apply claimed (None for a bootstrap), for ``expect_epoch`` next time."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    from siddhi_io_cdc_spark.streaming import mor

    events = rekey_deletes(batch_df, keys, op_col)
    meta = mor._read_mor(spark, target_path) if mor.is_mor(spark, target_path) else None
    if meta is None:
        _check_store_layout(spark, target_path, "bucketed")
        skip = {op_col, seq_col, "operation", "source_ts_ms", "ts_ms"}
        fields = [f for f in events.schema if f.name not in skip and not f.name.startswith("before_")]
    else:
        spec = meta["tables"][CHANGELOG_TABLE]
        _check_bucket_count(spec, target_path, num_buckets)
        fields = [f for f in StructType.fromJson(spec["schema"]) if f.name != BUCKET_COL]
    schema = StructType([StructField(f.name, f.dataType) for f in fields])
    if evolve:
        target, events = evolve_target_schema(spark.createDataFrame([], schema), events, op_col)
        schema = StructType([StructField(f.name, f.dataType) for f in target.schema])
    stored = StructType([*schema, StructField(BUCKET_COL, IntegerType())])
    bucket = F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(num_buckets)).cast("int")
    latest = _latest_per_key(events, keys, schema.fieldNames(), seq_col, op_col).select(
        "__op", *[F.col(f.name).cast(f.dataType) for f in schema]
    )
    upserts = latest.where(F.col("__op") != "delete").drop("__op").withColumn(BUCKET_COL, bucket)
    if meta is None or (spec["empty"] and not meta["high_water"]):
        spec = {
            "id_col": keys, "part_col": BUCKET_COL, "base_dir": "", "delta_partitioned": False,
            "num_buckets": num_buckets, "schema": stored.jsonValue(), "empty": True,
        }
        mor.mor_init(spark, target_path, {CHANGELOG_TABLE: spec})
        # Every bucket is touched, so a base that a crashed bootstrap left
        # behind is replaced whole.
        every_bucket = spark.range(num_buckets).select(F.col("id").cast("int"))
        if swap_partitions(spark, target_path, BUCKET_COL, every_bucket, lambda _: upserts):
            meta = mor._read_mor(spark, target_path)
            meta["tables"][CHANGELOG_TABLE]["empty"] = False
            mor._write_mor(spark, target_path, meta)
        return None
    seq, epoch = mor.mor_begin_apply(spark, target_path, batch_id, expect_epoch=expect_epoch)
    if len(schema) > len(fields):  # evolve added a column
        mor._compact(spark, target_path, epoch, {CHANGELOG_TABLE: stored})
    latest.persist()  # the delta and the tombstones: one pass over the batch
    try:
        mor.mor_append(spark, target_path, CHANGELOG_TABLE, upserts, latest.select(*keys), seq, epoch=epoch)
    finally:
        latest.unpersist()
    mor.maybe_autocompact(spark, target_path, epoch=epoch)
    return epoch


def read_bucketed_store(spark, target_path: str) -> DataFrame:
    """The live rows of a bucketed merge store: its base, plus the deltas
    appended since the last compaction, minus the rows their tombstones
    shadow (:func:`...streaming.mor.mor_live`), read with the store's
    recorded schema (so no footer is opened to infer one). This is the
    only correct read of the store."""
    from siddhi_io_cdc_spark.streaming.mor import MOR_META, is_mor, mor_live

    if not is_mor(spark, target_path):
        raise ValueError(f"no bucketed merge store at {target_path!r} (no {MOR_META})")
    return mor_live(spark, target_path, CHANGELOG_TABLE).drop(BUCKET_COL)


def merge_into_delta(
    spark,
    target_path: str,
    batch_df: DataFrame,
    key: Sequence[str],
    seq_col: str = "ts_ms",
    op_col: str = "operation",
) -> None:
    """Apply one micro-batch to a Delta Lake table via ``MERGE INTO`` —
    the lakehouse backend behind the same signature as the parquet stores.

    Requires the ``delta-spark`` package on the session (not present in this
    container — the import gate raises a clear error; the call path is
    exercised hermetically by monkeypatching the gate in tests). Semantics
    match :func:`apply_changelog`: latest event per key wins by
    ``(seq_col, op_col)``, delete drops the row, insert/update upserts —
    replay-idempotent because the merge is keyed, transactional because
    Delta commits are.
    """
    try:
        from delta.tables import DeltaTable
    except ImportError as e:  # pragma: no cover - no delta in this container
        raise ImportError(
            "merge_into_delta requires the delta-spark package "
            "(pip install delta-spark and configure the session with "
            "spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension); "
            "use layout='bucketed' for the plain-parquet store"
        ) from e

    keys = list(key)
    events = rekey_deletes(batch_df, keys, op_col)
    row_cols = [
        c for c in events.columns
        if c not in (op_col, seq_col, "source_ts_ms") and not c.startswith("before_")
    ]
    latest = _latest_per_key(events, keys, row_cols, seq_col, op_col)
    if not DeltaTable.isDeltaTable(spark, target_path):
        latest.filter(F.col("__op") != "delete").drop("__op").write.format("delta").save(
            target_path
        )
        return
    cond = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    (
        DeltaTable.forPath(spark, target_path)
        .alias("t")
        .merge(latest.alias("s"), cond)
        .whenMatchedDelete(condition="s.__op = 'delete'")
        .whenMatchedUpdate(set={c: f"s.{c}" for c in row_cols if c not in keys})
        .whenNotMatchedInsert(
            condition="s.__op != 'delete'", values={c: f"s.{c}" for c in row_cols}
        )
        .execute()
    )


def _detect_store_layout(spark, target_path: str) -> str | None:
    """Which merge-store layout lives at ``target_path``: 'bucketed' (a
    ``_mor.json`` pointer), 'delta', 'copy-on-write bucketed' (bucket
    directories without a pointer: a store written before the bucketed
    store became merge-on-read), 'flat' (a plain parquet directory, which
    no writer here produces), or None for absent/empty. Layouts are not
    interchangeable on disk, so writers must refuse to write into another
    one. Listed through the Hadoop FileSystem, so any URI scheme works."""
    from siddhi_io_cdc_spark.streaming.mor import MOR_META

    fs, root, _ = _fs(spark, target_path)
    if not fs.exists(root):
        return None
    entries = {st.getPath().getName() for st in fs.listStatus(root)}
    if "_delta_log" in entries:
        return "delta"
    if entries & {MOR_META, MOR_META + ".tmp"}:
        return "bucketed"
    if any(e.startswith(BUCKET_COL + "=") for e in entries):
        return "copy-on-write bucketed"
    if any(e.endswith(".parquet") for e in entries):
        return "flat"
    return None


def _check_store_layout(spark, target_path: str, layout: str) -> None:
    existing = _detect_store_layout(spark, target_path)
    if existing is not None and existing != layout:
        raise ValueError(
            f"merge store at {target_path!r} already uses the {existing!r} "
            f"layout; refusing to write {layout!r} into it — the layouts "
            f"are not interchangeable on disk. Open the store with the "
            f"layout it was written in, or point the stream at a new "
            f"target_path (a copy-on-write bucketed store has no writer "
            f"any more: rebuild it there)."
        )


def _check_bucket_count(spec: dict, target_path: str, num_buckets: int) -> None:
    """Refuse a ``num_buckets`` other than the one the store recorded at
    creation: a key lives in bucket ``xxhash64(key) % num_buckets``, so a
    compaction under another modulus would scatter the store's buckets."""
    if spec["num_buckets"] != num_buckets:
        raise ValueError(
            f"bucketed merge store at {target_path!r} was created with "
            f"num_buckets={spec['num_buckets']}; merging with "
            f"num_buckets={num_buckets} is refused. Pass the num_buckets "
            f"the store was created with."
        )


def foreach_batch_merge(
    spark,
    target_path: str,
    key: Sequence[str],
    seq_col: str = "ts_ms",
    op_col: str = "operation",
    layout: str = "bucketed",
    num_buckets: int = 64,
):
    """``writeStream.foreachBatch`` adapter for the merge store backends.

    Default ``layout="bucketed"`` routes to
    :func:`merge_into_bucketed_parquet`, the merge-on-read parquet store
    whose per-batch I/O is O(batch); read it back with
    :func:`read_bucketed_store` only. Each batch is appended at the
    sequence ``_mor.json`` records for the engine's batch id, so a
    replayed batch overwrites its own delta, and the writer epoch the
    previous batch claimed fences a second maintainer
    (:class:`...streaming.mor.MorWriterFenced`). ``layout="delta"`` routes
    to :func:`merge_into_delta` (transactional ``MERGE INTO``; needs
    delta-spark). Any other layout raises ``ValueError``. Layouts are not
    interchangeable on disk: an existing store in another layout, a plain
    parquet directory or a bucketed store written before the store became
    merge-on-read included, is refused with ``ValueError`` when the
    adapter is built.

    A bucketed store records the ``num_buckets`` it was created with; any
    other value is refused with ``ValueError`` when the adapter is built.
    """
    if layout not in ("bucketed", "delta"):
        raise ValueError(f"layout must be 'bucketed' or 'delta', got {layout!r}")
    _check_store_layout(spark, target_path, layout)
    if layout == "delta":

        def _apply_delta(batch_df: DataFrame, batch_id: int) -> None:
            merge_into_delta(
                spark, target_path, batch_df, key=key, seq_col=seq_col, op_col=op_col
            )

        return _apply_delta
    from siddhi_io_cdc_spark.streaming.mor import _read_mor, is_mor

    if is_mor(spark, target_path):
        spec = _read_mor(spark, target_path)["tables"][CHANGELOG_TABLE]
        _check_bucket_count(spec, target_path, num_buckets)
    state = {"epoch": None}

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        state["epoch"] = _merge_changelog(
            spark, target_path, batch_df, list(key), num_buckets, seq_col, op_col,
            evolve=False, batch_id=batch_id, expect_epoch=state["epoch"],
        )

    return _apply

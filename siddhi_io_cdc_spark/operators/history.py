"""SCD2 history from a changelog, and point-in-time (temporal) lookup.

The reference delivers per-key change events in order and its mutating
surface keeps only the LATEST state (``update T on key`` —
``TestCaseOfCDCListeningMode.java:275-277``). At warehouse scale the other
standard materialization of the same changelog is the *full history* table
(SCD type 2): one row per key VERSION with a validity interval, so any past
state can be queried. Both views derive from the same flattened event
stream; this module adds the history side:

- :func:`changelog_history` — changelog → versioned history table
  (``valid_from`` / ``valid_to`` / ``is_current`` / ``is_deleted``).
- :func:`temporal_lookup` — "what did key k look like at time t?" joins for
  a whole fact table, via the as-of machinery (one shuffle, no explosion).

Scale shape: history building is ONE shuffle on the key plus a per-key
ordered ``lead`` — identical cost to any windowed pass; the result
partitions naturally by key for downstream pruning. The lookup reuses
:func:`...temporal.asof_join` (union + ordered window), so a fact table of
any size joins against any depth of history without a range explosion.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from siddhi_io_cdc_spark.operators.mutate import rekey_deletes, swap_partitions

__all__ = [
    "changelog_history",
    "temporal_lookup",
    "merge_history_into_parquet",
    "foreach_batch_history",
]


def changelog_history(
    events: DataFrame,
    key: Sequence[str],
    seq_col: str = "ts_ms",
    op_col: str = "operation",
    value_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Materialize a flattened CDC event stream as an SCD2 history table.

    Every event opens a version valid ``[seq, next_seq)``; the key's last
    event has ``valid_to = NULL`` (open-ended). Delete events produce a
    tombstone version (``is_deleted = true``, value columns NULL) so "key
    did not exist at t" is representable. ``is_current`` marks each key's
    live version. Events must be unique per ``(key, seq_col)`` — enforce
    upstream (the flatten path guarantees it for a single source).

    One hash exchange on the key; ``lead`` and ``row_number`` share its
    ordered pass. No joins, no explosion — the same plan shape at any scale.
    """
    keys = list(key)
    events = rekey_deletes(events, keys, op_col)
    if value_cols is None:
        meta = {op_col, "operation", "source_ts_ms", "ts_ms", seq_col}
        value_cols = [
            c
            for c in events.columns
            if c not in meta and c not in keys and not c.startswith("before_")
        ]
    w = Window.partitionBy(*keys).orderBy(F.col("valid_from").asc())
    deleted = F.col(op_col) == "delete"
    return events.select(
        *keys,
        *[F.when(~deleted, F.col(c)).alias(c) for c in value_cols],
        deleted.alias("is_deleted"),
        F.col(seq_col).cast("long").alias("valid_from"),
    ).select(
        "*",
        F.lead("valid_from").over(w).alias("valid_to"),
    ).withColumn(
        "is_current", F.col("valid_to").isNull() & ~F.col("is_deleted")
    )


def merge_history_into_parquet(
    spark,
    target_path: str,
    batch_df: DataFrame,
    key: Sequence[str],
    seq_col: str = "ts_ms",
    op_col: str = "operation",
    num_buckets: int = 64,
    value_cols: Sequence[str] | None = None,
) -> None:
    """Incrementally maintain an SCD2 history table from streaming CDC
    micro-batches (``writeStream.foreachBatch`` body — see
    :func:`foreach_batch_history`).

    Layout: hash-bucketed on the key (``{target}/__bucket=k/``, one file
    per bucket) like the mutation store, and written the same way, through
    :func:`...mutate.swap_partitions`. Per batch: (1) read ONLY the buckets
    the batch's keys hash into, (2) convert those stored versions back to
    events (a version IS its opening event: ``valid_from`` = seq, tombstone
    = delete), (3) re-derive history over old+new events for the touched
    keys, (4) rewrite only those buckets. A missing store is created from
    the batch's history alone. Versions are deduplicated on
    ``(key, valid_from)`` first, which makes replay after a checkpoint
    restart idempotent.

    I/O per batch is O(touched buckets + batch); the per-key re-derivation
    is the same one-ordered-pass plan as :func:`changelog_history` — history
    depth only costs within the touched keys.
    """
    keys = list(key)
    batch_df = rekey_deletes(batch_df, keys, op_col)
    if value_cols is None:
        meta = {op_col, "operation", "source_ts_ms", "ts_ms", seq_col}
        value_cols = [
            c
            for c in batch_df.columns
            if c not in meta and c not in keys and not c.startswith("before_")
        ]
    new_events = batch_df.select(
        *keys,
        *value_cols,
        F.col(op_col).alias("__op"),
        F.col(seq_col).cast("long").alias("__seq"),
    )
    bucket_expr = F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(num_buckets))

    def _derive(events: DataFrame) -> DataFrame:
        ev = events.dropDuplicates([*keys, "__seq"]).withColumnRenamed("__op", op_col)
        h = changelog_history(
            ev.withColumnRenamed("__seq", seq_col),
            key=keys,
            seq_col=seq_col,
            op_col=op_col,
            value_cols=list(value_cols),
        )
        return h.withColumn("__bucket", bucket_expr)

    def merged_buckets(stored: DataFrame | None) -> DataFrame:
        if stored is None:
            return _derive(new_events)
        # A stored version is its opening event; tombstones were deletes.
        old_events = stored.select(
            *keys,
            *value_cols,
            F.when(F.col("is_deleted"), F.lit("delete")).otherwise(F.lit("insert")).alias("__op"),
            F.col("valid_from").alias("__seq"),
        )
        return _derive(old_events.unionByName(new_events))

    swap_partitions(spark, target_path, "__bucket", new_events.select(bucket_expr), merged_buckets)


def foreach_batch_history(
    spark,
    target_path: str,
    key: Sequence[str],
    seq_col: str = "ts_ms",
    op_col: str = "operation",
    num_buckets: int = 64,
    value_cols: Sequence[str] | None = None,
):
    """``writeStream.foreachBatch`` adapter for
    :func:`merge_history_into_parquet`."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        merge_history_into_parquet(
            spark,
            target_path,
            batch_df,
            key=key,
            seq_col=seq_col,
            op_col=op_col,
            num_buckets=num_buckets,
            value_cols=value_cols,
        )

    return _apply


def temporal_lookup(
    facts: DataFrame,
    history: DataFrame,
    on: Sequence[str],
    fact_time: str,
    value_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Point-in-time enrichment: for each fact row, the history version
    valid AT ``fact_time`` (``valid_from <= t``, latest such version, and
    not a tombstone). Facts before the key's first version — or landing on
    a deleted interval — keep NULL values (left-outer semantics).

    Reuses the as-of join (one shuffle on the key, ordered window, zero
    explosion), then masks tombstone matches to NULL. ``value_cols``
    defaults to the history's value columns.
    """
    from siddhi_io_cdc_spark.operators.temporal import asof_join

    keys = list(on)
    if value_cols is None:
        value_cols = [
            c
            for c in history.columns
            if c not in keys and c not in ("valid_from", "valid_to", "is_current", "is_deleted")
        ]
    h = history.select(*keys, "valid_from", "is_deleted", *value_cols)
    out = asof_join(
        facts,
        h,
        on=keys,
        left_time=fact_time,
        right_time="valid_from",
        right_values=["is_deleted", *value_cols],
        direction="backward",
    )
    masked = [
        F.when(F.col("is_deleted").eqNullSafe(F.lit(False)), F.col(c)).alias(c)
        for c in value_cols
    ]
    return out.select(*facts.columns, *masked)

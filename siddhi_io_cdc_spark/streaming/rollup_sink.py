"""Streaming incremental aggregation: the cdc-source → `define aggregation`
composition (siddhi-core IncrementalExecutor, SURVEY.md §2.5), Spark-first.

Siddhi feeds cdc events into an incremental aggregation that maintains
per-granularity tables continuously. Here the same contract is:

    readStream (cdc-poll / listening) → writeStream.foreachBatch(
        foreach_batch_rollup(spark, store, time_col, keys, value_col))

Each micro-batch is aggregated to finest-tier **partials** (sum/count/
min/max — all additive/idempotent-mergeable), then additively merged into a
hash-bucketed parquet store (one file per bucket) through
``operators.mutate.swap_partitions``, the writer every bucketed store
shares: only the buckets the batch's groups hash into are read and
rewritten, so per-batch I/O is O(touched buckets + batch), never O(store);
the first batch creates the store. Coarser tiers are derived at
read time by ``read_rollup`` — they re-aggregate the (already tiny) finest
tier, mirroring how siddhi answers a range query from the right tier.

Exactness: sums are kept as ``decimal(38,2)`` partials in the store, so
merge order across micro-batches cannot change results; the batch-vs-
stream equivalence test pins store state == one-shot batch rollup.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from siddhi_io_cdc_spark.operators.mutate import swap_partitions
from siddhi_io_cdc_spark.plans.rollup import _check_granularities

BUCKET_COL = "__bucket"

_PARTIALS = ("__sum", "__cnt", "__min", "__max")


def _batch_partials(
    batch_df: DataFrame, time_col: str, keys: Sequence[str], value_col: str, granularity: int
) -> DataFrame:
    bucket = (F.floor(F.col(time_col) / granularity) * granularity).cast("long")
    return (
        batch_df.groupBy(*keys, bucket.alias("bucket_start"))
        .agg(
            F.sum(F.col(value_col).cast("decimal(18,2)")).cast("decimal(38,2)").alias("__sum"),
            F.count(F.lit(1)).alias("__cnt"),
            F.min(value_col).alias("__min"),
            F.max(value_col).alias("__max"),
        )
    )


def merge_rollup_batch(
    spark: SparkSession,
    store_path: str,
    batch_df: DataFrame,
    time_col: str,
    keys: Sequence[str],
    value_col: str,
    granularity: int = 60,
    num_buckets: int = 16,
) -> None:
    """Additively merge one micro-batch into the finest-tier rollup store.

    The merge is a union + re-aggregation over ONLY the touched hash
    buckets: sum+sum, cnt+cnt, min(min), max(max) — associative and
    commutative, so replaying batches in any grouping yields the same
    store (micro-batch boundaries don't matter).
    """
    keys = list(keys)
    partials = _batch_partials(batch_df, time_col, keys, value_col, granularity)
    group_cols = [*keys, "bucket_start"]
    bucket_expr = F.pmod(F.xxhash64(*[F.col(c) for c in group_cols]), F.lit(num_buckets))

    def merged_buckets(existing: DataFrame | None) -> DataFrame:
        merged = partials
        if existing is not None:
            merged = (
                existing.drop(BUCKET_COL)
                .unionByName(partials)
                .groupBy(*group_cols)
                .agg(
                    F.sum("__sum").cast("decimal(38,2)").alias("__sum"),
                    F.sum("__cnt").alias("__cnt"),
                    F.min("__min").alias("__min"),
                    F.max("__max").alias("__max"),
                )
            )
        return merged.withColumn(BUCKET_COL, bucket_expr)

    swap_partitions(spark, store_path, BUCKET_COL, partials.select(bucket_expr), merged_buckets)


def foreach_batch_rollup(
    spark: SparkSession,
    store_path: str,
    time_col: str,
    keys: Sequence[str],
    value_col: str,
    granularity: int = 60,
    num_buckets: int = 16,
) -> Callable[[DataFrame, int], None]:
    """``writeStream.foreachBatch`` adapter for :func:`merge_rollup_batch`,
    with replay protection.

    Unlike the changelog merge (idempotent: last-event-per-key overwrite),
    an ADDITIVE merge double-counts on redelivery — and foreachBatch
    redelivers the last batch whenever a crash lands between sink success
    and checkpoint commit. Each applied batch id is recorded under
    ``<store>/_applied_batches/``; a replayed id is skipped, which restores
    exactly-once for the standard replay case. (A crash strictly inside
    the merge itself can still leave a partially-updated store — the same
    guarantee any non-transactional store gives; a lakehouse MERGE closes
    that window behind this same signature.)
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        marker_dir = os.path.join(store_path, "_applied_batches")
        marker = os.path.join(marker_dir, str(batch_id))
        if os.path.exists(marker):
            return  # replayed batch: already applied
        merge_rollup_batch(
            spark, store_path, batch_df, time_col, keys, value_col, granularity, num_buckets
        )
        os.makedirs(marker_dir, exist_ok=True)
        with open(marker, "w") as f:
            f.write("applied")

    return _apply


def read_rollup(
    spark: SparkSession,
    store_path: str,
    keys: Sequence[str],
    granularities: Sequence[int] = (60, 3600, 86400),
) -> DataFrame:
    """Materialize every requested tier from the stored finest tier.

    ``granularities[0]`` must be the stored granularity; coarser tiers
    re-aggregate the stored partials (tiny relative to the raw stream).
    Output schema matches ``plans.rollup`` exactly, so batch and streaming
    paths are interchangeable downstream.
    """
    gs = _check_granularities(granularities)
    keys = list(keys)
    store = spark.read.parquet(store_path).drop(BUCKET_COL)
    levels = []
    for g in gs:
        bucket = (F.floor(F.col("bucket_start") / g) * g).cast("long")
        levels.append(
            store.groupBy(*keys, bucket.alias("bucket_start"))
            .agg(
                F.sum("__sum").alias("__sum"),
                F.sum("__cnt").alias("__cnt"),
                F.min("__min").alias("__min"),
                F.max("__max").alias("__max"),
            )
            .withColumn("granularity_sec", F.lit(g).cast("int"))
        )
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out.select(
        *keys,
        "granularity_sec",
        "bucket_start",
        F.col("__sum").cast("double").alias("sum_value"),
        F.col("__cnt").alias("n_events"),
        F.col("__min").alias("min_value"),
        F.col("__max").alias("max_value"),
    )

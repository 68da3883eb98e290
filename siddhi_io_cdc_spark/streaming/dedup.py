"""Incremental (streaming) MinHash-LSH near-dedup over a persistent index.

The batch operator (``functions/dedup.py:minhash_lsh_pairs``) needs the whole
corpus in one frame; a CDC document stream needs each micro-batch's near-dup
pairs against everything seen so far WITHOUT rescanning the corpus. This
module keeps a bucket-partitioned LSH index on disk, mirroring the bucketed
merge-store pattern (``operators/mutate.py:merge_into_bucketed_parquet`` /
``operators/history.py``):

- ``{store}/bands`` — rows ``(doc_id, band, bkey)`` partitioned by
  ``__bucket = pmod(xxhash64(band, bkey), num_buckets)``. A new batch probes
  ONLY the band-buckets its own keys hash into (partition pruning), so probe
  I/O per trigger is O(batch's buckets), never O(index).
- ``{store}/docs`` — rows ``(doc_id, __sig, __sh)`` partitioned by
  ``__bucket = pmod(xxhash64(doc_id), num_buckets)``. The verify step reads
  only the buckets holding candidate partners.

Per micro-batch the emitted pairs are: in-batch pairs (LSH over the new docs
alone) ∪ cross pairs (new band keys probed against the pruned index). Both
use the SAME shingle/signature/band expressions (``minhash_prep``) and the
same exact-Jaccard verify as the batch operator, so the union of all batches'
pairs equals ``minhash_lsh_pairs`` over the union of all batches — pinned by
``tests/test_pipeline_streaming.py::test_incremental_minhash_matches_batch``.

Replay safety (``foreachBatch`` re-runs a batch after a crash): the index
probe always anti-joins out the current batch's own ids, so a batch whose
rows were already appended recomputes the SAME pairs; the index append is
skipped via a per-batch marker file, and the pairs sink writes
``batch=<id>`` subdirectories with overwrite — all three steps idempotent.

The same pattern covers embeddings: ``incremental_embedding_pairs`` keeps a
``{store}/vecs`` sign-LSH index (partitioned by ``pmod(bucket, num_buckets)``)
and emits cosine-verified pairs per batch, equal to
``functions/similarity.py:embedding_near_dup_pairs`` over the union.
``compact_lsh_index`` rewrites any of these append-only stores to one file
per bucket.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from siddhi_io_cdc_spark.functions.dedup import (
    _prefilter_candidates,
    minhash_prep,
    verify_jaccard_pairs,
)
from siddhi_io_cdc_spark.util import scoped_persist

BUCKET_COL = "__bucket"


def _recover_interrupted_compact(sub: str) -> None:
    """Restore an index subdirectory a crashed :func:`compact_lsh_index`
    left missing.

    The compaction swap is two renames (``sub -> .old-*`` then
    ``.tmp-* -> sub``); a crash between them leaves ``sub`` absent, which
    the probe path would silently read as an EMPTY index — permanently
    missing every historical pair. Recovery needs no marker: if the live
    dir is missing but a ``.old-*`` sibling survives, the old dir is still
    the complete pre-compaction index — restore it. Stale ``.tmp-*`` / extra
    ``.old-*`` siblings are garbage either way and are removed.
    """
    import shutil

    parent, base = os.path.split(sub)
    if not os.path.isdir(parent):
        return
    olds = sorted(d for d in os.listdir(parent) if d.startswith(base + ".old-"))
    if not os.path.exists(sub) and olds:
        os.rename(os.path.join(parent, olds[0]), sub)
        olds = olds[1:]
    for d in olds:
        shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
    for d in os.listdir(parent):
        if d.startswith(base + ".tmp-"):
            shutil.rmtree(os.path.join(parent, d), ignore_errors=True)


def _bands_path(store: str) -> str:
    return os.path.join(store, "bands")


def _docs_path(store: str) -> str:
    return os.path.join(store, "docs")


def _marker_path(store: str, batch_id) -> str:
    return os.path.join(store, "_batches", str(batch_id))


def incremental_minhash_pairs(
    spark,
    store_path: str,
    batch_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.8,
    seed: int = 42,
    num_buckets: int = 32,
    batch_id=None,
) -> DataFrame:
    """One incremental step: the batch's near-dup pairs (in-batch + against
    the index), MATERIALIZED, with the batch then appended to the index.

    Returns ``(id_a, id_b, jaccard)`` with ``id_a < id_b``. The result is
    ``localCheckpoint``-ed before the index append (the pair plan must not
    lazily re-read index files the append is about to grow), so callers can
    write/collect it freely.
    """
    band_bucket = F.pmod(F.xxhash64("band", "bkey"), F.lit(num_buckets))
    id_bucket = F.pmod(F.xxhash64("__id"), F.lit(num_buckets))

    sh, sig, banded = minhash_prep(
        batch_df, id_col=id_col, text_col=text_col, num_hashes=num_hashes,
        bands=bands, shingle_k=shingle_k, seed=seed,
    )
    sh, sig, banded = scoped_persist(sh), scoped_persist(sig), scoped_persist(banded)
    step_caches = [sh, sig, banded]

    # --- in-batch pairs (identical to the batch operator over new docs) ----
    in_cand = (
        banded.alias("l")
        .join(banded.alias("r"), on=["band", "bkey"], how="inner")
        .where(F.col("l.__id") < F.col("r.__id"))
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .distinct()
    )
    in_cand = _prefilter_candidates(in_cand, sig, jaccard_threshold, num_hashes)
    pairs = verify_jaccard_pairs(in_cand, sh, jaccard_threshold)

    # --- cross pairs: probe the persisted index, partition-pruned ----------
    bands_path, docs_path = _bands_path(store_path), _docs_path(store_path)
    _recover_interrupted_compact(bands_path)
    _recover_interrupted_compact(docs_path)
    if os.path.exists(bands_path):
        touched = [
            r[0] for r in banded.select(band_bucket.alias("b")).distinct().collect()
        ]  # ≤ num_buckets small ints — driver-safe, same pattern as the merge store
        # (Considered and rejected, round 6: replacing this collect with a
        # broadcast join against the index to avoid the extra per-batch job.
        # Measured: Spark does NOT insert a dynamic-partition-pruning
        # subquery for this shape — the probe side carries no selective
        # filter, so the scan keeps only `isnotnull` partition filters and
        # reads EVERY bucket. The literal isin from a bounded collect is the
        # only form that reaches PartitionFilters here; the collect stays.)
        new_ids = banded.select("__id").distinct()
        old_bands = (
            spark.read.parquet(bands_path)
            .where(F.col(BUCKET_COL).isin(touched))  # partition-pruned probe
            .drop(BUCKET_COL)
            # A crash after the parquet append but before the marker write
            # replays the append, so the same (__id, band, bkey) row can
            # exist twice on disk; dedup on read keeps the emitted pairs
            # exactly-once. (Doc ids are assumed append-only — re-emitting
            # an id is an upstream contract violation, not latest-wins.)
            .dropDuplicates(["__id", "band", "bkey"])
            # Replay safety: a re-run batch already lives in the index;
            # excluding its ids keeps the recomputed pairs identical.
            .join(F.broadcast(new_ids), on="__id", how="left_anti")
        )
        cross_cand = scoped_persist(
            banded.alias("n")
            .join(old_bands.alias("o"), on=["band", "bkey"], how="inner")
            .select(F.col("o.__id").alias("id_a"), F.col("n.__id").alias("id_b"))
            .distinct()
        )
        step_caches.append(cross_cand)
        cand_buckets = [
            r[0]
            for r in cross_cand.select(
                F.pmod(F.xxhash64("id_a"), F.lit(num_buckets)).alias("b")
            )
            .distinct()
            .collect()
        ]
        if cand_buckets:
            old_docs = (
                spark.read.parquet(docs_path)
                .where(F.col(BUCKET_COL).isin(cand_buckets))  # pruned verify read
                .drop(BUCKET_COL)
                # Same partial-append dedup as the bands read; rows for one
                # id are byte-identical, so any survivor is correct.
                .dropDuplicates(["__id"])
            )
            old_sig = old_docs.select("__id", "__sig")
            # Signature prefilter across sources, then exact verify.
            se = (jaccard_threshold * (1.0 - jaccard_threshold) / num_hashes) ** 0.5
            cutoff = max(0.0, jaccard_threshold - 3.0 * se)
            from siddhi_io_cdc_spark.functions.dedup import _sig_agreement

            filtered = (
                cross_cand.join(
                    old_sig.select(F.col("__id").alias("id_a"), F.col("__sig").alias("sig_a")),
                    "id_a",
                )
                .join(
                    sig.select(F.col("__id").alias("id_b"), F.col("__sig").alias("sig_b")),
                    "id_b",
                )
                .where(_sig_agreement(F.col("sig_a"), F.col("sig_b"), num_hashes) >= cutoff)
                .select("id_a", "id_b")
            )
            cross = verify_jaccard_pairs(
                filtered, old_docs.select("__id", "__sh"), jaccard_threshold, sh_b=sh
            )
            pairs = pairs.unionByName(
                cross.select(
                    F.least("id_a", "id_b").alias("id_a"),
                    F.greatest("id_a", "id_b").alias("id_b"),
                    "jaccard",
                )
            )

    # Materialize BEFORE growing the index the plan reads from.
    result = pairs.localCheckpoint()

    # --- append the batch to the index (idempotent per batch_id) -----------
    marker = None if batch_id is None else _marker_path(store_path, batch_id)
    if marker is None or not os.path.exists(marker):
        banded.withColumn(BUCKET_COL, band_bucket).write.mode("append").partitionBy(
            BUCKET_COL
        ).parquet(bands_path)
        sh.join(sig, "__id").select("__id", "__sig", "__sh").withColumn(
            BUCKET_COL, id_bucket
        ).write.mode("append").partitionBy(BUCKET_COL).parquet(docs_path)
        if marker is not None:
            os.makedirs(os.path.dirname(marker), exist_ok=True)
            with open(marker, "w") as f:
                f.write("done")
    for df in step_caches:
        df.unpersist()
    return result


def incremental_embedding_pairs(
    spark,
    store_path: str,
    batch_df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nbits: int = 8,
    dim: int | None = None,
    seed: int = 42,
    num_buckets: int = 32,
    batch_id=None,
) -> DataFrame:
    """Embedding counterpart of :func:`incremental_minhash_pairs`: per
    micro-batch near-duplicate pairs by cosine ≥ ``threshold``, probed
    against a persistent sign-LSH index (``{store}/vecs``: rows
    ``(__id, __v, __lsh)`` partitioned by ``pmod(__lsh, num_buckets)``).

    Same guarantees as the batch operator
    (``functions/similarity.py:embedding_near_dup_pairs``, identical planes
    from the same (dim, nbits, seed)): candidates are bucket collisions
    only — never all-pairs — and the union over batches equals the batch
    pair set. Same replay story as the minhash index: probes exclude the
    current batch's ids, appends are marker-idempotent per ``batch_id``.
    ``dim`` is inferred from the first row when omitted; pass it explicitly
    on possibly-empty batches.
    """
    from siddhi_io_cdc_spark.functions.similarity import cosine, hyperplanes, lsh_bucket

    if dim is None:
        first = batch_df.select(vec_col).first()
        if first is None:
            return spark.createDataFrame(
                [], "id_a long, id_b long, cosine double"
            ).localCheckpoint()
        dim = len(first[0])
    planes = hyperplanes(dim, nbits, seed)
    part_col = F.pmod(F.col("__lsh"), F.lit(num_buckets))

    b = scoped_persist(
        batch_df.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
            lsh_bucket(F.col(vec_col), planes).alias("__lsh"),
        )
    )

    def _pairs(left, right):
        return (
            left.alias("l")
            .join(right.alias("r"), on="__lsh", how="inner")
            .where(F.col("l.__id") != F.col("r.__id"))
            .select(
                F.least(F.col("l.__id"), F.col("r.__id")).alias("id_a"),
                F.greatest(F.col("l.__id"), F.col("r.__id")).alias("id_b"),
                F.round(cosine(F.col("l.__v"), F.col("r.__v")), 6).alias("cosine"),
            )
            .where(F.col("cosine") >= threshold)
            .distinct()
        )

    pairs = _pairs(b, b)

    vecs_path = os.path.join(store_path, "vecs")
    _recover_interrupted_compact(vecs_path)
    if os.path.exists(vecs_path):
        touched = [r[0] for r in b.select(part_col.alias("p")).distinct().collect()]
        new_ids = b.select("__id").distinct()
        old = (
            spark.read.parquet(vecs_path)
            .where(F.col(BUCKET_COL).isin(touched))  # partition-pruned probe
            .drop(BUCKET_COL)
            # Partial-append dedup (append + marker are not atomic); rows
            # for one id are identical, any survivor is correct.
            .dropDuplicates(["__id"])
            .join(F.broadcast(new_ids), on="__id", how="left_anti")
        )
        pairs = pairs.unionByName(_pairs(b, old))

    result = pairs.localCheckpoint()

    marker = None if batch_id is None else _marker_path(store_path, f"emb-{batch_id}")
    if marker is None or not os.path.exists(marker):
        b.withColumn(BUCKET_COL, part_col).write.mode("append").partitionBy(
            BUCKET_COL
        ).parquet(vecs_path)
        if marker is not None:
            os.makedirs(os.path.dirname(marker), exist_ok=True)
            with open(marker, "w") as f:
                f.write("done")
    b.unpersist()
    return result


def compact_lsh_index(spark, store_path: str) -> None:
    """Rewrite the LSH index with one file per bucket.

    Append-per-batch accretes a file per micro-batch per touched bucket; at
    high trigger rates that is the classic streaming small-files problem
    (every probe pays per-file open/footer costs). Compaction hash-
    repartitions each store on the bucket column (each bucket lands in
    exactly one task → one file), drops any duplicate rows a crash-replayed
    append left behind (making the read-side dedup a no-op again), writes to
    a sibling staging directory, and swaps via renames. A crash between the
    two renames leaves the live dir missing — recovered on the next
    compaction OR probe by :func:`_recover_interrupted_compact` (the
    ``.old-*`` sibling is the complete pre-compaction index). Run it as
    a maintenance job between batches (the index is append-only, so any
    consistent snapshot compacts safely).
    """
    import shutil
    import uuid

    for sub in (
        _bands_path(store_path),
        _docs_path(store_path),
        os.path.join(store_path, "vecs"),
    ):
        _recover_interrupted_compact(sub)
        if not os.path.exists(sub):
            continue
        df = spark.read.parquet(sub)
        dedup_keys = (
            ["__id", "band", "bkey"] if sub == _bands_path(store_path) else ["__id"]
        )
        tmp = sub + ".tmp-" + uuid.uuid4().hex
        (
            df.dropDuplicates(dedup_keys)
            .repartition(F.col(BUCKET_COL))
            .write.partitionBy(BUCKET_COL)
            .parquet(tmp)
        )
        swap = sub + ".old-" + uuid.uuid4().hex
        os.rename(sub, swap)
        os.rename(tmp, sub)
        shutil.rmtree(swap, ignore_errors=True)


def foreach_batch_minhash_dedup(
    spark, store_path: str, pairs_path: str, **params
):
    """``writeStream.foreachBatch`` adapter: per micro-batch, emit new
    near-dup pairs to ``{pairs_path}/batch=<id>`` (overwrite → replay-
    idempotent) and fold the batch into the LSH index."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        pairs = incremental_minhash_pairs(
            spark, store_path, batch_df, batch_id=batch_id, **params
        )
        pairs.write.mode("overwrite").parquet(
            os.path.join(pairs_path, f"batch={batch_id}")
        )

    return _apply


def foreach_batch_embedding_dedup(
    spark, store_path: str, pairs_path: str, dim: int, **params
):
    """``writeStream.foreachBatch`` adapter for
    :func:`incremental_embedding_pairs`.

    ``dim`` is REQUIRED here: the direct function's ``dim=None`` inference
    runs a driver-side ``first()`` — one extra Spark job — which is fine for
    a one-off batch call but is a per-trigger tax (and fails on empty
    batches) inside a streaming loop.
    """
    if not isinstance(dim, int) or dim <= 0:
        raise ValueError(
            f"foreach_batch_embedding_dedup requires an explicit positive "
            f"dim (got {dim!r}); per-batch inference would run one driver "
            f"job per trigger"
        )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        pairs = incremental_embedding_pairs(
            spark, store_path, batch_df, dim=dim, batch_id=batch_id, **params
        )
        pairs.write.mode("overwrite").parquet(
            os.path.join(pairs_path, f"batch={batch_id}")
        )

    return _apply

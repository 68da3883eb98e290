"""Incremental IVF-index maintenance under CDC.

``functions/similarity.py:write_ivf_index`` materializes the 100 TB ANN
layout (vectors cell-PARTITIONED so probes are partition-pruned scans); this
module keeps that layout CURRENT under a CDC changelog without rebuilding
it — the operator a production RAG/ANN pipeline over CDC actually needs.
Composes the two existing patterns:

- the cell-partitioned layout + codebook of ``write_ivf_index`` (the probe
  contract: ``probe_ivf_index`` results must be identical to a fresh
  rebuild over the current table state — pinned by
  ``tests/test_ivf_maintenance.py``);
- the partition-pruned merge of ``operators/mutate.py:
  merge_into_bucketed_parquet`` (read only touched partitions, write them
  once, swap each in by rename via ``swap_partitions``), with one
  IVF-specific twist: the partition key is SEMANTIC — ``cell =
  ivf_assign(embedding)`` — so an update can MOVE a row between
  partitions. The touched set is therefore cells of the AFTER images plus
  cells of the BEFORE images (update/delete), which is why the changelog
  must carry ``before_<vec_col>`` for update/delete ops: without the old
  vector the row's current cell is unknowable and correctness would
  require an O(index) scan. The flatten operator's update projection
  (``operators/flatten.py``) provides exactly that column.

Cost per micro-batch: O(touched cells) read + rewrite, never O(index).
Replay-idempotent by construction (per-cell content is a pure function of
{old rows not in batch} ∪ {batch's latest upserts}; re-applying a batch —
even after a crash that committed only SOME touched cells — converges to
the same state), plus a per-``batch_id`` marker to skip clean re-runs.
All filesystem metadata ops go through the Hadoop FileSystem API, so the
index can live on s3a:// / hdfs:// as well as local paths.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from siddhi_io_cdc_spark.functions.similarity import (
    _hadoop_read_text,
    _hadoop_write_text,
    ivf_assign,
)
from siddhi_io_cdc_spark.operators.mutate import _fs, apply_changelog, swap_partitions

CELL_COL = "cell"


def _hadoop_exists(spark, path: str) -> bool:
    fs, hpath, _ = _fs(spark, path)
    return fs.exists(hpath)


def _hadoop_delete(spark, path: str) -> None:
    fs, hpath, _ = _fs(spark, path)
    fs.delete(hpath, True)


def _hadoop_list_dirs(spark, path: str) -> list[str]:
    fs, hpath, _ = _fs(spark, path)
    if not fs.exists(hpath):
        return []
    return [
        s.getPath().getName()
        for s in fs.listStatus(hpath)
        if s.isDirectory()
    ]


def _marker_path(index_path: str, batch_id) -> str:
    return index_path.rstrip("/") + f"/_batches/{batch_id}"


def load_codebook(spark, index_path: str):
    """The centroid matrix a :func:`...similarity.write_ivf_index` layout
    was built with (list of lists of float)."""
    return json.loads(
        _hadoop_read_text(spark, index_path.rstrip("/") + "/_ivf_centroids.json")
    )


def apply_changelog_ivf(
    spark,
    index_path: str,
    batch_df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seq_col: str = "ts_ms",
    op_col: str = "operation",
    batch_id=None,
    expect_epoch: int | None = None,
) -> int | None:
    """Apply one micro-batch of flattened CDC events to an IVF index.

    ``batch_df`` is multi-op flatten output: row image (including
    ``vec_col``) + ``op_col`` ('insert'/'update'/'delete'/'read') +
    ``seq_col``, with ``before_<vec_col>`` present on update/delete rows
    (required — see module docstring; 'read' snapshot rows upsert like
    inserts). Per key, only the latest event by ``seq_col`` decides the
    final state (``apply_changelog`` semantics). The index's codebook is
    NOT retrained — cells keep their meaning, which is what makes the
    touched-cell bound sound; retrain + ``write_ivf_index`` rebuild when
    drift warrants it.

    MOR layout: returns the claimed writer epoch (thread back as
    ``expect_epoch`` next batch to fence alternating writers); COW and
    marker-skipped replays return None.
    """
    if batch_id is not None and _hadoop_exists(spark, _marker_path(index_path, batch_id)):
        return None
    centroids = load_codebook(spark, index_path)
    # IVFADC layouts (write_ivfpq_index) carry a pq_code column; stamp the
    # batch's after images with their codes BEFORE the merge so upserted
    # rows stay ADC-scorable — a narrow O(batch) projection (surviving
    # target rows keep their stored codes; codes depend only on the vector
    # and the stored codebooks, which are not retrained here).
    pq_path = index_path.rstrip("/") + "/_pq_codebooks.json"
    if _hadoop_exists(spark, pq_path):
        from siddhi_io_cdc_spark.functions.similarity import pq_assign

        codebooks = json.loads(_hadoop_read_text(spark, pq_path))
        batch_df = batch_df.withColumn(
            "pq_code",
            F.when(
                F.col(op_col) != "delete", pq_assign(F.col(vec_col), codebooks)
            ),
        )
    if _hadoop_exists(spark, index_path.rstrip("/") + "/_mor.json"):
        return _apply_ivf_mor(
            spark, index_path.rstrip("/"), batch_df, centroids, vec_col,
            id_col, seq_col, op_col, batch_id, expect_epoch,
        )

    before_vec = f"before_{vec_col}"
    has_old_image = before_vec in batch_df.columns
    moving_ops = ("update", "delete")
    if not has_old_image:
        n_moving = (
            batch_df.where(F.col(op_col).isin(*moving_ops)).limit(1).count()
        )
        if n_moving:
            raise ValueError(
                f"batch contains {moving_ops} ops but no '{before_vec}' column: "
                "the old vector's cell is unknowable without the before image, "
                "and bounding the rewrite to touched cells requires it. Flatten "
                "the stream with the update projection (before_ prefix)."
            )

    # Touched cells: after-image cells (anything upserted) + before-image
    # cells (rows leaving a cell via update-move or delete).
    cells = (
        batch_df.where(F.col(op_col) != "delete")
        .select(ivf_assign(F.col(vec_col), centroids).alias("c"))
    )
    if has_old_image:
        movers = batch_df.where(F.col(op_col).isin(*moving_ops))
        # A NULL before image on a moving op is as fatal as a missing
        # before_<vec> column: the old cell is unknowable, the stale row
        # would silently survive in its old cell, and probe parity with a
        # fresh rebuild breaks. Bounded probe, same as the column check.
        if movers.where(F.col(before_vec).isNull()).limit(1).count():
            raise ValueError(
                f"batch contains {moving_ops} rows with a NULL "
                f"'{before_vec}' before image: the old vector's cell is "
                "unknowable, so the stale row would survive in its old "
                "cell. Emit whole before images (update projection with "
                "missing-image gating off) or pre-filter such rows."
            )
        cells = cells.unionByName(
            movers.select(ivf_assign(F.col(before_vec), centroids).alias("c"))
        )

    def merged_cells(target: DataFrame) -> DataFrame:
        merged = apply_changelog(
            target.drop(CELL_COL), batch_df, key=[id_col], seq_col=seq_col, op_col=op_col
        )
        return merged.withColumn(CELL_COL, ivf_assign(F.col(vec_col), centroids))

    swap_partitions(spark, index_path.rstrip("/"), CELL_COL, cells, merged_cells)
    if batch_id is not None:
        _hadoop_write_text(spark, _marker_path(index_path, batch_id), "done")


def _apply_ivf_mor(
    spark, base, batch_df, centroids, vec_col, id_col, seq_col, op_col,
    batch_id, expect_epoch=None,
) -> int:
    """Merge-on-read apply: append the batch's final vectors (cell-
    partitioned) plus id tombstones — O(batch) writes, no cell read, and
    NO before image needed (the tombstone shadows the old row in whatever
    cell it lives, which is exactly the information the COW path had to
    reconstruct from ``before_<vec>``)."""
    from siddhi_io_cdc_spark.operators.mutate import rekey_deletes
    from siddhi_io_cdc_spark.streaming.mor import (
        latest_per_key, maybe_autocompact, mor_append, mor_begin_apply,
        mor_live,
    )

    # Multi-op flatten fills a delete's missing after image with TYPE
    # DEFAULTS (vec_id would read 0, tombstoning the wrong vector) — the
    # cow path inherits this re-keying from apply_changelog; here it must
    # happen before the tombstone ids are taken.
    batch_df = rekey_deletes(batch_df, [id_col], op_col)
    latest = latest_per_key(batch_df, id_col, seq_col)
    batch_ids = latest.select(id_col).distinct()
    upserts = latest.where(F.col(op_col) != "delete").withColumn(
        CELL_COL, ivf_assign(F.col(vec_col), centroids)
    )
    # delta schema must match the base table exactly (schema-only peek)
    base_cols = mor_live(spark, base, "vectors").columns
    rows = upserts.select(*base_cols)
    seq, epoch = mor_begin_apply(spark, base, batch_id, expect_epoch=expect_epoch)
    mor_append(spark, base, "vectors", rows, batch_ids, seq, epoch=epoch)
    if batch_id is not None:
        _hadoop_write_text(spark, _marker_path(base, batch_id), "done")
    maybe_autocompact(spark, base, epoch=epoch)
    return epoch


def foreach_batch_ivf_index(
    spark,
    index_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seq_col: str = "ts_ms",
    op_col: str = "operation",
):
    """``foreachBatch`` adapter: stream flattened CDC events into a
    maintained IVF index. Usage::

        flat.writeStream.foreachBatch(
            foreach_batch_ivf_index(spark, "/path/to/index")
        ).option("checkpointLocation", ...).start()

    Exactly-once per ``batch_id`` via the marker file; crash-and-replay of
    a half-committed batch converges (see module docstring). MOR layout:
    remembers each batch's claimed epoch and passes it back, fencing a
    foreign writer that alternates between this maintainer's batches."""

    state = {"epoch": None}

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        e = apply_changelog_ivf(
            spark,
            index_path,
            batch_df,
            vec_col=vec_col,
            id_col=id_col,
            seq_col=seq_col,
            op_col=op_col,
            batch_id=batch_id,
            expect_epoch=state["epoch"],
        )
        # a marker-skipped replay returns None WITHOUT claiming an epoch;
        # keep the remembered token so the next live batch stays fenced
        # (r14 ADVICE: overwriting with None silently degraded the fence)
        state["epoch"] = e if e is not None else state["epoch"]

    return _apply


def chunk_embedding_changelog(
    batch_df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    dim: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_col: str = "ts_ms",
    op_col: str = "operation",
    id_stride: int = 10_000,
) -> DataFrame:
    """Turn a DOC-level CDC changelog into a CHUNK-EMBEDDING-level one.

    The RAG index is keyed by chunk (``cid = doc_id * id_stride +
    chunk_idx``), so one document event fans out into many chunk events,
    and the fan-out must cover REMOVALS: an update that shortens a document
    leaves stale high-index chunks behind unless every before-image chunk
    is explicitly deleted. Per document event:

    - op ≠ delete → the new text's chunks become ``insert`` events carrying
      the chunk embedding (:func:`...multimodal.extract_embedding` over the
      UTF-8 chunk payload — the model-swap seam);
    - op ∈ {update, delete} → the BEFORE text's chunks become ``delete``
      events whose ``before_embedding`` is the old chunk embedding (which
      is what lets :func:`apply_changelog_ivf` find the old cells without
      scanning the index).

    A cid appearing on both sides in one batch (chunk rewritten in place)
    resolves insert-wins via the sequence: deletes get ``2·seq``, inserts
    ``2·seq + 1`` — latest-per-key then keeps the insert. Requires
    ``before_<text_col>`` when the batch contains update/delete ops (same
    contract, one level up, as the index maintainer itself)."""
    from siddhi_io_cdc_spark.functions.export import chunk_documents_tokens
    from siddhi_io_cdc_spark.functions.multimodal import extract_embedding

    before_text = f"before_{text_col}"
    moving = batch_df.where(F.col(op_col).isin("update", "delete"))
    if before_text not in batch_df.columns:
        if moving.limit(1).count():
            raise ValueError(
                f"batch contains update/delete ops but no '{before_text}' "
                "column: the old chunks cannot be reconstructed, so stale "
                "chunk vectors would survive in the index."
            )

    def chunks_of(df, text, seq_expr, op):
        base = df.select(
            F.col(id_col), F.col(text).alias("text"), seq_expr.alias("__seq")
        )
        ch = chunk_documents_tokens(
            base, id_col=id_col, text_col="text",
            chunk_tokens=chunk_tokens, overlap=overlap,
        ).where(F.col("chunk_tokens") > 0)
        # cid = doc_id * id_stride + chunk_idx is only injective while
        # chunk_idx < id_stride; a >= 10k-chunk document (~480k tokens at
        # the 64/16 defaults) would silently collide cids across documents
        # and corrupt the index. Bounded probe over the batch's chunks.
        if ch.where(F.col("chunk_idx") >= id_stride).limit(1).count():
            raise ValueError(
                f"document in batch produces chunk_idx >= id_stride "
                f"({id_stride}): cid = doc_id * id_stride + chunk_idx "
                "would collide across documents. Raise id_stride (and "
                "rebuild the index) or split oversized documents upstream."
            )
        emb = extract_embedding(
            ch.select(
                (F.col(id_col) * id_stride + F.col("chunk_idx")).alias("cid"),
                F.encode(F.col("chunk_text"), "UTF-8").alias("payload"),
            ),
            id_col="cid",
            dim=dim,
        )
        # chunk_documents_tokens keeps only its own columns — recover the
        # doc's sequence number from cid // id_stride.
        doc_seq = base.select(F.col(id_col).alias("__did"), "__seq")
        return (
            emb.withColumn("__did", F.floor(F.col("id") / id_stride))
            .join(doc_seq, "__did")
            .select(
                F.col("id").alias("vec_id"),
                F.col("embedding"),
                F.lit(op).alias(op_col),
                F.col("__seq").cast("long").alias(seq_col),
            )
        )

    # chunk_documents_tokens carries extra columns through; re-derive from
    # minimal projections per side.
    new_side = chunks_of(
        batch_df.where(F.col(op_col) != "delete"),
        text_col,
        F.col(seq_col) * 2 + 1,
        "insert",
    ).withColumn("before_embedding", F.lit(None).cast("array<double>"))
    if before_text in batch_df.columns:
        old = chunks_of(moving, before_text, F.col(seq_col) * 2, "delete")
        old_side = old.select(
            "vec_id",
            F.col("embedding").alias("before_embedding"),
            op_col,
            seq_col,
        ).withColumn("embedding", F.lit(None).cast("array<double>"))
        return new_side.unionByName(old_side)
    return new_side


def foreach_batch_rag_ingest(
    spark,
    index_path: str,
    chunk_tokens: int = 64,
    overlap: int = 16,
    dim: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_col: str = "ts_ms",
    op_col: str = "operation",
):
    """``foreachBatch`` adapter for the full streaming RAG-ingest path:
    doc-level CDC events → :func:`chunk_embedding_changelog` → 
    :func:`apply_changelog_ivf` on the chunk-embedding IVF index. The index
    stays probe-identical to a fresh rebuild over the current document
    state (pinned by ``tests/test_ivf_maintenance.py``); per-batch cost is
    O(touched cells) plus the chunk/embed pass over the batch itself."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        ev = chunk_embedding_changelog(
            batch_df,
            chunk_tokens=chunk_tokens,
            overlap=overlap,
            dim=dim,
            id_col=id_col,
            text_col=text_col,
            seq_col=seq_col,
            op_col=op_col,
        )
        apply_changelog_ivf(
            spark,
            index_path,
            ev,
            vec_col="embedding",
            id_col="vec_id",
            seq_col=seq_col,
            op_col=op_col,
            batch_id=batch_id,
        )

    return _apply

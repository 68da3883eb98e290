"""Incremental IVF-index maintenance under CDC.

``functions/similarity.py:write_ivf_index`` materializes the 100 TB ANN
layout (vectors cell-PARTITIONED so probes are partition-pruned scans); this
module keeps that layout CURRENT under a CDC changelog without rebuilding
it — the operator a production RAG/ANN pipeline over CDC actually needs.

The index is a merge-on-read state (``streaming/mor.py``): a micro-batch
appends its latest upserts per key, assigned to their cells by the stored
codebook (``cell = ivf_assign(embedding)``), plus a tombstone for every
batch key. The tombstone shadows a key's old row in whatever cell it
lives, so an update that MOVES a vector between cells needs no before
image and no cell read. The probe contract: ``probe_ivf_index`` results
are identical to a fresh rebuild over the current table state (pinned by
``tests/test_ivf_maintenance.py``).

Cost per micro-batch: O(batch) writes, never O(index); compaction folds
the deltas every ``compact_every`` batches. Exactly-once per ``batch_id``:
a replayed batch reuses its recorded sequence (byte-idempotent
overwrite), and a per-``batch_id`` marker skips clean re-runs. All
filesystem metadata ops go through the Hadoop FileSystem API, so the
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
from siddhi_io_cdc_spark.operators.mutate import _fs, rekey_deletes

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
    ``seq_col``; 'read' snapshot rows upsert like inserts, and no before
    image is needed (see module docstring). Per key, only the latest event
    by ``seq_col`` decides the final state (``apply_changelog``
    semantics). The index's codebook is NOT retrained — cells keep their
    meaning; retrain + ``write_ivf_index`` rebuild when drift warrants it.

    Returns the claimed writer epoch (thread it back as ``expect_epoch``
    next batch to fence alternating writers); a marker-skipped replay
    returns None. An index written before the indexes were maintained
    merge-on-read (no ``_mor.json``) is refused: rebuild it with
    ``write_ivf_index``.
    """
    from siddhi_io_cdc_spark.streaming.mor import (
        latest_per_key, maybe_autocompact, mor_append, mor_begin_apply,
        mor_live, require_mor,
    )

    base = index_path.rstrip("/")
    require_mor(spark, base, "write_ivf_index / write_ivfpq_index")
    if batch_id is not None and _hadoop_exists(spark, _marker_path(base, batch_id)):
        return None
    centroids = load_codebook(spark, base)
    # IVFADC layouts (write_ivfpq_index) carry a pq_code column; stamp the
    # batch's after images with their codes so upserted rows stay
    # ADC-scorable — a narrow O(batch) projection (codes depend only on
    # the vector and the stored codebooks, which are not retrained here).
    pq_path = base + "/_pq_codebooks.json"
    if _hadoop_exists(spark, pq_path):
        from siddhi_io_cdc_spark.functions.similarity import pq_assign

        codebooks = json.loads(_hadoop_read_text(spark, pq_path))
        batch_df = batch_df.withColumn(
            "pq_code",
            F.when(
                F.col(op_col) != "delete", pq_assign(F.col(vec_col), codebooks)
            ),
        )
    # Multi-op flatten fills a delete's missing after image with TYPE
    # DEFAULTS (vec_id would read 0, tombstoning the wrong vector) — re-key
    # deletes from the before image before the tombstone ids are taken.
    batch_df = rekey_deletes(batch_df, [id_col], op_col)
    latest = latest_per_key(batch_df, id_col, seq_col)
    batch_ids = latest.select(id_col).distinct()
    upserts = latest.where(F.col(op_col) != "delete").withColumn(
        CELL_COL, ivf_assign(F.col(vec_col), centroids)
    )
    # delta schema must match the base table exactly (schema-only peek)
    rows = upserts.select(*mor_live(spark, base, "vectors").columns)
    seq, epoch = mor_begin_apply(spark, base, batch_id, expect_epoch=expect_epoch)
    mor_append(spark, base, "vectors", rows, batch_ids, seq, epoch=epoch)
    if batch_id is not None:
        _hadoop_write_text(spark, _marker_path(base, batch_id), "done")
    maybe_autocompact(spark, base, epoch=epoch)
    return epoch


def _fenced_adapter(apply_one):
    """A ``foreachBatch`` function around ``apply_one(batch_df, batch_id,
    expect_epoch)``: it remembers the epoch each batch claimed and passes
    it back, so a foreign writer that claimed the state BETWEEN this
    maintainer's batches fails the next batch loudly."""

    state = {"epoch": None}

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        e = apply_one(batch_df, batch_id, state["epoch"])
        # a marker-skipped replay returns None WITHOUT claiming an epoch;
        # keep the remembered token so the next live batch stays fenced
        # (r14 ADVICE: overwriting with None silently degraded the fence)
        state["epoch"] = e if e is not None else state["epoch"]

    return _apply


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

    Exactly-once per ``batch_id`` (recorded sequence + marker file);
    alternating writers are fenced by the threaded epoch."""
    return _fenced_adapter(
        lambda batch_df, batch_id, epoch: apply_changelog_ivf(
            spark,
            index_path,
            batch_df,
            vec_col=vec_col,
            id_col=id_col,
            seq_col=seq_col,
            op_col=op_col,
            batch_id=batch_id,
            expect_epoch=epoch,
        )
    )


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
    - op ∈ {update, delete} → the BEFORE text's chunk ids become ``delete``
      events (no embedding: :func:`apply_changelog_ivf` tombstones by id).

    A cid appearing on both sides in one batch (chunk rewritten in place)
    resolves insert-wins via the sequence: deletes get ``2·seq``, inserts
    ``2·seq + 1`` — latest-per-key then keeps the insert. Requires
    ``before_<text_col>`` when the batch contains update/delete ops: the
    old chunk ids come from the old text."""
    from siddhi_io_cdc_spark.functions.export import chunk_documents_tokens
    from siddhi_io_cdc_spark.functions.multimodal import extract_embedding
    from siddhi_io_cdc_spark.streaming.mor import latest_per_key

    before_text = f"before_{text_col}"
    moving = batch_df.where(F.col(op_col).isin("update", "delete"))
    if before_text not in batch_df.columns:
        if moving.limit(1).count():
            raise ValueError(
                f"batch contains update/delete ops but no '{before_text}' "
                "column: the old chunks cannot be reconstructed, so stale "
                "chunk vectors would survive in the index."
            )

    def chunks_of(df, text, seq_expr):
        """``(vec_id, chunk_text, seq)`` of every non-empty chunk; the
        chunker keeps only its id column, so the event's sequence rides in
        it beside the doc id."""
        key = F.struct(F.col(id_col).alias("d"), seq_expr.cast("long").alias("s"))
        ch = chunk_documents_tokens(
            df.select(key.alias("__key"), F.col(text).alias("text")),
            id_col="__key", text_col="text",
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
        return ch.select(
            (F.col("__key.d") * id_stride + F.col("chunk_idx")).alias("vec_id"),
            "chunk_text",
            F.col("__key.s").alias(seq_col),
        )

    # only the latest new chunk per cid can win, so only it is embedded
    new = latest_per_key(
        chunks_of(batch_df.where(F.col(op_col) != "delete"), text_col,
                  F.col(seq_col) * 2 + 1),
        "vec_id", seq_col,
    )
    emb = extract_embedding(
        new.select("vec_id", F.encode(F.col("chunk_text"), "UTF-8").alias("payload")),
        id_col="vec_id",
        dim=dim,
    )
    new_side = (
        emb.join(new.select("vec_id", seq_col), F.col("id") == F.col("vec_id"))
        .select("vec_id", "embedding", F.lit("insert").alias(op_col), seq_col)
    )
    if before_text not in batch_df.columns:
        return new_side
    old_side = chunks_of(moving, before_text, F.col(seq_col) * 2).select(
        "vec_id",
        F.lit(None).cast("array<double>").alias("embedding"),
        F.lit("delete").alias(op_col),
        seq_col,
    )
    return new_side.unionByName(old_side)


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
    O(batch) plus the chunk/embed pass over the batch's new text. Fenced
    against alternating writers like :func:`foreach_batch_ivf_index`."""
    apply_chunks = foreach_batch_ivf_index(
        spark, index_path, vec_col="embedding", id_col="vec_id",
        seq_col=seq_col, op_col=op_col,
    )

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
        apply_chunks(ev, batch_id)

    return _apply

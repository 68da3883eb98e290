"""Incremental IVF index maintenance under CDC (streaming/ivf_index.py):
batch-vs-rebuild parity, replay idempotence, half-committed-crash
convergence, live-stream adapter."""

import os

import pytest
from pyspark.sql import functions as F

from siddhi_io_cdc_spark.functions.similarity import (
    ivf_centroids,
    probe_ivf_index,
    write_ivf_index,
)
from siddhi_io_cdc_spark.streaming.ivf_index import (
    apply_changelog_ivf,
    foreach_batch_ivf_index,
    load_codebook,
)
from siddhi_io_cdc_spark.streaming.mor import mor_live

DIM, NLIST = 8, 8


def _vecs(spark, lo, hi, gen=0):
    """Deterministic embeddings; gen shifts values so updates MOVE cells."""
    return spark.range(lo, hi).selectExpr(
        "id AS vec_id",
        f"transform(sequence(1, {DIM}), j -> "
        f"CAST((hash(id, j, {gen}) % 1000) / 250.0 AS FLOAT)) AS embedding",
    )


def _live(spark, path):
    return mor_live(spark, path, "vectors")


def _state(spark, path):
    return {
        (r.vec_id, tuple(round(float(x), 5) for x in r.embedding))
        for r in _live(spark, path).drop("cell").collect()
    }


def _changelog(upserts, deletes=None, op="insert", old=None, ts=1):
    """Flattened multi-op events, shaped as flatten emits them: upserts
    with op and the before image from `old`, optional deletes carrying
    theirs."""
    ev = upserts.select(
        "vec_id", "embedding",
        F.lit(op).alias("operation"), F.lit(ts).cast("long").alias("ts_ms"),
    )
    if old is not None:
        before = old.select(
            F.col("vec_id").alias("__bid"), F.col("embedding").alias("before_embedding")
        )
        ev = ev.join(before, ev.vec_id == F.col("__bid"), "left").drop("__bid")
    else:
        ev = ev.withColumn("before_embedding", F.lit(None).cast("array<float>"))
    if deletes is not None:
        # delete rows: after image defaulted (E5), key + before image real
        dl = deletes.select(
            "vec_id",
            F.expr(f"array_repeat(CAST(0.0 AS FLOAT), {DIM})").alias("embedding"),
            F.lit("delete").alias("operation"), F.lit(ts).cast("long").alias("ts_ms"),
            F.col("embedding").alias("before_embedding"),
        )
        ev = ev.unionByName(dl)
    return ev


def test_ivf_maintenance_matches_rebuild(spark, tmp_path):
    """insert + cell-moving update + delete across 3 batches; final index
    content AND probe results equal a fresh write_ivf_index over the final
    table state with the same codebook."""
    path = str(tmp_path / "ivf")
    base = _vecs(spark, 0, 200)
    cents = write_ivf_index(base, path, nlist=NLIST)

    # batch 1: 50 inserts
    ins = _vecs(spark, 200, 250)
    apply_changelog_ivf(spark, path, _changelog(ins, ts=1), batch_id=1)
    # batch 2: 30 updates with regenerated vectors (different cells)
    upd = _vecs(spark, 10, 40, gen=7)
    apply_changelog_ivf(
        spark, path, _changelog(upd, op="update", old=_vecs(spark, 10, 40), ts=2),
        batch_id=2,
    )
    # batch 3: 20 deletes
    dels = _vecs(spark, 100, 120)
    apply_changelog_ivf(
        spark, path, _changelog(_vecs(spark, 0, 0), deletes=dels, ts=3), batch_id=3
    )

    final = (
        _vecs(spark, 0, 10)
        .unionByName(_vecs(spark, 10, 40, gen=7))
        .unionByName(_vecs(spark, 40, 100))
        .unionByName(_vecs(spark, 120, 250))
    )
    rebuilt = str(tmp_path / "rebuilt")
    write_ivf_index(final, rebuilt, nlist=NLIST, centroids=cents)
    assert _state(spark, path) == _state(spark, rebuilt)
    assert load_codebook(spark, path) == [[float(x) for x in c] for c in cents]

    q = final.where("vec_id = 37").first().embedding
    got = sorted(map(tuple, probe_ivf_index(spark, path, q, k=10, nprobe=3).collect()))
    want = sorted(map(tuple, probe_ivf_index(spark, rebuilt, q, k=10, nprobe=3).collect()))
    assert got == want and len(got) == 10


def test_ivf_maintenance_replay_idempotent_and_marker(spark, tmp_path):
    path = str(tmp_path / "ivf")
    write_ivf_index(_vecs(spark, 0, 100), path, nlist=NLIST)
    batch = _changelog(
        _vecs(spark, 100, 120), op="insert",
        deletes=_vecs(spark, 0, 10), ts=5,
    )
    apply_changelog_ivf(spark, path, batch, batch_id=42)
    snap = _state(spark, path)
    assert len(snap) == 110
    # marker skip: nothing re-applied
    apply_changelog_ivf(spark, path, batch, batch_id=42)
    assert _state(spark, path) == snap
    # forced full replay (no marker): converges to the same state
    apply_changelog_ivf(spark, path, batch, batch_id=None)
    assert _state(spark, path) == snap


def test_ivf_maintenance_crash_half_committed_converges(spark, tmp_path):
    """Simulate a crash where the apply committed its delta but not its
    tombstones or marker: the old images of the deleted keys are live
    again. Replaying the batch id reuses its recorded sequence and
    converges to the fully-applied state."""
    import shutil

    path = str(tmp_path / "ivf")
    write_ivf_index(_vecs(spark, 0, 150), path, nlist=NLIST)
    batch = _changelog(
        _vecs(spark, 150, 180), op="insert",
        deletes=_vecs(spark, 20, 40), ts=9,
    )
    apply_changelog_ivf(spark, path, batch, batch_id=77)
    want = _state(spark, path)

    # "crash": the tombstone write and the marker never landed
    shutil.rmtree(os.path.join(path, "_tomb"))
    os.remove(os.path.join(path, "_batches", "77"))
    assert _state(spark, path) != want  # genuinely half-applied

    apply_changelog_ivf(spark, path, batch, batch_id=77)  # replay
    assert _state(spark, path) == want


def test_foreach_batch_ivf_index_stream(spark, tmp_path):
    """Live stream: flattened events through foreachBatch keep the index
    equal to a rebuild; restart from checkpoint does not double-apply."""
    path = str(tmp_path / "ivf")
    write_ivf_index(_vecs(spark, 0, 80), path, nlist=NLIST)

    src = str(tmp_path / "events")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    schema = (
        "vec_id long, embedding array<float>, operation string, "
        "ts_ms long, before_embedding array<float>"
    )
    _changelog(_vecs(spark, 80, 100), ts=1).write.mode("append").parquet(src)

    def run_stream():
        q = (
            spark.readStream.schema(schema).parquet(src)
            .writeStream.foreachBatch(foreach_batch_ivf_index(spark, path))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_stream()
    assert len(_state(spark, path)) == 100

    _changelog(
        _vecs(spark, 30, 50, gen=3), op="update", old=_vecs(spark, 30, 50), ts=2
    ).write.mode("append").parquet(src)
    run_stream()

    final = (
        _vecs(spark, 0, 30)
        .unionByName(_vecs(spark, 30, 50, gen=3))
        .unionByName(_vecs(spark, 50, 100))
    )
    rebuilt = str(tmp_path / "rebuilt")
    write_ivf_index(final, rebuilt, nlist=NLIST, centroids=load_codebook(spark, path))
    assert _state(spark, path) == _state(spark, rebuilt)

    # restart with no new data: checkpoint + marker keep it a no-op
    snap = _state(spark, path)
    run_stream()
    assert _state(spark, path) == snap


def _doc(i, n_tokens):
    return (i, " ".join(f"w{(i * 7 + j * 3) % 13}x{j % 5}" for j in range(n_tokens)))


def _chunk_embed(docs):
    """Reference chunk-embedding table for a document state (the rebuild
    side of the parity check)."""
    from siddhi_io_cdc_spark.functions.export import chunk_documents_tokens
    from siddhi_io_cdc_spark.functions.multimodal import extract_embedding

    ch = chunk_documents_tokens(docs, chunk_tokens=64, overlap=16).where(
        F.col("chunk_tokens") > 0
    )
    return extract_embedding(
        ch.select(
            (F.col("doc_id") * 10_000 + F.col("chunk_idx")).alias("cid"),
            F.encode(F.col("chunk_text"), "UTF-8").alias("payload"),
        ),
        id_col="cid",
        dim=16,
    ).select(F.col("id").alias("vec_id"), "embedding")


def test_rag_ingest_changelog_matches_rebuild(spark, tmp_path):
    """Doc-level CDC -> chunk-level changelog -> maintained IVF index ==
    fresh rebuild over the final document state. Covers the stale-chunk
    hazard: updates SHORTEN documents (fewer chunks), so before-image
    chunks must be deleted, not just overwritten."""
    from siddhi_io_cdc_spark.functions.similarity import write_ivf_index
    from siddhi_io_cdc_spark.streaming.ivf_index import foreach_batch_rag_ingest

    v0 = spark.createDataFrame(
        [_doc(i, 80 + (i % 3) * 60) for i in range(30)], "doc_id long, text string"
    )
    path = str(tmp_path / "rag_ivf")
    cents = write_ivf_index(_chunk_embed(v0), path, nlist=8)

    # one batch: 5 inserts, 5 shortening updates, 5 deletes
    inserts = spark.createDataFrame(
        [_doc(i, 100) for i in range(30, 35)], "doc_id long, text string"
    ).select("doc_id", "text", F.lit("insert").alias("operation"),
             F.lit(10).cast("long").alias("ts_ms"),
             F.lit(None).cast("string").alias("before_text"))
    upd_new = spark.createDataFrame(
        [_doc(i, 40) for i in range(5, 10)], "doc_id long, text string"
    )
    old_texts = v0.where("doc_id >= 5 AND doc_id < 10").select(
        F.col("doc_id").alias("__d"), F.col("text").alias("before_text")
    )
    updates = upd_new.join(old_texts, upd_new.doc_id == F.col("__d")).select(
        "doc_id", "text", F.lit("update").alias("operation"),
        F.lit(11).cast("long").alias("ts_ms"), "before_text",
    )
    deletes = v0.where("doc_id >= 20 AND doc_id < 25").select(
        "doc_id", F.lit("").alias("text"), F.lit("delete").alias("operation"),
        F.lit(12).cast("long").alias("ts_ms"), F.col("text").alias("before_text"),
    )
    batch = inserts.unionByName(updates).unionByName(deletes)
    foreach_batch_rag_ingest(spark, path)(batch, 1)

    final = (
        v0.where("doc_id < 5 OR (doc_id >= 10 AND doc_id < 20) OR doc_id >= 25")
        .unionByName(upd_new)
        .unionByName(spark.createDataFrame(
            [_doc(i, 100) for i in range(30, 35)], "doc_id long, text string"))
    )
    rebuilt = str(tmp_path / "rag_rebuilt")
    write_ivf_index(_chunk_embed(final), rebuilt, nlist=8, centroids=cents)
    assert _state(spark, path) == _state(spark, rebuilt)
    # the shortened docs really did shrink (stale-chunk deletion exercised)
    per_doc = {
        r.d: r.n
        for r in _live(spark, path)
        .groupBy(F.floor(F.col("vec_id") / 10_000).alias("d"))
        .agg(F.count("*").alias("n")).collect()
    }
    # each fixture "word" is 4 TOKEN_RE tokens (w / digits / x / digits):
    # 40 words = 160 tokens -> ceil((160-16)/48) = 3 chunks, down from
    # >= 5 chunks at 80+ words — stale high-index chunks were deleted.
    assert all(per_doc[d] == 3 for d in range(5, 10))
    assert all(d not in per_doc for d in range(20, 25))


def test_rag_ingest_requires_before_text(spark, tmp_path):
    from siddhi_io_cdc_spark.functions.similarity import write_ivf_index
    from siddhi_io_cdc_spark.streaming.ivf_index import chunk_embedding_changelog

    v0 = spark.createDataFrame([_doc(0, 60)], "doc_id long, text string")
    bad = v0.select("doc_id", "text", F.lit("update").alias("operation"),
                    F.lit(1).cast("long").alias("ts_ms"))
    with pytest.raises(ValueError, match="before_text"):
        chunk_embedding_changelog(bad)


def test_rag_chunk_id_stride_overflow_raises(spark, tmp_path):
    """cid = doc_id * id_stride + chunk_idx is injective only while
    chunk_idx < id_stride; an oversized document must raise instead of
    silently colliding cids across documents."""
    from siddhi_io_cdc_spark.streaming.ivf_index import chunk_embedding_changelog

    big = spark.createDataFrame(
        # 64-token chunks, stride 48: > 3*48+64 tokens => chunk_idx >= 4
        [_doc(0, 300)], "doc_id long, text string"
    ).select(
        "doc_id", "text",
        F.lit("insert").alias("operation"), F.lit(1).cast("long").alias("ts_ms"),
    )
    with pytest.raises(ValueError, match="id_stride"):
        chunk_embedding_changelog(big, id_stride=4)
    # generous stride: same input passes
    assert chunk_embedding_changelog(big, id_stride=10_000).count() > 0


def test_cdc_source_to_ivf_index_end_to_end(spark, tmp_path):
    """VERDICT r6 #7: the COMPOSED path — cdc_read_stream (listening mode,
    JSON-lines changelog) -> flatten (applied by the facade) ->
    foreach_batch_ivf_index — with a mid-stream restart from checkpoint.
    Probe results must equal a fresh write_ivf_index over the final state."""
    import json

    from pyspark.sql import types as T

    from siddhi_io_cdc_spark.api import cdc_read_stream

    row_schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])

    def emb(i, gen=0):
        return [((i * 31 + j * 17 + gen * 7) % 1000) / 250.0 for j in range(DIM)]

    def ev(op, i, ts, gen=0, old_gen=0):
        return {
            "op": op,
            "before": None if op == "c" else {"vec_id": i, "embedding": emb(i, old_gen)},
            "after": None if op == "d" else {"vec_id": i, "embedding": emb(i, gen)},
            "source": {"ts_ms": ts},
            "ts_ms": ts,
        }

    log = str(tmp_path / "log")
    os.makedirs(log)
    path = str(tmp_path / "ivf")
    ckpt = str(tmp_path / "ckpt")

    def vecs_df(items):
        return spark.createDataFrame(
            [(i, emb(i, g)) for i, g in items],
            "vec_id long, embedding array<float>",
        )

    cents = write_ivf_index(vecs_df([(i, 0) for i in range(40)]), path, nlist=NLIST)

    def write_chunk(n, events):
        with open(os.path.join(log, f"chunk{n}.json"), "w") as f:
            for e in events:
                f.write(json.dumps(e) + "\n")

    def run_stream():
        flat = cdc_read_stream(
            spark,
            {"mode": "listening", "path": log,
             "operation": "insert,update,delete"},
            row_schema=row_schema,
        )
        q = (
            flat.writeStream
            .foreachBatch(foreach_batch_ivf_index(spark, path))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # chunk 1: 10 inserts -> first run
    write_chunk(1, [ev("c", i, ts=i) for i in range(40, 50)])
    run_stream()
    assert len(_state(spark, path)) == 50

    # stream down; cell-moving updates + deletes arrive "offline"; restart
    write_chunk(2, [ev("u", i, ts=100 + i, gen=5) for i in range(5, 15)]
                   + [ev("d", i, ts=200 + i) for i in range(30, 35)])
    run_stream()

    final = vecs_df(
        [(i, 0) for i in range(5)] + [(i, 5) for i in range(5, 15)]
        + [(i, 0) for i in range(15, 30)] + [(i, 0) for i in range(35, 50)]
    )
    rebuilt = str(tmp_path / "rebuilt")
    write_ivf_index(final, rebuilt, nlist=NLIST, centroids=cents)
    assert _state(spark, path) == _state(spark, rebuilt)
    q = emb(7, 5)
    got = sorted(map(tuple, probe_ivf_index(spark, path, q, k=8, nprobe=3).collect()))
    want = sorted(map(tuple, probe_ivf_index(spark, rebuilt, q, k=8, nprobe=3).collect()))
    assert got == want and len(got) == 8

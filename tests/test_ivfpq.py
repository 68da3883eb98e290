"""IVFADC materialized layout: probe parity with a numpy two-stage
reference, partition pruning, and codebook round-trip."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from siddhi_io_cdc_spark.functions.similarity import (
    ivf_assign,
    pq_codebooks,
    probe_ivfpq_index,
    write_ivfpq_index,
)
from siddhi_io_cdc_spark.streaming.mor import mor_live


@pytest.fixture(scope="module")
def index(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivfpq") / "index")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids, codebooks = write_ivfpq_index(
        emb, path, nlist=8, pq_m=8, pq_k=16
    )
    return path, centroids, codebooks, emb


def _numpy_probe(emb_rows, centroids, codebooks, q, nprobe, rerank, k):
    qv = np.asarray(q, dtype=np.float64)
    probes = set(np.argsort(-(centroids @ qv), kind="stable")[:nprobe].tolist())
    m, _kc, d = codebooks.shape
    lut = np.stack(
        [((codebooks[j] - qv[j * d : (j + 1) * d]) ** 2).sum(1) for j in range(m)]
    )
    cands = []
    for vid, vec in emb_rows:
        v = np.asarray(vec, dtype=np.float64)
        cell = int(np.argmax(centroids @ v))
        if cell not in probes:
            continue
        codes = [
            int(np.argmin(((codebooks[j] - v[j * d : (j + 1) * d]) ** 2).sum(1)))
            for j in range(m)
        ]
        adc = round(float(sum(lut[j][codes[j]] for j in range(m))), 6)
        cands.append((vid, v, adc))
    short = sorted(cands, key=lambda t: (t[2], t[0]))[:rerank]
    exact = sorted(
        ((vid, round(float(((v - qv) ** 2).sum()), 6)) for vid, v, _ in short),
        key=lambda t: (t[1], t[0]),
    )[:k]
    return [vid for vid, _ in exact]


def test_probe_matches_numpy_two_stage(spark, index):
    path, centroids, codebooks, emb = index
    rows = [(r.vec_id, r.embedding) for r in emb.collect()]
    for qid in (0, 17, 101):
        q = dict(rows)[qid]
        got = [
            r.vec_id
            for r in probe_ivfpq_index(
                spark, path, q, k=10, nprobe=3, rerank=60
            ).collect()
        ]
        assert got == _numpy_probe(rows, centroids, codebooks, q, 3, 60, 10)


def test_probe_scan_is_partition_pruned(spark, index):
    path, _centroids, _codebooks, emb = index
    q = emb.first().embedding
    df = probe_ivfpq_index(spark, path, q, k=5, nprobe=2, rerank=20)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "cell" in plan.split("PartitionFilters")[1][:200]


def test_codebooks_round_trip(spark, index):
    path, centroids, codebooks, _emb = index
    from siddhi_io_cdc_spark.functions.similarity import _hadoop_read_text

    stored = np.array(
        json.loads(_hadoop_read_text(spark, path + "/_pq_codebooks.json"))
    )
    assert stored.shape == codebooks.shape
    assert np.array_equal(stored, codebooks)


def test_stored_cells_match_ivf_assign(spark, index):
    path, centroids, _codebooks, emb = index
    stored = mor_live(spark, path, "vectors").select("vec_id", "cell")
    recomputed = emb.select(
        "vec_id", ivf_assign(F.col("embedding"), centroids).alias("cell2")
    )
    bad = stored.join(recomputed, "vec_id").where(F.col("cell") != F.col("cell2"))
    assert bad.count() == 0


def test_changelog_maintains_pq_codes(spark, tmp_path):
    """apply_changelog_ivf on an IVFADC layout: upserts get fresh codes,
    survivors keep theirs, probe parity with a fresh rebuild holds."""
    from siddhi_io_cdc_spark.functions.similarity import pq_assign
    from siddhi_io_cdc_spark.streaming.ivf_index import apply_changelog_ivf

    DIM = 8

    def vecs(lo, hi, gen=0):
        return spark.range(lo, hi).selectExpr(
            "id AS vec_id",
            f"transform(sequence(1, {DIM}), j -> "
            f"CAST((hash(id, j, {gen}) % 1000) / 250.0 AS FLOAT)) AS embedding",
        )

    path = str(tmp_path / "idx")
    base = vecs(0, 40)
    centroids, codebooks = write_ivfpq_index(
        base, path, nlist=4, pq_m=4, pq_k=8
    )

    # changelog: update 0-9 (moved vectors), insert 40-44, delete 30-34
    upd = vecs(0, 10, gen=1)
    ins = vecs(40, 45)
    old = base
    ev_u = upd.join(
        old.select(F.col("vec_id").alias("__b"), F.col("embedding").alias("before_embedding")),
        upd.vec_id == F.col("__b"), "left",
    ).drop("__b").select(
        "vec_id", "embedding", F.lit("update").alias("operation"),
        F.lit(2).cast("long").alias("ts_ms"), "before_embedding",
    )
    ev_i = ins.select(
        "vec_id", "embedding", F.lit("insert").alias("operation"),
        F.lit(2).cast("long").alias("ts_ms"),
        F.lit(None).cast(f"array<float>").alias("before_embedding"),
    )
    ev_d = old.where((F.col("vec_id") >= 30) & (F.col("vec_id") < 35)).select(
        "vec_id",
        F.expr(f"array_repeat(CAST(0.0 AS FLOAT), {DIM})").alias("embedding"),
        F.lit("delete").alias("operation"), F.lit(2).cast("long").alias("ts_ms"),
        F.col("embedding").alias("before_embedding"),
    )
    batch = ev_u.unionByName(ev_i).unionByName(ev_d)
    apply_changelog_ivf(spark, path, batch, batch_id=1)

    stored = mor_live(spark, path, "vectors")
    assert stored.where(F.col("pq_code").isNull()).count() == 0
    bad = stored.where(
        F.col("pq_code") != pq_assign(F.col("embedding"), codebooks)
    ).count()
    assert bad == 0

    # final logical state = base minus deletes, with updates/inserts applied
    final = (
        vecs(0, 10, gen=1)
        .unionByName(vecs(10, 30))
        .unionByName(vecs(35, 45))
    )
    fresh = str(tmp_path / "fresh")
    write_ivfpq_index(
        final, fresh, nlist=4, pq_m=4, pq_k=8,
        centroids=centroids, codebooks=codebooks,
    )
    q = final.where(F.col("vec_id") == 42).first().embedding
    a = probe_ivfpq_index(spark, path, q, k=5, nprobe=4, rerank=50).collect()
    b = probe_ivfpq_index(spark, fresh, q, k=5, nprobe=4, rerank=50).collect()
    assert a == b

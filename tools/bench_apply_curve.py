"""O(batch) evidence for the maintained appliers: apply a CONSTANT-size
changelog batch to each maintained index (Kneser-Ney n-gram LM, BM25
inverted index, IVF ANN index) at increasing corpus scale and record the
per-batch apply wall-time.

The appliers claim O(batch) per micro-batch (merge-on-read deltas and
tombstones). A flat curve across sf0.1 -> sf1 -> sf2 proves the bound; a
linear curve falsifies it. The copy-on-write appliers this replaced
touched all 64 buckets per ~100-doc batch and grew with the corpus
(committed as BENCH_apply_curve_cow_clean_r12.json).

Batch shape (constant across scale points): 40 inserts (new ids past the
corpus max) + 40 updates + 20 deletes, texts/vectors drawn from the
TARGET corpus's lowest ids so update/delete before-images are the true
stored images. Text lengths are scale-invariant by construction of
tools/make_scale.py (vowel substitution preserves lengths), so the batch
workload is identical at every point.

Usage:
    python tools/bench_apply_curve.py --sf /root/testdata/sf0.1 \
        [--appliers ngram,bm25,ivf] [--batches 3] [--compact-end]
Prints one JSON line per applier.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

N_INS, N_UPD, N_DEL = 40, 40, 20
BATCH_DOCS = N_INS + N_UPD + N_DEL


def _doc_batch(spark, sf_dir: str, b: int):
    """Constant-size flattened-changelog batch over the documents table.

    Batch ``b`` updates/deletes ids [60*b, 60*(b+1)) of the corpus id order
    and inserts 40 fresh ids past max+40*b, so successive batches touch
    disjoint keys and never depend on a prior batch's effect.
    """
    from pyspark.sql import Row

    docs = spark.read.parquet(sf_dir.rstrip("/") + "/documents.parquet")
    lo = docs.orderBy("doc_id").limit((b + 1) * (N_UPD + N_DEL)).collect()
    lo = lo[b * (N_UPD + N_DEL):]
    mx = docs.agg({"doc_id": "max"}).first()[0]
    rows = []
    ts = 1000 * (b + 1)
    for i, r in enumerate(lo[:N_UPD]):
        # vowel->'z' rewrite: every vowel-bearing gram moves bucket
        rows.append(Row(doc_id=r.doc_id,
                        text=r.text.translate(str.maketrans("aeiou", "zzzzz")),
                        before_text=r.text, operation="update", ts_ms=ts + i))
    for i, r in enumerate(lo[N_UPD:]):
        rows.append(Row(doc_id=r.doc_id, text=None, before_text=r.text,
                        operation="delete", ts_ms=ts + N_UPD + i))
    for i, r in enumerate(lo[:N_INS]):
        rows.append(Row(doc_id=int(mx) + 1 + N_INS * b + i,
                        text=r.text[::-1], before_text=None,
                        operation="insert", ts_ms=ts + N_UPD + N_DEL + i))
    return spark.createDataFrame(
        rows,
        "doc_id LONG, text STRING, before_text STRING, operation STRING, ts_ms LONG",
    )


def _vec_batch(spark, sf_dir: str, b: int):
    from pyspark.sql import functions as F

    emb = spark.read.parquet(sf_dir.rstrip("/") + "/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n_mut = N_UPD + N_DEL
    win = (
        emb.orderBy("vec_id").limit((b + 1) * n_mut).orderBy(F.desc("vec_id"))
        .limit(n_mut).orderBy("vec_id")
    )
    mx = emb.agg({"vec_id": "max"}).first()[0]
    ts = 1000 * (b + 1)
    upd = (
        win.limit(N_UPD)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: -x).alias("embedding"),
            F.col("embedding").alias("before_embedding"),
            F.lit("update").alias("operation"),
            (F.lit(ts) + F.col("vec_id") % 100).alias("ts_ms"),
        )
    )
    dele = (
        win.orderBy(F.desc("vec_id")).limit(N_DEL)
        .select(
            "vec_id",
            F.expr("CAST(NULL AS ARRAY<FLOAT>)").alias("embedding"),
            F.col("embedding").alias("before_embedding"),
            F.lit("delete").alias("operation"),
            (F.lit(ts + 200) + F.col("vec_id") % 100).alias("ts_ms"),
        )
    )
    ins = (
        win.limit(N_INS)
        .select(
            (F.col("vec_id") + F.lit(int(mx) + 1 + N_INS * b)).alias("vec_id"),
            F.transform("embedding", lambda x: x * 0.5 + 0.25).alias("embedding"),
            F.expr("CAST(NULL AS ARRAY<FLOAT>)").alias("before_embedding"),
            F.lit("insert").alias("operation"),
            (F.lit(ts + 400) + F.col("vec_id") % 100).alias("ts_ms"),
        )
    )
    lazy = upd.unionByName(dele).unionByName(ins)
    # MATERIALIZE: the batch plan sorts the whole corpus (orderBy windows);
    # left lazy it would execute inside the timed apply and pollute the
    # curve with an O(N log N) term that belongs to batch construction
    rows = lazy.collect()
    return spark.createDataFrame(rows, lazy.schema)


def run_ngram(spark, sf_dir: str, batches: int) -> dict:
    from siddhi_io_cdc_spark.streaming.ngram_lm import (
        apply_changelog_ngram, write_ngram_state,
    )

    path = tempfile.mkdtemp(prefix="curve_ngram_")
    docs = spark.read.parquet(sf_dir.rstrip("/") + "/documents.parquet")
    t0 = time.monotonic()
    write_ngram_state(spark, docs, path, n=5, nbuckets=64, doc_buckets=16)
    build = time.monotonic() - t0
    out = {"applier": "ngram_lm", "build_sec": round(build, 3), "apply_sec": []}
    for b in range(batches):
        batch = _doc_batch(spark, sf_dir, b)
        t0 = time.monotonic()
        apply_changelog_ngram(spark, batch, path, batch_id=b + 1)
        out["apply_sec"].append(round(time.monotonic() - t0, 3))
    _maybe_compact_end(spark, path, out)
    shutil.rmtree(path, ignore_errors=True)
    return out


def _maybe_compact_end(spark, path: str, out: dict, compact=None) -> None:
    """With --compact-end, time the compaction fold after the batches —
    the amortized rewrite a state pays every compact_every batches
    (expected to scale with the corpus; that is the point: it is paid
    once per 16 batches instead of on every one)."""
    if COMPACT_END:
        if compact is None:
            from siddhi_io_cdc_spark.streaming.mor import mor_compact as compact

        t0 = time.monotonic()
        compact(spark, path)
        out["compact_sec"] = round(time.monotonic() - t0, 3)


COMPACT_END = False


def run_bm25(spark, sf_dir: str, batches: int) -> dict:
    from siddhi_io_cdc_spark.streaming.bm25_index import (
        apply_changelog_bm25, compact_bm25_index, write_bm25_index,
    )

    path = tempfile.mkdtemp(prefix="curve_bm25_")
    docs = spark.read.parquet(sf_dir.rstrip("/") + "/documents.parquet")
    t0 = time.monotonic()
    write_bm25_index(spark, docs, path, nbuckets=64, doc_buckets=16)
    build = time.monotonic() - t0
    out = {"applier": "bm25", "build_sec": round(build, 3), "apply_sec": []}
    for b in range(batches):
        batch = _doc_batch(spark, sf_dir, b)
        t0 = time.monotonic()
        apply_changelog_bm25(spark, path, batch, batch_id=b + 1)
        out["apply_sec"].append(round(time.monotonic() - t0, 3))
    _maybe_compact_end(spark, path, out, compact_bm25_index)
    shutil.rmtree(path, ignore_errors=True)
    return out


def run_ivf(spark, sf_dir: str, batches: int) -> dict:
    from siddhi_io_cdc_spark.functions.similarity import write_ivf_index
    from siddhi_io_cdc_spark.streaming.ivf_index import apply_changelog_ivf

    path = tempfile.mkdtemp(prefix="curve_ivf_")
    emb = spark.read.parquet(sf_dir.rstrip("/") + "/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n = emb.count()
    nlist = max(8, int(math.sqrt(n)))  # the docstring's nlist ~= sqrt(N)
    t0 = time.monotonic()
    write_ivf_index(emb, path, nlist=nlist, seed=42)
    build = time.monotonic() - t0
    out = {"applier": "ivf", "nlist": nlist, "build_sec": round(build, 3),
           "apply_sec": []}
    for b in range(batches):
        batch = _vec_batch(spark, sf_dir, b)
        t0 = time.monotonic()
        apply_changelog_ivf(spark, path, batch, batch_id=b + 1)
        out["apply_sec"].append(round(time.monotonic() - t0, 3))
    _maybe_compact_end(spark, path, out)
    shutil.rmtree(path, ignore_errors=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--appliers", default="ngram,bm25,ivf")
    ap.add_argument("--batches", type=int, default=3)
    ap.add_argument("--compact-end", action="store_true",
                    help="after the batches, time a compaction fold")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    args = ap.parse_args()
    global COMPACT_END
    COMPACT_END = bool(args.compact_end)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", args.cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    runners = {"ngram": run_ngram, "bm25": run_bm25, "ivf": run_ivf}
    for name in args.appliers.split(","):
        r = runners[name](spark, args.sf, args.batches)
        r["sf_dir"] = args.sf
        r["batch_docs"] = BATCH_DOCS
        print(json.dumps(r), flush=True)
        print(f"  {name}: build={r['build_sec']}s apply={r['apply_sec']}",
              file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()

"""Plan audit for the maintained-index SERVE paths (round-12 artifact).

The maintained contract rows (`llm_ivf_probe_maintained_mut`, the three
`*_mor` rows) materialize their bounded results and delete their index
trees, so `tools/plan_audit.py` over `queries()` would only see a
LocalTableScan. This tool builds each index shape at sf0.01 and audits
the LIVE probe/serve plan instead — the plan a production reader runs:

- IVF probe: the live view (base ∪ delta − tombstones) must show
  `cell IN (...)` PartitionFilters on every file scan, no Python nodes;
- BM25 probe: term-bucket PartitionFilters on base+delta postings;
- KN serve: broadcast-join chain, zero Python nodes.

Usage: PYTHONPATH=/root/repo python tools/audit_maintained_plans.py
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
import tempfile

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def _audit(name: str, df) -> None:
    from tools.plan_audit import summarize

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    simple = buf.getvalue()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    formatted = buf.getvalue()
    print(f"\n===== {name} =====")
    print(summarize(simple, formatted))


def main() -> int:
    from pyspark.sql import functions as F

    from siddhi_io_cdc_spark.functions.similarity import (
        probe_ivf_index,
        write_ivf_index,
    )
    from siddhi_io_cdc_spark.session import get_spark
    from siddhi_io_cdc_spark.streaming.bm25_index import (
        apply_changelog_bm25,
        bm25_topk_indexed,
        write_bm25_index,
    )
    from siddhi_io_cdc_spark.streaming.ivf_index import apply_changelog_ivf
    from siddhi_io_cdc_spark.streaming.ngram_lm import (
        apply_changelog_ngram,
        kneser_ney_from_state,
        write_ngram_state,
    )

    spark = get_spark("maintained-plan-audit", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    docs = spark.read.parquet(SF_DIR + "/documents.parquet").select(
        "doc_id", "text"
    )
    emb = spark.read.parquet(SF_DIR + "/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    q = [float((i * 7 + 3) % 11 + 1) for i in range(64)]
    ins_docs = docs.where(F.col("doc_id") % 5 == 0).select(
        "doc_id", "text",
        F.lit(None).cast("string").alias("before_text"),
        F.lit("insert").alias("operation"),
        F.lit(1).cast("bigint").alias("ts_ms"),
    )
    ins_vecs = emb.where(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding",
        F.lit("insert").alias("operation"),
        F.lit(1).cast("bigint").alias("ts_ms"),
    )

    mor_ivf = tempfile.mkdtemp(prefix="audit_ivf_mor_")
    write_ivf_index(emb, mor_ivf, nlist=8, seed=42)
    apply_changelog_ivf(spark, mor_ivf, ins_vecs, batch_id=0)
    _audit(
        "probe_ivf_index (mor: base+delta-tombstones)",
        probe_ivf_index(spark, mor_ivf, q, k=10, nprobe=4),
    )

    mor_bm25 = tempfile.mkdtemp(prefix="audit_bm25_mor_")
    write_bm25_index(spark, docs.where(F.col("doc_id") % 5 != 0), mor_bm25)
    apply_changelog_bm25(spark, mor_bm25, ins_docs, batch_id=0)
    _audit(
        "bm25_topk_indexed (mor)",
        bm25_topk_indexed(spark, mor_bm25, ["spark", "shuffle", "vector"], k=10),
    )

    # round 13: the probe THROUGH a size-tiered minor fold must keep the
    # same pruning story — the fold's delta is partitioned by
    # __seq/part_col like any other delta, and the fold-record exclusion
    # (`NOT __seq IN (...)`) is itself a partition filter
    from siddhi_io_cdc_spark.streaming.bm25_index import (
        minor_compact_bm25_index,
    )

    ins2 = docs.where(F.col("doc_id") % 7 == 3).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"), "text",
        F.lit(None).cast("string").alias("before_text"),
        F.lit("insert").alias("operation"),
        F.lit(2).cast("bigint").alias("ts_ms"),
    )
    apply_changelog_bm25(spark, mor_bm25, ins2, batch_id=1)
    minor_compact_bm25_index(spark, mor_bm25)
    _audit(
        "bm25_topk_indexed (mor, after minor fold)",
        bm25_topk_indexed(spark, mor_bm25, ["spark", "shuffle", "vector"], k=10),
    )

    mor_kn = tempfile.mkdtemp(prefix="audit_kn_mor_")
    write_ngram_state(
        spark, docs.where(F.col("doc_id") % 5 != 0), mor_kn,
        n=5, nbuckets=4, doc_buckets=2,
    )
    apply_changelog_ngram(spark, ins_docs, mor_kn, batch_id=0)
    _audit("kneser_ney_from_state (mor)", kneser_ney_from_state(spark, mor_kn))

    import shutil

    for p in (mor_ivf, mor_bm25, mor_kn):
        shutil.rmtree(p, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

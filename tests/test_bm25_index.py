"""Incremental BM25 inverted index: probe parity, CDC maintenance, replay.

The core contract mirrors the IVF applier's: after applying a changelog,
``bm25_topk_indexed`` must return EXACTLY what ``bm25_topk`` returns over a
fresh scan of the equivalent corpus state — scores bit-identical, not just
rankings.
"""

import pytest

from siddhi_io_cdc_spark.functions.retrieval import bm25_topk
from siddhi_io_cdc_spark.streaming.bm25_index import (
    apply_changelog_bm25,
    bm25_topk_indexed,
    read_bm25_stats,
    write_bm25_index,
)
from siddhi_io_cdc_spark.streaming.mor import mor_live

TERMS = ["spark", "shuffle", "join"]

DOCS = [
    (0, "spark shuffle join spark"),
    (1, "the quick brown fox avoids distributed systems"),
    (2, "join strategies in spark include broadcast and shuffle joins"),
    (3, "shuffle shuffle shuffle everywhere"),
    (4, "spark spark spark spark"),
    (5, "completely unrelated text about gardening"),
]


def _corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def _ranking(df):
    return [(r.doc_id, r.bm25, r.rank) for r in df.collect()]


@pytest.fixture()
def index_path(tmp_path):
    return str(tmp_path / "bm25idx")


def test_probe_matches_scan(spark, index_path):
    docs = _corpus(spark, DOCS)
    write_bm25_index(spark, docs, index_path, nbuckets=8, doc_buckets=4)
    got = _ranking(bm25_topk_indexed(spark, index_path, TERMS, k=10))
    want = _ranking(bm25_topk(docs, TERMS, k=10))
    assert got == want  # bit-identical scores, same order


def _changelog(spark, rows):
    # (doc_id, text, before_text, operation, ts_ms)
    return spark.createDataFrame(
        rows, "doc_id LONG, text STRING, before_text STRING, operation STRING, ts_ms LONG"
    )


def test_incremental_apply_matches_fresh_rebuild(spark, index_path):
    docs = _corpus(spark, DOCS)
    write_bm25_index(spark, docs, index_path, nbuckets=8, doc_buckets=4)
    batch = _changelog(
        spark,
        [
            (6, "new doc about spark shuffle behavior", None, "insert", 10),
            (4, "rewritten without the magic words", DOCS[4][1], "update", 11),
            (3, None, DOCS[3][1], "delete", 12),
            # two events for one key: only the LATEST (by ts) wins
            (7, "transient spark doc", None, "insert", 13),
            (7, None, "transient spark doc", "delete", 14),
        ],
    )
    apply_changelog_bm25(spark, index_path, batch, batch_id=1)

    final_rows = [DOCS[0], DOCS[1], DOCS[2], DOCS[5],
                  (4, "rewritten without the magic words"),
                  (6, "new doc about spark shuffle behavior")]
    want = _ranking(bm25_topk(_corpus(spark, final_rows), TERMS, k=10))
    got = _ranking(bm25_topk_indexed(spark, index_path, TERMS, k=10))
    assert got == want

    # update dropped 'spark' from doc 4: its postings must be gone
    postings = mor_live(spark, index_path, "postings")
    assert postings.where("doc_id = 4 AND term = 'spark'").count() == 0
    assert postings.where("doc_id = 3").count() == 0  # deleted doc


def test_intra_batch_update_chain_drops_pre_batch_postings(spark, index_path):
    """Two updates to one key in one batch: the LATEST event's before image
    ('gamma ...') is NOT the pre-batch text ('alpha beta ...'). Every
    pre-batch posting of the key must still be shadowed, or stale 'alpha'
    postings survive and the probe diverges from a fresh scan."""
    seed = [(0, "alpha beta common"), (1, "common filler text")]
    write_bm25_index(spark, _corpus(spark, seed), index_path, nbuckets=64, doc_buckets=4)
    batch = _changelog(
        spark,
        [
            (0, "gamma common", "alpha beta common", "update", 10),
            (0, "delta common", "gamma common", "update", 11),
        ],
    )
    apply_changelog_bm25(spark, index_path, batch, batch_id=1)

    postings = mor_live(spark, index_path, "postings")
    assert postings.where("doc_id = 0 AND term IN ('alpha','beta','gamma')").count() == 0

    final_rows = [(0, "delta common"), (1, "common filler text")]
    for terms in (["alpha"], ["beta"], ["gamma"], ["delta", "common"]):
        want = _ranking(bm25_topk(_corpus(spark, final_rows), terms, k=10))
        got = _ranking(bm25_topk_indexed(spark, index_path, terms, k=10))
        assert got == want, terms


def test_intra_batch_update_then_delete_chain(spark, index_path):
    """update A->B then delete(B) for one key in one batch: A's postings,
    which only the first mover's before image names, must be gone."""
    seed = [(0, "alpha solo"), (1, "spark text")]
    write_bm25_index(spark, _corpus(spark, seed), index_path, nbuckets=64, doc_buckets=4)
    batch = _changelog(
        spark,
        [
            (0, "bravo solo", "alpha solo", "update", 10),
            (0, None, "bravo solo", "delete", 11),
        ],
    )
    apply_changelog_bm25(spark, index_path, batch, batch_id=1)
    postings = mor_live(spark, index_path, "postings")
    assert postings.where("doc_id = 0").count() == 0
    want = _ranking(bm25_topk(_corpus(spark, [(1, "spark text")]), ["alpha", "spark"], k=5))
    got = _ranking(bm25_topk_indexed(spark, index_path, ["alpha", "spark"], k=5))
    assert got == want


def test_token_less_documents_count_toward_corpus_stats(spark, index_path):
    """A zero-token document contributes no postings but DOES count toward
    N (and avgdl's denominator) in bm25_score's corpus aggregate — the
    docs/ table needs its dl=0 row for probe/scan parity."""
    docs = _corpus(spark, DOCS + [(6, ""), (7, "   ")])
    write_bm25_index(spark, docs, index_path, nbuckets=8, doc_buckets=4)
    d = mor_live(spark, index_path, "docs")
    assert d.count() == 8
    assert d.where("dl = 0").count() == 2
    got = _ranking(bm25_topk_indexed(spark, index_path, TERMS, k=10))
    want = _ranking(bm25_topk(docs, TERMS, k=10))
    assert got == want

    # an update TO empty text keeps the doc in the stats with dl=0
    batch = _changelog(spark, [(0, "", DOCS[0][1], "update", 10)])
    apply_changelog_bm25(spark, index_path, batch, batch_id=1)
    d = mor_live(spark, index_path, "docs")
    assert d.where("doc_id = 0 AND dl = 0").count() == 1
    final = [(0, "")] + DOCS[1:] + [(6, ""), (7, "   ")]
    got = _ranking(bm25_topk_indexed(spark, index_path, TERMS, k=10))
    want = _ranking(bm25_topk(_corpus(spark, final), TERMS, k=10))
    assert got == want


def test_replay_is_idempotent(spark, index_path):
    import os

    docs = _corpus(spark, DOCS)
    write_bm25_index(spark, docs, index_path, nbuckets=8, doc_buckets=4)
    batch = _changelog(
        spark, [(6, "spark appears here", None, "insert", 10),
                (0, None, DOCS[0][1], "delete", 11)]
    )
    apply_changelog_bm25(spark, index_path, batch, batch_id=7)
    before = _ranking(bm25_topk_indexed(spark, index_path, TERMS, k=10))
    # clean re-run: marker short-circuits
    apply_changelog_bm25(spark, index_path, batch, batch_id=7)
    # crash-replay without marker: the batch reuses its recorded sequence,
    # so the postings and the stats delta land once
    os.remove(os.path.join(index_path, "_batches", "7"))
    apply_changelog_bm25(spark, index_path, batch, batch_id=7)
    after = _ranking(bm25_topk_indexed(spark, index_path, TERMS, k=10))
    assert after == before


def test_missing_before_image_raises(spark, index_path):
    docs = _corpus(spark, DOCS)
    write_bm25_index(spark, docs, index_path, nbuckets=8, doc_buckets=4)
    no_before = spark.createDataFrame(
        [(0, "changed", "update", 10)],
        "doc_id LONG, text STRING, operation STRING, ts_ms LONG",
    )
    with pytest.raises(ValueError, match="before_text"):
        apply_changelog_bm25(spark, index_path, no_before, batch_id=2)
    null_before = _changelog(spark, [(0, "changed", None, "update", 10)])
    with pytest.raises(ValueError, match="NULL"):
        apply_changelog_bm25(spark, index_path, null_before, batch_id=3)


def test_probe_reads_only_query_buckets(spark, index_path):
    docs = _corpus(spark, DOCS)
    write_bm25_index(spark, docs, index_path, nbuckets=8, doc_buckets=4)
    plan = bm25_topk_indexed(spark, index_path, ["spark"], k=5)._jdf.queryExecution().executedPlan().toString()
    assert "tbucket" in plan  # partition filter reached the scan


def test_cdc_source_to_bm25_index_end_to_end(spark, tmp_path):
    """The COMPOSED serving path — cdc_read_stream (listening mode,
    JSON-lines changelog) -> flatten -> foreach_batch_bm25_index — with a
    mid-stream restart from checkpoint. Probe results must equal a fresh
    write_bm25_index over the final corpus state."""
    import json
    import os

    from pyspark.sql import types as T

    from siddhi_io_cdc_spark.api import cdc_read_stream
    from siddhi_io_cdc_spark.streaming.bm25_index import foreach_batch_bm25_index

    row_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])

    def text(i, gen=0):
        words = ["spark", "shuffle", "join", "quick", "brown", "fox"]
        return " ".join(words[(i + j + gen) % len(words)] for j in range(4 + i % 5))

    def ev(op, i, ts, gen=0, old_gen=0):
        return {
            "op": op,
            "before": None if op == "c" else {"doc_id": i, "text": text(i, old_gen)},
            "after": None if op == "d" else {"doc_id": i, "text": text(i, gen)},
            "source": {"ts_ms": ts},
            "ts_ms": ts,
        }

    log = str(tmp_path / "log")
    os.makedirs(log)
    path = str(tmp_path / "bm25")
    ckpt = str(tmp_path / "ckpt")

    write_bm25_index(
        spark,
        _corpus(spark, [(i, text(i)) for i in range(20)]),
        path, nbuckets=8, doc_buckets=4,
    )

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
            .foreachBatch(foreach_batch_bm25_index(spark, path))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_chunk(1, [ev("c", i, ts=i) for i in range(20, 26)])
    run_stream()
    # stream down; term-dropping updates + deletes arrive "offline"; restart
    write_chunk(2, [ev("u", i, ts=100 + i, gen=3) for i in range(3, 8)]
                   + [ev("d", i, ts=200 + i) for i in range(15, 18)])
    run_stream()

    final_rows = (
        [(i, text(i)) for i in range(3)]
        + [(i, text(i, 3)) for i in range(3, 8)]
        + [(i, text(i)) for i in range(8, 15)]
        + [(i, text(i)) for i in range(18, 26)]
    )
    want = _ranking(bm25_topk(_corpus(spark, final_rows), TERMS, k=10))
    got = _ranking(bm25_topk_indexed(spark, path, TERMS, k=10))
    assert got == want


def test_hybrid_from_maintained_indexes(spark, tmp_path):
    """Hybrid serving from MAINTAINED state: RRF-fuse the partition-pruned
    BM25 probe with a dense ranking — identical to fusing the scan-based
    BM25 (probe-vs-scan parity composes through the fusion)."""
    from siddhi_io_cdc_spark.functions.retrieval import rrf_fuse

    docs = _corpus(spark, DOCS)
    path = str(tmp_path / "bm25h")
    write_bm25_index(spark, docs, path, nbuckets=8, doc_buckets=4)
    dense = spark.createDataFrame(
        [(2, 1), (0, 2), (5, 3)], "doc_id LONG, rank INT"
    )
    lex_idx = bm25_topk_indexed(spark, path, TERMS, k=5).select("doc_id", "rank")
    lex_scan = bm25_topk(docs, TERMS, k=5).select("doc_id", "rank")
    got = [(r.doc_id, r.rrf, r.rank) for r in rrf_fuse([dense, lex_idx], k=5).collect()]
    want = [(r.doc_id, r.rrf, r.rank) for r in rrf_fuse([dense, lex_scan], k=5).collect()]
    assert got == want


def test_stats_cache_is_exact_derived_state(spark, index_path):
    """The corpus scalars (the cache plus the pending stats deltas) equal
    the docs-table aggregate after every apply, and deleting the cache
    changes nothing in probe results (the probe falls back to the
    aggregate — same two BIGINTs)."""
    from siddhi_io_cdc_spark.streaming.ivf_index import _hadoop_delete

    docs = _corpus(spark, DOCS)
    write_bm25_index(spark, docs, index_path, nbuckets=8, doc_buckets=4)
    batch = _changelog(
        spark, [(6, "spark twice spark", None, "insert", 10),
                (5, None, DOCS[5][1], "delete", 11)]
    )
    apply_changelog_bm25(spark, index_path, batch, batch_id=1)

    n_docs, total_tokens = read_bm25_stats(spark, index_path)
    d = mor_live(spark, index_path, "docs")
    agg = d.groupBy().sum("dl").collect()[0][0]
    assert n_docs == d.count() == 6
    assert total_tokens == agg

    with_cache = _ranking(bm25_topk_indexed(spark, index_path, TERMS, k=10))
    _hadoop_delete(spark, index_path + "/_stats.json")
    without_cache = _ranking(bm25_topk_indexed(spark, index_path, TERMS, k=10))
    assert with_cache == without_cache

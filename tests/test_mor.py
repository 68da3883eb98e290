"""Merge-on-read state layout (streaming/mor.py): the O(batch) apply path
of the CDC-maintained indexes.

Each applier must agree exactly with a fresh rebuild over the
post-changelog corpus — through update chains, transient insert-then-
delete keys, missing before images (legal except for bm25), the
compaction pointer swap, and crash-replay. An index written before the
indexes were maintained merge-on-read (no ``_mor.json``) stays readable
and is refused by the appliers.
"""

import random

import pytest
from pyspark.sql import functions as F

from siddhi_io_cdc_spark.functions.retrieval import bm25_topk
from siddhi_io_cdc_spark.functions.similarity import (
    probe_ivf_index,
    write_ivf_index,
)
from siddhi_io_cdc_spark.streaming.bm25_index import (
    apply_changelog_bm25,
    bm25_topk_indexed,
    compact_bm25_index,
    read_bm25_stats,
    write_bm25_index,
)
from siddhi_io_cdc_spark.streaming.ivf_index import apply_changelog_ivf
from siddhi_io_cdc_spark.streaming.mor import (
    mor_compact,
    mor_live,
    mor_pending_seqs,
)
from siddhi_io_cdc_spark.streaming.ngram_lm import (
    apply_changelog_ngram,
    kneser_ney_from_state,
    read_ngram_counts,
    write_ngram_state,
)

DOCS = [
    (i, " ".join(f"tok{(i * 7 + j) % 13}" for j in range(8))) for i in range(20)
]

CHANGELOG = [
    # (doc_id, text, before_text, operation, ts_ms)
    (5, "aa bb cc dd ee", DOCS[5][1], "update", 10),
    (6, None, DOCS[6][1], "delete", 11),
    (30, "xx yy zz ww vv", None, "insert", 12),
    (31, "pp qq rr", None, "insert", 13),
    (31, None, "pp qq rr", "delete", 14),  # transient key nets to nothing
    (7, "chain one two", DOCS[7][1], "update", 15),
    (7, "chained final text here", "chain one two", "update", 16),
]

FINAL = [(i, t) for i, t in DOCS if i not in (5, 6, 7)] + [
    (5, "aa bb cc dd ee"),
    (30, "xx yy zz ww vv"),
    (7, "chained final text here"),
]

SCHEMA = "doc_id LONG, text STRING, before_text STRING, operation STRING, ts_ms LONG"


def _corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


# ---------------------------------------------------------------- ngram


def test_ngram_mor_apply_equals_rebuild(spark, tmp_path):
    state, fresh = str(tmp_path / "mor"), str(tmp_path / "fresh")
    write_ngram_state(
        spark, _corpus(spark, DOCS), state, n=3, nbuckets=8, doc_buckets=4,
    )
    apply_changelog_ngram(
        spark, spark.createDataFrame(CHANGELOG, SCHEMA), state, batch_id=0
    )
    write_ngram_state(
        spark, _corpus(spark, FINAL), fresh, n=3, nbuckets=8, doc_buckets=4
    )
    got = {tuple(r) for r in read_ngram_counts(spark, state).collect()}
    want = {tuple(r) for r in read_ngram_counts(spark, fresh).collect()}
    assert got == want
    got_kn = {tuple(r) for r in kneser_ney_from_state(spark, state).collect()}
    want_kn = {tuple(r) for r in kneser_ney_from_state(spark, fresh).collect()}
    assert got_kn == want_kn


def test_ngram_mor_accepts_batches_without_before_images(spark, tmp_path):
    """Tombstones shadow by id, so the applier needs no before image —
    an update/delete-only stream from a source that cannot emit old rows
    still maintains exact state."""
    state, fresh = str(tmp_path / "mor"), str(tmp_path / "fresh")
    write_ngram_state(
        spark, _corpus(spark, DOCS), state, n=3, nbuckets=8, doc_buckets=4,
    )
    batch = spark.createDataFrame(
        [(3, "brand new text row", "update", 10), (4, None, "delete", 11)],
        "doc_id LONG, text STRING, operation STRING, ts_ms LONG",
    )
    apply_changelog_ngram(spark, batch, state, batch_id=0)
    final = [(i, t) for i, t in DOCS if i not in (3, 4)] + [
        (3, "brand new text row")
    ]
    write_ngram_state(
        spark, _corpus(spark, final), fresh, n=3, nbuckets=8, doc_buckets=4
    )
    got = {tuple(r) for r in read_ngram_counts(spark, state).collect()}
    want = {tuple(r) for r in read_ngram_counts(spark, fresh).collect()}
    assert got == want


def test_ngram_mor_compaction_and_replay(spark, tmp_path):
    state = str(tmp_path / "mor")
    write_ngram_state(
        spark, _corpus(spark, DOCS), state, n=3, nbuckets=8, doc_buckets=4,
    )
    batch = spark.createDataFrame(CHANGELOG, SCHEMA)
    apply_changelog_ngram(spark, batch, state, batch_id=0)
    before = {tuple(r) for r in read_ngram_counts(spark, state).collect()}
    assert mor_pending_seqs(spark, state) == [1]

    assert mor_compact(spark, state)
    assert mor_pending_seqs(spark, state) == []
    assert {tuple(r) for r in read_ngram_counts(spark, state).collect()} == before

    # replay of an already-applied batch id is a no-op (marker), even after
    # the deltas it produced were folded away
    apply_changelog_ngram(spark, batch, state, batch_id=0)
    assert {tuple(r) for r in read_ngram_counts(spark, state).collect()} == before


def test_ngram_mor_autocompacts_at_threshold(spark, tmp_path):
    state = str(tmp_path / "mor")
    write_ngram_state(
        spark, _corpus(spark, DOCS), state, n=3, nbuckets=8, doc_buckets=4,
        compact_every=2,
    )
    b1 = spark.createDataFrame(
        [(41, "one new doc", None, "insert", 1)], SCHEMA
    )
    b2 = spark.createDataFrame(
        [(42, "two new doc", None, "insert", 2)], SCHEMA
    )
    apply_changelog_ngram(spark, b1, state, batch_id=0)
    assert mor_pending_seqs(spark, state) == [1]
    apply_changelog_ngram(spark, b2, state, batch_id=1)  # hits threshold 2
    assert mor_pending_seqs(spark, state) == []
    final = DOCS + [(41, "one new doc"), (42, "two new doc")]
    fresh = str(tmp_path / "fresh")
    write_ngram_state(
        spark, _corpus(spark, final), fresh, n=3, nbuckets=8, doc_buckets=4
    )
    got = {tuple(r) for r in read_ngram_counts(spark, state).collect()}
    want = {tuple(r) for r in read_ngram_counts(spark, fresh).collect()}
    assert got == want


# ---------------------------------------------------------------- bm25


def test_bm25_mor_probe_and_stats_match_rebuild(spark, tmp_path):
    idx = str(tmp_path / "bm25")
    write_bm25_index(
        spark, _corpus(spark, DOCS), idx, nbuckets=8, doc_buckets=4,
    )
    apply_changelog_bm25(
        spark, idx, spark.createDataFrame(CHANGELOG, SCHEMA), batch_id=0
    )
    terms = ["tok3", "aa", "xx"]
    want = [tuple(r) for r in bm25_topk(_corpus(spark, FINAL), terms, k=8).collect()]
    got = [tuple(r) for r in bm25_topk_indexed(spark, idx, terms, k=8).collect()]
    assert got == want  # bit-identical scores => stats scalars are exact

    n, t = read_bm25_stats(spark, idx)
    assert n == len(FINAL)
    assert t == sum(len(x.split()) for _, x in FINAL)


def test_bm25_mor_stats_survive_chains_and_transients(spark, tmp_path):
    """dn/dtok use the EARLIEST event for pre-batch existence/length and
    the LATEST for the final state: insert-then-delete nets 0, an update
    chain subtracts the pre-batch length, not an intermediate one."""
    idx = str(tmp_path / "bm25")
    write_bm25_index(
        spark, _corpus(spark, DOCS), idx, nbuckets=8, doc_buckets=4,
    )
    batch = spark.createDataFrame(
        [
            (50, "a b c d e f", None, "insert", 1),
            (50, None, "a b c d e f", "delete", 2),
            (0, "short", DOCS[0][1], "update", 3),
            (0, "somewhat longer replacement", "short", "update", 4),
        ],
        SCHEMA,
    )
    apply_changelog_bm25(spark, idx, batch, batch_id=0)
    n, t = read_bm25_stats(spark, idx)
    final = [(i, x) for i, x in DOCS if i != 0] + [
        (0, "somewhat longer replacement")
    ]
    assert n == len(final)
    assert t == sum(len(x.split()) for _, x in final)


def test_bm25_mor_compaction_folds_stats(spark, tmp_path):
    idx = str(tmp_path / "bm25")
    write_bm25_index(
        spark, _corpus(spark, DOCS), idx, nbuckets=8, doc_buckets=4,
    )
    apply_changelog_bm25(
        spark, idx, spark.createDataFrame(CHANGELOG, SCHEMA), batch_id=0
    )
    before = read_bm25_stats(spark, idx)
    assert compact_bm25_index(spark, idx)
    assert mor_pending_seqs(spark, idx) == []
    assert read_bm25_stats(spark, idx) == before
    terms = ["tok3", "aa", "xx"]
    want = [tuple(r) for r in bm25_topk(_corpus(spark, FINAL), terms, k=8).collect()]
    got = [tuple(r) for r in bm25_topk_indexed(spark, idx, terms, k=8).collect()]
    assert got == want


def test_bm25_mor_still_requires_before_images(spark, tmp_path):
    """Unlike the other two MOR appliers, bm25 keeps the requirement: the
    stats delta needs the replaced document's old length."""
    idx = str(tmp_path / "bm25")
    write_bm25_index(
        spark, _corpus(spark, DOCS), idx, nbuckets=8, doc_buckets=4,
    )
    batch = spark.createDataFrame(
        [(3, "new text", "update", 10)],
        "doc_id LONG, text STRING, operation STRING, ts_ms LONG",
    )
    with pytest.raises(ValueError, match="before_text"):
        apply_changelog_bm25(spark, idx, batch, batch_id=0)


# ---------------------------------------------------------------- ivf


@pytest.fixture()
def vecs():
    rng = random.Random(7)
    return [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(100)
    ]


def test_ivf_mor_probe_matches_rebuild(spark, tmp_path, vecs):
    emb = spark.createDataFrame(vecs, "vec_id LONG, embedding ARRAY<FLOAT>")
    idx, fresh = str(tmp_path / "ivf"), str(tmp_path / "fresh")
    write_ivf_index(emb, idx, nlist=6, seed=42)

    rows = (
        [(i, [-x for x in vecs[i][1]], "update", 10 + i) for i in range(10)]
        + [(i, None, "delete", 30 + i) for i in range(10, 15)]
        + [(200 + j, [x * 0.5 for x in vecs[j][1]], "insert", 50 + j) for j in range(5)]
    )
    # NO before_embedding column: legal under mor (tombstones shadow by id)
    batch = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>, operation STRING, ts_ms LONG"
    )
    apply_changelog_ivf(spark, idx, batch, batch_id=0)

    final = [
        (i, [-x for x in v]) if i < 10 else (i, v)
        for i, v in vecs
        if i not in range(10, 15)
    ] + [(200 + j, [x * 0.5 for x in vecs[j][1]]) for j in range(5)]
    write_ivf_index(
        spark.createDataFrame(final, "vec_id LONG, embedding ARRAY<FLOAT>"),
        fresh, nlist=6, seed=42,
    )
    q = vecs[3][1]
    want = [tuple(r) for r in probe_ivf_index(spark, fresh, q, k=10, nprobe=3).collect()]
    got = [tuple(r) for r in probe_ivf_index(spark, idx, q, k=10, nprobe=3).collect()]
    assert got == want

    assert mor_compact(spark, idx)
    got2 = [tuple(r) for r in probe_ivf_index(spark, idx, q, k=10, nprobe=3).collect()]
    assert got2 == want

    apply_changelog_ivf(spark, idx, batch, batch_id=0)  # replay: marker no-op
    got3 = [tuple(r) for r in probe_ivf_index(spark, idx, q, k=10, nprobe=3).collect()]
    assert got3 == want


def test_ivf_mor_delta_probe_is_partition_pruned(spark, tmp_path, vecs):
    """The live view keeps the cell predicate prunable: both the base and
    the delta scans must show partition filters on `cell`."""
    emb = spark.createDataFrame(vecs, "vec_id LONG, embedding ARRAY<FLOAT>")
    idx = str(tmp_path / "ivf")
    write_ivf_index(emb, idx, nlist=6, seed=42)
    batch = spark.createDataFrame(
        [(300, vecs[0][1], "insert", 1)],
        "vec_id LONG, embedding ARRAY<FLOAT>, operation STRING, ts_ms LONG",
    )
    apply_changelog_ivf(spark, idx, batch, batch_id=0)
    view = mor_live(spark, idx, "vectors").where(F.col("cell").isin([0, 1]))
    plan = view._jdf.queryExecution().executedPlan().toString()
    # the VECTOR scans (base + delta, the ones reading embedding) must
    # carry the cell partition filter; the tombstone scan is id-only and
    # is not cell-partitioned, so it legitimately has none
    vec_scans = [
        ln for ln in plan.splitlines()
        if "PartitionFilters" in ln and "embedding" in ln
    ]
    assert len(vec_scans) >= 2, plan  # base scan + delta scan
    assert all("cell" in ln for ln in vec_scans), plan


def test_ivf_mor_rekeys_multiop_flatten_deletes(spark, tmp_path, vecs):
    """Multi-op flatten fills a delete's after image with type defaults
    (vec_id=0): the applier must tombstone the BEFORE-image key, not
    key 0."""
    emb = spark.createDataFrame(vecs, "vec_id LONG, embedding ARRAY<FLOAT>")
    idx = str(tmp_path / "ivf")
    write_ivf_index(emb, idx, nlist=6, seed=42)
    batch = spark.createDataFrame(
        [(0, None, 7, vecs[7][1], "delete", 1)],  # after-image key = default 0
        "vec_id LONG, embedding ARRAY<FLOAT>, before_vec_id LONG, "
        "before_embedding ARRAY<FLOAT>, operation STRING, ts_ms LONG",
    )
    apply_changelog_ivf(spark, idx, batch, batch_id=0)
    live = {r.vec_id for r in mor_live(spark, idx, "vectors").select("vec_id").collect()}
    assert 7 not in live, "before-image key must be tombstoned"
    assert 0 in live, "the type-default key must NOT be tombstoned"


# ---------------------------------------------------- crash interleavings


def test_index_written_before_mor_probes_but_is_not_maintained(spark, tmp_path, vecs):
    """An index directory with no _mor.json (the plain cell-partitioned
    layout of an index written before the indexes were maintained
    merge-on-read) still probes; every applier refuses it and names the
    rebuild."""
    import json

    from siddhi_io_cdc_spark.functions.similarity import ivf_assign

    emb = spark.createDataFrame(vecs, "vec_id LONG, embedding ARRAY<FLOAT>")
    old, fresh = str(tmp_path / "old"), str(tmp_path / "fresh")
    cents = write_ivf_index(emb, fresh, nlist=6, seed=42, assign_engine="sql")
    emb.withColumn("cell", ivf_assign(F.col("embedding"), cents)).write.partitionBy(
        "cell"
    ).parquet(old)
    with open(old + "/_ivf_centroids.json", "w") as f:
        json.dump([[float(x) for x in c] for c in cents], f)
    q = vecs[3][1]
    got = sorted(map(tuple, probe_ivf_index(spark, old, q, k=5, nprobe=3).collect()))
    want = sorted(map(tuple, probe_ivf_index(spark, fresh, q, k=5, nprobe=3).collect()))
    assert got == want and len(got) == 5

    batch = spark.createDataFrame(
        [(100, vecs[0][1], "insert", 1)],
        "vec_id LONG, embedding ARRAY<FLOAT>, operation STRING, ts_ms LONG",
    )
    with pytest.raises(ValueError, match="no _mor.json.*write_ivf_index"):
        apply_changelog_ivf(spark, old, batch)
    with pytest.raises(ValueError, match="write_bm25_index"):
        apply_changelog_bm25(spark, old, batch)
    with pytest.raises(ValueError, match="write_ngram_state"):
        apply_changelog_ngram(spark, batch, old)


def test_mor_compact_survives_orphan_from_crashed_attempt(spark, tmp_path):
    """Crash BEFORE the pointer write leaves a half-written versioned dir;
    the next compaction must clobber the orphan, not absorb it."""
    state = str(tmp_path / "mor")
    write_ngram_state(
        spark, _corpus(spark, DOCS), state, n=3, nbuckets=8, doc_buckets=4,
    )
    apply_changelog_ngram(
        spark, spark.createDataFrame(CHANGELOG, SCHEMA), state, batch_id=0
    )
    want = {tuple(r) for r in read_ngram_counts(spark, state).collect()}
    # plant the orphan a crashed earlier attempt would leave (v1 is the
    # name the next compaction will pick: base_version 0 + 1)
    spark.createDataFrame(
        [(999, "zz", "zz", "zz", 1, 0)],
        "doc_id LONG, w1 STRING, w2 STRING, w3 STRING, tf LONG, gbucket INT",
    ).write.partitionBy("gbucket").parquet(state + "/grams__v1")
    assert mor_compact(spark, state)
    got = {tuple(r) for r in read_ngram_counts(spark, state).collect()}
    assert got == want  # the orphan's garbage row must not survive


def test_mor_reader_ignores_stale_dirs_after_pointer_swap(spark, tmp_path):
    """Crash AFTER the pointer write but before GC leaves superseded delta
    and tombstone dirs; readers must ignore anything at or below the
    compaction horizon."""
    state = str(tmp_path / "mor")
    write_ngram_state(
        spark, _corpus(spark, DOCS), state, n=3, nbuckets=8, doc_buckets=4,
    )
    apply_changelog_ngram(
        spark, spark.createDataFrame(CHANGELOG, SCHEMA), state, batch_id=0
    )
    assert mor_compact(spark, state)  # horizon = 1, dirs retained 1 cycle
    want = {tuple(r) for r in read_ngram_counts(spark, state).collect()}
    # overwrite the (deferred-GC-retained) seq-1 artifacts with bogus rows
    # AND a tombstone for a live doc — readers must ignore anything at or
    # below the horizon regardless of content
    spark.createDataFrame(
        [(998, "yy", "yy", "yy", 7, 0)],
        "doc_id LONG, w1 STRING, w2 STRING, w3 STRING, tf LONG, gbucket INT",
    ).write.mode("overwrite").partitionBy("gbucket").parquet(
        state + "/_delta/grams/__seq=1"
    )
    spark.createDataFrame([(0,)], "doc_id LONG").write.mode("overwrite").parquet(
        state + "/_tomb/grams/__seq=1"
    )
    got = {tuple(r) for r in read_ngram_counts(spark, state).collect()}
    assert got == want  # stale delta invisible, live doc 0 not tombstoned


# ------------------------------------------------------- streaming e2e


def test_foreach_batch_ngram_mor_stream(spark, tmp_path):
    """Live stream into a mor state: engine-assigned batch ids map to
    delta sequences; checkpoint restart + markers keep replay a no-op;
    the served counts equal a fresh rebuild."""
    from siddhi_io_cdc_spark.streaming.ngram_lm import foreach_batch_ngram_lm

    import os

    state = str(tmp_path / "mor")
    write_ngram_state(
        spark, _corpus(spark, DOCS), state, n=3, nbuckets=8, doc_buckets=4,
    )
    src = str(tmp_path / "events")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")

    def run_stream():
        q = (
            spark.readStream.schema(SCHEMA.replace(", ", ",")).parquet(src)
            .writeStream.foreachBatch(foreach_batch_ngram_lm(spark, state))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame(CHANGELOG, SCHEMA).write.mode("append").parquet(src)
    run_stream()
    fresh = str(tmp_path / "fresh")
    write_ngram_state(
        spark, _corpus(spark, FINAL), fresh, n=3, nbuckets=8, doc_buckets=4
    )
    got = {tuple(r) for r in read_ngram_counts(spark, state).collect()}
    assert got == {tuple(r) for r in read_ngram_counts(spark, fresh).collect()}

    # second micro-batch (engine batch_id advances via the checkpoint)
    spark.createDataFrame(
        [(60, "late arrival doc", None, "insert", 99)], SCHEMA
    ).write.mode("append").parquet(src)
    run_stream()
    fresh2 = str(tmp_path / "fresh2")
    write_ngram_state(
        spark, _corpus(spark, FINAL + [(60, "late arrival doc")]), fresh2,
        n=3, nbuckets=8, doc_buckets=4,
    )
    got2 = {tuple(r) for r in read_ngram_counts(spark, state).collect()}
    want2 = {tuple(r) for r in read_ngram_counts(spark, fresh2).collect()}
    assert got2 == want2

    run_stream()  # restart, no new data: checkpoint + markers => no-op
    assert {tuple(r) for r in read_ngram_counts(spark, state).collect()} == want2


# ----------------------------------------------------------- ivfadc mor


def test_ivfpq_mor_probe_matches_rebuild(spark, tmp_path, vecs):
    """IVFADC under mor: upserted rows get PQ codes stamped by the applier,
    deletes tombstone, and the ADC shortlist + exact re-rank probe equals
    a fresh IVFADC rebuild over the post-changelog corpus."""
    from siddhi_io_cdc_spark.functions.similarity import (
        probe_ivfpq_index,
        write_ivfpq_index,
    )

    emb = spark.createDataFrame(vecs, "vec_id LONG, embedding ARRAY<FLOAT>")
    idx, fresh = str(tmp_path / "pq"), str(tmp_path / "pqf")
    write_ivfpq_index(emb, idx, nlist=6, pq_m=4, pq_k=8, seed=42)
    rows = (
        [(i, [-x for x in vecs[i][1]], "update", 10 + i) for i in range(8)]
        + [(i, None, "delete", 30 + i) for i in range(8, 12)]
        + [(300 + j, [x * 0.5 for x in vecs[j][1]], "insert", 50 + j) for j in range(4)]
    )
    batch = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>, operation STRING, ts_ms LONG"
    )
    apply_changelog_ivf(spark, idx, batch, batch_id=0)

    final = [
        (i, [-x for x in v]) if i < 8 else (i, v)
        for i, v in vecs
        if i not in range(8, 12)
    ] + [(300 + j, [x * 0.5 for x in vecs[j][1]]) for j in range(4)]
    write_ivfpq_index(
        spark.createDataFrame(final, "vec_id LONG, embedding ARRAY<FLOAT>"),
        fresh, nlist=6, pq_m=4, pq_k=8, seed=42,
    )
    q = vecs[3][1]
    want = [tuple(r) for r in probe_ivfpq_index(spark, fresh, q, k=8, nprobe=3).collect()]
    got = [tuple(r) for r in probe_ivfpq_index(spark, idx, q, k=8, nprobe=3).collect()]
    assert got == want


def test_mor_compaction_of_fully_emptied_table(spark, tmp_path):
    """Deleting every document then compacting must leave a readable
    (schema-bearing) empty base — and the state must accept new inserts
    afterwards. A partitioned write of an empty live view produces no
    data files, which would otherwise break schema inference on read."""
    state = str(tmp_path / "mor")
    seed = DOCS[:4]
    write_ngram_state(
        spark, _corpus(spark, seed), state, n=3, nbuckets=8, doc_buckets=4,
    )
    wipe = spark.createDataFrame(
        [(i, None, t, "delete", 10 + i) for i, t in seed], SCHEMA
    )
    apply_changelog_ngram(spark, wipe, state, batch_id=0)
    assert mor_compact(spark, state)
    assert read_ngram_counts(spark, state).count() == 0
    assert mor_live(spark, state, "docs").count() == 0

    refill = spark.createDataFrame(
        [(100, "fresh after wipe text", None, "insert", 50)], SCHEMA
    )
    apply_changelog_ngram(spark, refill, state, batch_id=1)
    fresh = str(tmp_path / "fresh")
    write_ngram_state(
        spark, _corpus(spark, [(100, "fresh after wipe text")]), fresh,
        n=3, nbuckets=8, doc_buckets=4,
    )
    got = {tuple(r) for r in read_ngram_counts(spark, state).collect()}
    want = {tuple(r) for r in read_ngram_counts(spark, fresh).collect()}
    assert got == want


def test_mor_compact_writes_one_file_per_partition(spark, tmp_path):
    """A major compaction writes each base partition as one file, also
    with AQE's partition coalescing off: a plain partitioned write of the
    live view (base scan ∪ delta scan) leaves a file per scan task per
    partition."""
    import glob
    import os

    from siddhi_io_cdc_spark.streaming.mor import mor_append, mor_begin_apply, mor_init

    state = str(tmp_path / "mor")
    schema = "id LONG, p INT, v STRING"
    base = spark.createDataFrame([(i, i % 4, f"v{i}") for i in range(40)], schema)
    base.repartition(1).write.partitionBy("p").parquet(state + "/t")
    mor_init(spark, state, {"t": {"id_col": "id", "part_col": "p"}})
    batch = spark.createDataFrame(
        [(i, i % 4, f"w{i}") for i in range(0, 80, 3)], schema
    ).repartition(4)
    seq, epoch = mor_begin_apply(spark, state)
    mor_append(spark, state, "t", batch, batch.select("id"), seq, epoch=epoch)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    try:
        assert mor_compact(spark, state)
    finally:
        spark.conf.set(key, "true")
    parts = glob.glob(state + "/t__v1/p=*")
    assert len(parts) == 4
    for d in parts:
        assert len(glob.glob(f"{d}/*.parquet")) == 1, os.listdir(d)
    want = {i: f"v{i}" for i in range(40)}
    want.update({i: f"w{i}" for i in range(0, 80, 3)})
    assert {r.id: r.v for r in mor_live(spark, state, "t").collect()} == want


def test_bm25_mor_stats_fold_crash_window(spark, tmp_path):
    """compact_bm25_index folds pending stats deltas into the cache BEFORE
    the pointer swap deletes the delta dirs. Simulate a crash between the
    two steps: the folded cache (through_seq = pending horizon) with the
    extras still on disk must read exactly right (no double-add), and a
    later retry of the compaction must leave the same scalars."""
    import json as _json

    from siddhi_io_cdc_spark.functions.similarity import (
        _hadoop_read_text,
        _hadoop_write_text,
    )

    idx = str(tmp_path / "bm25")
    write_bm25_index(
        spark, _corpus(spark, DOCS), idx, nbuckets=8, doc_buckets=4,
    )
    apply_changelog_bm25(
        spark, idx, spark.createDataFrame(CHANGELOG, SCHEMA), batch_id=0
    )
    true_stats = read_bm25_stats(spark, idx)

    # the fold step alone (what a crash right after it leaves behind)
    n, t = read_bm25_stats(spark, idx)
    _hadoop_write_text(
        spark, idx + "/_stats.json",
        f'{{"n_docs": {n}, "total_tokens": {t}, "through_seq": 1}}',
    )
    assert read_bm25_stats(spark, idx) == true_stats  # extras not re-added

    # retrying the compaction converges to the same scalars
    assert compact_bm25_index(spark, idx)
    assert read_bm25_stats(spark, idx) == true_stats
    cached = _json.loads(_hadoop_read_text(spark, idx + "/_stats.json"))
    assert cached["through_seq"] == 1


def test_bm25_mor_autocompact_keeps_stats_exact(spark, tmp_path):
    idx = str(tmp_path / "bm25")
    write_bm25_index(
        spark, _corpus(spark, DOCS), idx, nbuckets=8, doc_buckets=4,
        compact_every=2,
    )
    b1 = spark.createDataFrame([(70, "first new doc here", None, "insert", 1)], SCHEMA)
    b2 = spark.createDataFrame([(71, "second new doc", None, "insert", 2)], SCHEMA)
    apply_changelog_bm25(spark, idx, b1, batch_id=0)
    apply_changelog_bm25(spark, idx, b2, batch_id=1)  # triggers autocompact
    assert mor_pending_seqs(spark, idx) == []
    final = DOCS + [(70, "first new doc here"), (71, "second new doc")]
    n, t = read_bm25_stats(spark, idx)
    assert n == len(final)
    assert t == sum(len(x.split()) for _, x in final)


def test_ivf_assign_numpy_matches_hof_and_probe(spark, tmp_path, vecs):
    """The BLAS build-time assignment engine must agree with the HOF
    (same argmax, lowest-index ties) and a numpy-built index must probe
    identically to an sql-built one."""
    from siddhi_io_cdc_spark.functions.similarity import (
        ivf_assign,
        ivf_assign_numpy,
        ivf_centroids,
    )

    emb = spark.createDataFrame(vecs, "vec_id LONG, embedding ARRAY<FLOAT>")
    cents = ivf_centroids(8, nlist=7, seed=42)
    hof = {
        r.vec_id: r.cell
        for r in emb.withColumn(
            "cell", ivf_assign(F.col("embedding"), cents)
        ).collect()
    }
    blas = {r.vec_id: r.cell for r in ivf_assign_numpy(emb, cents).collect()}
    assert hof == blas

    a, b = str(tmp_path / "np"), str(tmp_path / "sql")
    write_ivf_index(emb, a, nlist=7, seed=42, assign_engine="numpy")
    write_ivf_index(emb, b, nlist=7, seed=42)
    q = vecs[5][1]
    got = [tuple(r) for r in probe_ivf_index(spark, a, q, k=10, nprobe=3).collect()]
    want = [tuple(r) for r in probe_ivf_index(spark, b, q, k=10, nprobe=3).collect()]
    assert got == want


def test_semantic_dedup_blas_assignment_same_keepset(spark, vecs):
    """assign_engine='numpy' must not change the SemDeDup result — same
    cells (modulo 1-ulp ties absent on real data), same pairs, same
    survivors."""
    from siddhi_io_cdc_spark.functions.dedup import semantic_dedup
    from siddhi_io_cdc_spark.functions.similarity import ivf_centroids

    emb = spark.createDataFrame(
        [(i, v, 0) for i, v in vecs], "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    )
    clone = emb.where(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(clone)
    cents = ivf_centroids(8, nlist=5, seed=42)
    a = {r.vec_id for r in semantic_dedup(
        corpus, cents, tau=0.99, engine="numpy", assign_engine="numpy"
    ).select("vec_id").collect()}
    b = {r.vec_id for r in semantic_dedup(
        corpus, cents, tau=0.99, engine="numpy"
    ).select("vec_id").collect()}
    assert a == b
    assert len(a) == emb.count()  # one survivor per clone pair


def test_ngram_mor_string_doc_ids(spark, tmp_path):
    """MOR keys are engine-agnostic: string doc ids tombstone and upsert
    exactly like longs (xxhash64 bucketing and the tombstone join both
    take the column as-is)."""
    docs = [(f"doc-{i}", t) for i, t in DOCS[:8]]
    corpus = spark.createDataFrame(docs, "doc_id STRING, text STRING")
    state, fresh = str(tmp_path / "mor"), str(tmp_path / "fresh")
    write_ngram_state(
        spark, corpus, state, n=3, nbuckets=8, doc_buckets=4
    )
    batch = spark.createDataFrame(
        [("doc-2", "replacement text row", "update", 1),
         ("doc-3", None, "delete", 2),
         ("doc-99", "a brand new doc", "insert", 3)],
        "doc_id STRING, text STRING, operation STRING, ts_ms LONG",
    )
    apply_changelog_ngram(spark, batch, state, batch_id=0)
    final = [(k, t) for k, t in docs if k not in ("doc-2", "doc-3")] + [
        ("doc-2", "replacement text row"), ("doc-99", "a brand new doc")
    ]
    write_ngram_state(
        spark, spark.createDataFrame(final, "doc_id STRING, text STRING"),
        fresh, n=3, nbuckets=8, doc_buckets=4,
    )
    got = {tuple(r) for r in read_ngram_counts(spark, state).collect()}
    want = {tuple(r) for r in read_ngram_counts(spark, fresh).collect()}
    assert got == want


def test_ivfpq_assign_numpy_matches_sql(spark, tmp_path, vecs):
    """The one-pass BLAS IVFADC assignment (coarse cell + PQ codes) must
    agree with the interpreted ivf_assign/pq_assign pair, and a
    numpy-built IVFADC index must probe identically."""
    from siddhi_io_cdc_spark.functions.similarity import (
        ivf_assign,
        ivf_centroids,
        ivfpq_assign_numpy,
        pq_assign,
        pq_codebooks,
        probe_ivfpq_index,
        write_ivfpq_index,
    )

    emb = spark.createDataFrame(vecs, "vec_id LONG, embedding ARRAY<FLOAT>")
    cents = ivf_centroids(8, nlist=5, seed=42)
    books = pq_codebooks(8, m=4, k=8, seed=42)
    hof = {
        r.vec_id: (r.cell, tuple(r.pq_code))
        for r in emb.withColumn("cell", ivf_assign(F.col("embedding"), cents))
        .withColumn("pq_code", pq_assign(F.col("embedding"), books))
        .collect()
    }
    blas = {
        r.vec_id: (r.cell, tuple(r.pq_code))
        for r in ivfpq_assign_numpy(emb, cents, books).collect()
    }
    assert hof == blas

    a, b = str(tmp_path / "np"), str(tmp_path / "sql")
    write_ivfpq_index(emb, a, nlist=5, pq_m=4, pq_k=8, seed=42,
                      assign_engine="numpy")
    write_ivfpq_index(emb, b, nlist=5, pq_m=4, pq_k=8, seed=42)
    q = vecs[5][1]
    got = [tuple(r) for r in probe_ivfpq_index(spark, a, q, k=8, nprobe=3).collect()]
    want = [tuple(r) for r in probe_ivfpq_index(spark, b, q, k=8, nprobe=3).collect()]
    assert got == want


def test_ngram_mor_without_batch_id_allocates_next_seq(spark, tmp_path):
    """batch_id=None (ad-hoc batch application, no marker): sequences come
    from next_seq and consecutive applies still stack correctly."""
    state, fresh = str(tmp_path / "mor"), str(tmp_path / "fresh")
    write_ngram_state(
        spark, _corpus(spark, DOCS[:6]), state, n=3, nbuckets=8,
        doc_buckets=4,
    )
    b1 = spark.createDataFrame(
        [(50, "first ad hoc doc", None, "insert", 1)], SCHEMA
    )
    b2 = spark.createDataFrame(
        [(50, "rewritten ad hoc doc", None, "update", 2)], SCHEMA
    )
    apply_changelog_ngram(spark, b1, state)   # no batch_id
    apply_changelog_ngram(spark, b2, state)   # must land at a later seq
    final = DOCS[:6] + [(50, "rewritten ad hoc doc")]
    write_ngram_state(
        spark, _corpus(spark, final), fresh, n=3, nbuckets=8, doc_buckets=4
    )
    got = {tuple(r) for r in read_ngram_counts(spark, state).collect()}
    want = {tuple(r) for r in read_ngram_counts(spark, fresh).collect()}
    assert got == want

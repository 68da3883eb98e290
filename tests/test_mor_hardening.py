"""Round-13 MOR hardening: writer fencing, collision-free sequence
allocation across mixed apply styles, the mor_live schema-drift guard,
the full GC sweep, and the BM25 insert-only/no-before-column path.

These pin the operational story the r12 review flagged: every failure
mode that previously corrupted state SILENTLY (second writer, ad-hoc +
streamed seq collision, drifted delta schema, orphaned seq dirs) now
either converges or fails LOUDLY.
"""

import os

import pytest
from pyspark.sql import functions as F

from siddhi_io_cdc_spark.functions.retrieval import bm25_topk
from siddhi_io_cdc_spark.streaming.bm25_index import (
    apply_changelog_bm25,
    bm25_topk_indexed,
    read_bm25_stats,
    write_bm25_index,
)
from siddhi_io_cdc_spark.streaming.mor import (
    MorWriterFenced,
    mor_append,
    mor_begin_apply,
    mor_compact,
    mor_init,
    mor_live,
    mor_pending_seqs,
    mor_take_writer,
    next_seq,
)
from siddhi_io_cdc_spark.streaming.ngram_lm import (
    apply_changelog_ngram,
    read_ngram_counts,
    write_ngram_state,
)

DOCS = [
    (i, " ".join(f"tok{(i * 7 + j) % 13}" for j in range(8))) for i in range(20)
]
SCHEMA = "doc_id LONG, text STRING, before_text STRING, operation STRING, ts_ms LONG"


def _corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def _plain_state(spark, tmp_path):
    """A bare one-table MOR state (id, part bucket b, value v)."""
    root = str(tmp_path / "plain")
    spark.createDataFrame(
        [(i, i % 4, f"v{i}") for i in range(8)], "id LONG, b INT, v STRING"
    ).write.partitionBy("b").parquet(root + "/t")
    mor_init(spark, root, {"t": {"id_col": "id", "part_col": "b"}})
    return root


def _rows(spark, items):
    return spark.createDataFrame(items, "id LONG, b INT, v STRING")


def _ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id LONG")


# ------------------------------------------------------- seq allocation


def test_adhoc_then_streamed_apply_do_not_collide(spark, tmp_path):
    """The r12 finding: after streamed batches 0..k, an ad-hoc apply used
    to land at seq k+2 and streamed batch k+1 then OVERWROTE it silently.
    Allocation is now persisted (high_water + batch_seqs), so the late
    streamed batch slides past the ad-hoc seq and every row survives."""
    state, fresh = str(tmp_path / "mor"), str(tmp_path / "fresh")
    write_ngram_state(
        spark, _corpus(spark, DOCS), state, n=3, nbuckets=8, doc_buckets=4,
        compact_every=0,
    )
    b0 = spark.createDataFrame([(30, "aa bb cc dd", None, "insert", 1)], SCHEMA)
    adhoc = spark.createDataFrame([(31, "ee ff gg hh", None, "insert", 2)], SCHEMA)
    b1 = spark.createDataFrame([(32, "ii jj kk ll", None, "insert", 3)], SCHEMA)
    apply_changelog_ngram(spark, b0, state, batch_id=0)  # seq 1
    apply_changelog_ngram(spark, adhoc, state, batch_id=None)  # seq 2
    apply_changelog_ngram(spark, b1, state, batch_id=1)  # must NOT reuse 2
    assert mor_pending_seqs(spark, state) == [1, 2, 3]
    final = DOCS + [(30, "aa bb cc dd"), (31, "ee ff gg hh"), (32, "ii jj kk ll")]
    write_ngram_state(
        spark, _corpus(spark, final), fresh, n=3, nbuckets=8, doc_buckets=4
    )
    got = {tuple(r) for r in read_ngram_counts(spark, state).collect()}
    want = {tuple(r) for r in read_ngram_counts(spark, fresh).collect()}
    assert got == want


def test_streamed_replay_reuses_recorded_seq(spark, tmp_path):
    """Crash-and-replay of batch id k (marker lost) must overwrite the SAME
    __seq dir even after an ad-hoc apply bumped the high water — the
    batch_seqs map, not arrival order, owns the mapping."""
    state = str(tmp_path / "mor")
    write_ngram_state(
        spark, _corpus(spark, DOCS), state, n=3, nbuckets=8, doc_buckets=4,
        compact_every=0,
    )
    b0 = spark.createDataFrame([(30, "aa bb cc dd", None, "insert", 1)], SCHEMA)
    apply_changelog_ngram(spark, b0, state, batch_id=0)
    adhoc = spark.createDataFrame([(31, "ee ff gg hh", None, "insert", 2)], SCHEMA)
    apply_changelog_ngram(spark, adhoc, state, batch_id=None)
    before = {tuple(r) for r in read_ngram_counts(spark, state).collect()}
    # simulate a crash that lost the commit marker, then engine replay
    os.remove(os.path.join(state, "_batches", "0"))
    apply_changelog_ngram(spark, b0, state, batch_id=0)
    assert mor_pending_seqs(spark, state) == [1, 2]  # no third dir
    after = {tuple(r) for r in read_ngram_counts(spark, state).collect()}
    assert after == before  # byte-idempotent replay


def test_next_seq_is_a_pure_preview(spark, tmp_path):
    root = _plain_state(spark, tmp_path)
    assert next_seq(spark, root) == 1
    assert next_seq(spark, root) == 1  # no allocation side effect
    seq, epoch = mor_begin_apply(spark, root, batch_id=None)
    assert seq == 1
    mor_append(spark, root, "t", _rows(spark, [(100, 0, "x")]),
               _ids(spark, [100]), seq, epoch=epoch)
    assert next_seq(spark, root) == 2  # above the persisted high water


# ------------------------------------------------------- writer fencing


def test_append_fenced_by_second_writer(spark, tmp_path):
    root = _plain_state(spark, tmp_path)
    seq, epoch = mor_begin_apply(spark, root, batch_id=0)
    mor_take_writer(spark, root)  # a second maintainer claims the state
    with pytest.raises(MorWriterFenced, match="writer epoch moved"):
        mor_append(spark, root, "t", _rows(spark, [(100, 0, "x")]),
                   _ids(spark, [100]), seq, epoch=epoch)


def test_compact_fenced_by_second_writer(spark, tmp_path):
    root = _plain_state(spark, tmp_path)
    seq, epoch = mor_begin_apply(spark, root, batch_id=0)
    mor_append(spark, root, "t", _rows(spark, [(100, 0, "x")]),
               _ids(spark, [100]), seq, epoch=epoch)
    mor_take_writer(spark, root)
    with pytest.raises(MorWriterFenced):
        mor_compact(spark, root, epoch=epoch)
    # the state is still intact and compactable by the NEW writer
    assert mor_compact(spark, root)
    live = {r.id for r in mor_live(spark, root, "t").select("id").collect()}
    assert 100 in live and len(live) == 9


def test_out_of_band_compact_fences_running_maintainer(spark, tmp_path):
    """The exact r12 scenario: an ops-run mor_compact racing a maintainer.
    The compaction claims writership, so the maintainer's in-flight batch
    fails loudly at its next append instead of its delta being silently
    folded/stranded."""
    root = _plain_state(spark, tmp_path)
    seq, epoch = mor_begin_apply(spark, root, batch_id=0)
    mor_append(spark, root, "t", _rows(spark, [(100, 0, "x")]),
               _ids(spark, [100]), seq, epoch=epoch)
    mor_compact(spark, root)  # out-of-band: claims writership itself
    with pytest.raises(MorWriterFenced):
        mor_append(spark, root, "t", _rows(spark, [(101, 1, "y")]),
                   _ids(spark, [101]), seq + 1, epoch=epoch)


def test_allocation_after_compaction_stays_above_horizon(spark, tmp_path):
    root = _plain_state(spark, tmp_path)
    for i in range(3):
        seq, epoch = mor_begin_apply(spark, root, batch_id=i)
        assert seq == i + 1
        mor_append(spark, root, "t", _rows(spark, [(100 + i, 0, "x")]),
                   _ids(spark, [100 + i]), seq, epoch=epoch)
    mor_compact(spark, root)  # horizon = 3, batch_seqs pruned
    seq, epoch = mor_begin_apply(spark, root, batch_id=3)
    assert seq == 4
    seq2, epoch2 = mor_begin_apply(spark, root, batch_id=None)
    assert seq2 == 5


# ------------------------------------------------------- schema guard


def test_mor_live_raises_on_delta_schema_drift(spark, tmp_path):
    root = _plain_state(spark, tmp_path)
    drifted = spark.createDataFrame(
        [(200, 0, "x", 1.5)], "id LONG, b INT, v STRING, extra DOUBLE"
    )
    seq, epoch = mor_begin_apply(spark, root, batch_id=None)
    mor_append(spark, root, "t", drifted, _ids(spark, [200]), seq, epoch=epoch)
    with pytest.raises(ValueError, match="drifted from base"):
        mor_live(spark, root, "t").collect()


# ------------------------------------------------------- GC sweep


def _apply_one(spark, root, batch_id, row):
    seq, epoch = mor_begin_apply(spark, root, batch_id=batch_id)
    mor_append(spark, root, "t", _rows(spark, [row]),
               _ids(spark, [row[0]]), seq, epoch=epoch)


def test_compact_gc_deferred_one_cycle_then_swept(spark, tmp_path):
    """Major-compaction GC is DEFERRED one cycle (reader snapshot
    isolation): the superseded base and seq dirs stay on disk, invisible
    to new readers, and the NEXT compaction deletes them. A stray seq dir
    at or below the horizon that the deferred list does not track (a
    pre-deferral state, or a failed delete) is re-enumerated by the sweep
    and collected one cycle after that — nothing is re-listed forever."""
    root = _plain_state(spark, tmp_path)
    _apply_one(spark, root, 0, (100, 0, "x"))
    assert mor_compact(spark, root)  # horizon = 1
    old_base = os.path.join(root, "t")
    old_delta = os.path.join(root, "_delta", "t", "__seq=1")
    assert os.path.exists(old_base) and os.path.exists(old_delta)  # retained
    assert mor_pending_seqs(spark, root) == []  # but invisible to readers
    _apply_one(spark, root, 1, (101, 1, "y"))
    assert mor_compact(spark, root)  # deletes the previous cycle's garbage
    assert not os.path.exists(old_base) and not os.path.exists(old_delta)
    # stray committed dir <= horizon, unknown to gc_deferred
    stray = os.path.join(root, "_delta", "t", "__seq=1")
    _rows(spark, [(999, 0, "stale")]).write.partitionBy("b").parquet(stray)
    assert mor_pending_seqs(spark, root) == []  # ignored by readers
    _apply_one(spark, root, 2, (102, 2, "z"))
    assert mor_compact(spark, root)  # the sweep re-enumerates + defers it
    assert os.path.exists(stray)
    _apply_one(spark, root, 3, (103, 3, "w"))
    assert mor_compact(spark, root)
    assert not os.path.exists(stray)  # swept, not re-listed forever
    live = {r.id for r in mor_live(spark, root, "t").select("id").collect()}
    assert 999 not in live and {100, 101, 102, 103} <= live


def test_reader_snapshot_isolation_across_major_compaction(spark, tmp_path):
    """The r13 review's standing gap: a probe plan built just before a
    major compaction references the old base + delta dirs; the swap must
    not yank them mid-job. With one-cycle deferred GC the old plan both
    executes cleanly and returns the pre-compaction-correct view."""
    root = _plain_state(spark, tmp_path)
    _apply_one(spark, root, 0, (100, 0, "x"))
    before = mor_live(spark, root, "t")  # plan bound to pre-swap dirs
    expect = {(r.id, r.v) for r in before.collect()}
    assert mor_compact(spark, root)
    # the OLD plan still executes after the swap (dirs retained one cycle)
    assert {(r.id, r.v) for r in before.collect()} == expect
    # and across a MINOR fold: plan bound to the pre-fold source dirs
    _apply_one(spark, root, 1, (101, 1, "y"))
    _apply_one(spark, root, 2, (102, 2, "z"))
    from siddhi_io_cdc_spark.streaming.mor import mor_minor_compact

    pre_fold = mor_live(spark, root, "t")
    expect = {(r.id, r.v) for r in pre_fold.collect()}
    assert mor_minor_compact(spark, root)
    assert {(r.id, r.v) for r in pre_fold.collect()} == expect
    assert {(r.id, r.v) for r in mor_live(spark, root, "t").collect()} == expect


# ------------------------------------------------------- bm25 insert-only


def test_bm25_mor_insert_only_batch_without_before_column(spark, tmp_path):
    """require_before_images allows a missing before_<text> column when the
    batch carries no movers; the stats delta must then treat tok_before as
    0 instead of selecting the absent column (r12 ADVICE medium #1)."""
    idx = str(tmp_path / "bm25")
    write_bm25_index(
        spark, _corpus(spark, DOCS), idx, nbuckets=8, doc_buckets=4,
    )
    batch = spark.createDataFrame(
        [
            (40, "fresh document forty", "insert", 1),
            (41, "another fresh one here", "insert", 2),
        ],
        "doc_id LONG, text STRING, operation STRING, ts_ms LONG",
    )
    apply_changelog_bm25(spark, idx, batch, batch_id=0)
    final = DOCS + [(40, "fresh document forty"), (41, "another fresh one here")]
    n, t = read_bm25_stats(spark, idx)
    assert n == len(final)
    assert t == sum(len(x.split()) for _, x in final)
    terms = ["tok3", "fresh"]
    want = [tuple(r) for r in bm25_topk(_corpus(spark, final), terms, k=8).collect()]
    got = [tuple(r) for r in bm25_topk_indexed(spark, idx, terms, k=8).collect()]
    assert got == want


# ------------------------------------------------------- numpy schema


def test_assign_numpy_handles_awkward_column_names(spark):
    """The mapInPandas output schema is built structurally — a column name
    needing backquoting (spaces, colons, commas) used to break the
    simpleString round-trip (r12 ADVICE low #2)."""
    from siddhi_io_cdc_spark.functions.similarity import (
        ivf_assign,
        ivf_assign_numpy,
        ivf_centroids,
        ivfpq_assign_numpy,
        pq_codebooks,
    )

    rows = [(i, f"m{i}", [float((i * 3 + j) % 5) - 2.0 for j in range(8)])
            for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id LONG, meta STRING, embedding ARRAY<DOUBLE>") \
        .withColumnRenamed("meta", "doc source, kind:meta")
    cents = ivf_centroids(8, nlist=4)
    got = ivf_assign_numpy(df, cents)
    assert "doc source, kind:meta" in got.columns
    blas = {r.vec_id: r.cell for r in got.collect()}
    hof = {
        r.vec_id: r.cell
        for r in df.withColumn("cell", ivf_assign(F.col("embedding"), cents)).collect()
    }
    assert blas == hof
    books = pq_codebooks(dim=8, m=2, k=4)
    pq = ivfpq_assign_numpy(df, cents, books)
    assert {"cell", "pq_code", "doc source, kind:meta"} <= set(pq.columns)
    assert pq.count() == 20


# ------------------------------------------------------- minor compaction


def _apply_plain(spark, root, items, tomb, batch_id=None):
    seq, epoch = mor_begin_apply(spark, root, batch_id)
    mor_append(spark, root, "t", _rows(spark, items), _ids(spark, tomb),
               seq, epoch=epoch)
    return seq


def _live_set(spark, root):
    return {tuple(r) for r in mor_live(spark, root, "t").collect()}


def test_minor_compact_preserves_live_view(spark, tmp_path):
    """Fold-to-one-delta must be invisible to readers: same live view,
    same base version (no corpus rewrite), pending collapsed to the fold
    seq."""
    from siddhi_io_cdc_spark.streaming.mor import (
        _read_mor,
        mor_minor_compact,
    )

    root = _plain_state(spark, tmp_path)
    # update id 0 twice (intra-range chain), delete id 1, insert 100/101
    _apply_plain(spark, root, [(0, 0, "v0a")], [0], batch_id=0)
    _apply_plain(spark, root, [(100, 2, "new")], [100, 1], batch_id=1)
    _apply_plain(spark, root, [(0, 0, "v0b"), (101, 3, "n2")], [0, 101],
                 batch_id=2)
    before = _live_set(spark, root)
    ver0 = _read_mor(spark, root)["base_version"]
    assert mor_minor_compact(spark, root)
    assert _live_set(spark, root) == before
    meta = _read_mor(spark, root)
    assert meta["base_version"] == ver0  # no base rewrite
    pend = mor_pending_seqs(spark, root)
    assert len(pend) == 1 and pend[0] == meta["fold"]["seq"]
    # the folded view must carry the CHAIN-FINAL value for id 0 and no
    # resurrected id 1
    vals = {
        r["id"]: r["v"] for r in mor_live(spark, root, "t").collect()
    }
    assert vals[0] == "v0b" and 1 not in vals


def test_minor_then_major_equals_rebuild(spark, tmp_path):
    from siddhi_io_cdc_spark.streaming.mor import mor_minor_compact

    state, fresh = str(tmp_path / "mor"), str(tmp_path / "fresh")
    write_ngram_state(
        spark, _corpus(spark, DOCS), state, n=3, nbuckets=8, doc_buckets=4,
        compact_every=0,
    )
    b0 = spark.createDataFrame(
        [(5, "aa bb cc dd ee", DOCS[5][1], "update", 10)], SCHEMA
    )
    b1 = spark.createDataFrame([(6, None, DOCS[6][1], "delete", 11)], SCHEMA)
    apply_changelog_ngram(spark, b0, state, batch_id=0)
    apply_changelog_ngram(spark, b1, state, batch_id=1)
    assert mor_minor_compact(spark, state)
    # post-fold applies land above the fold seq and still serve correctly
    b2 = spark.createDataFrame([(30, "xx yy zz ww", None, "insert", 12)], SCHEMA)
    apply_changelog_ngram(spark, b2, state, batch_id=2)
    final = [(i, t) for i, t in DOCS if i not in (5, 6)] + [
        (5, "aa bb cc dd ee"), (30, "xx yy zz ww"),
    ]
    write_ngram_state(
        spark, _corpus(spark, final), fresh, n=3, nbuckets=8, doc_buckets=4
    )
    got = {tuple(r) for r in read_ngram_counts(spark, state).collect()}
    want = {tuple(r) for r in read_ngram_counts(spark, fresh).collect()}
    assert got == want
    # and a major compaction absorbs the fold cleanly
    assert mor_compact(spark, state)
    from siddhi_io_cdc_spark.streaming.mor import _read_mor

    assert "fold" not in _read_mor(spark, state)
    got = {tuple(r) for r in read_ngram_counts(spark, state).collect()}
    assert got == want


def test_minor_compact_refuses_unabsorbed_extras(spark, tmp_path):
    from siddhi_io_cdc_spark.streaming.mor import mor_minor_compact

    root = _plain_state(spark, tmp_path)
    seq, epoch = mor_begin_apply(spark, root, batch_id=0)
    mor_append(spark, root, "t", _rows(spark, [(100, 0, "x")]),
               _ids(spark, [100]), seq, extra_json={"dn": 1}, epoch=epoch)
    _apply_plain(spark, root, [(101, 1, "y")], [101], batch_id=1)
    with pytest.raises(ValueError, match="_extra.json"):
        mor_minor_compact(spark, root)
    # the derived-cache-aware caller passes allow_drop_extras
    assert mor_minor_compact(spark, root, allow_drop_extras=True)


def test_bm25_minor_compact_stats_and_probe(spark, tmp_path):
    from siddhi_io_cdc_spark.streaming.bm25_index import (
        minor_compact_bm25_index,
    )

    idx = str(tmp_path / "bm25")
    write_bm25_index(
        spark, _corpus(spark, DOCS), idx, nbuckets=8, doc_buckets=4,
        compact_every=0,
    )
    ch1 = spark.createDataFrame(
        [(5, "aa bb cc dd ee", DOCS[5][1], "update", 10)], SCHEMA
    )
    ch2 = spark.createDataFrame([(6, None, DOCS[6][1], "delete", 11)], SCHEMA)
    apply_changelog_bm25(spark, idx, ch1, batch_id=0)
    apply_changelog_bm25(spark, idx, ch2, batch_id=1)
    before_stats = read_bm25_stats(spark, idx)
    assert minor_compact_bm25_index(spark, idx)
    assert read_bm25_stats(spark, idx) == before_stats  # folded, not lost
    final = [(i, t) for i, t in DOCS if i not in (5, 6)] + [
        (5, "aa bb cc dd ee")
    ]
    terms = ["tok3", "aa"]
    want = [tuple(r) for r in bm25_topk(_corpus(spark, final), terms, k=8).collect()]
    got = [tuple(r) for r in bm25_topk_indexed(spark, idx, terms, k=8).collect()]
    assert got == want
    # another apply + the MAJOR fold still land exactly
    ch3 = spark.createDataFrame([(31, "pp qq rr", None, "insert", 12)], SCHEMA)
    apply_changelog_bm25(spark, idx, ch3, batch_id=2)
    from siddhi_io_cdc_spark.streaming.bm25_index import compact_bm25_index

    assert compact_bm25_index(spark, idx)
    final = final + [(31, "pp qq rr")]
    want = [tuple(r) for r in bm25_topk(_corpus(spark, final), terms, k=8).collect()]
    got = [tuple(r) for r in bm25_topk_indexed(spark, idx, terms, k=8).collect()]
    assert got == want
    n, t = read_bm25_stats(spark, idx)
    assert n == len(final)
    assert t == sum(len(x.split()) for _, x in final)


def test_crashed_fold_is_invisible_and_collected(spark, tmp_path):
    """A fold that crashed between declare and commit leaves an ignored
    orphan dir; readers must not see it, and both the next minor fold and
    a major compaction must delete it rather than let the record's removal
    resurface it as pending."""
    import json

    from siddhi_io_cdc_spark.streaming.mor import (
        _read_mor,
        _write_mor,
        mor_minor_compact,
    )

    root = _plain_state(spark, tmp_path)
    _apply_plain(spark, root, [(100, 0, "x")], [100], batch_id=0)
    _apply_plain(spark, root, [(101, 1, "y")], [101], batch_id=1)
    before = _live_set(spark, root)
    # simulate the crash: declared-uncommitted fold + partial orphan dir
    meta = _read_mor(spark, root)
    orphan_seq = meta["high_water"] + 1
    meta["high_water"] = orphan_seq
    meta["fold"] = {"seq": orphan_seq, "covers": [1, 2], "committed": False}
    _write_mor(spark, root, meta)
    _rows(spark, [(999, 0, "partial")]).write.partitionBy("b").parquet(
        os.path.join(root, "_delta", "t", f"__seq={orphan_seq}")
    )
    assert mor_pending_seqs(spark, root) == [1, 2]  # orphan ignored
    assert _live_set(spark, root) == before
    # retry of the fold replaces the record AND deletes the orphan
    assert mor_minor_compact(spark, root)
    assert not os.path.exists(
        os.path.join(root, "_delta", "t", f"__seq={orphan_seq}")
    )
    assert _live_set(spark, root) == before
    assert mor_compact(spark, root)
    assert _live_set(spark, root) == before


def test_minor_compact_fenced_and_claims_writership(spark, tmp_path):
    from siddhi_io_cdc_spark.streaming.mor import mor_minor_compact

    root = _plain_state(spark, tmp_path)
    _apply_plain(spark, root, [(100, 0, "x")], [100], batch_id=0)
    _apply_plain(spark, root, [(101, 1, "y")], [101], batch_id=1)
    seq, epoch = mor_begin_apply(spark, root, batch_id=2)
    mor_take_writer(spark, root)
    with pytest.raises(MorWriterFenced):
        mor_minor_compact(spark, root, epoch=epoch)
    # ops path (no epoch) claims writership itself and fences the old one
    before = _live_set(spark, root)
    assert mor_minor_compact(spark, root)
    assert _live_set(spark, root) == before
    with pytest.raises(MorWriterFenced):
        mor_append(spark, root, "t", _rows(spark, [(102, 2, "z")]),
                   _ids(spark, [102]), seq, epoch=epoch)


# ------------------------------------------------------- auto minor cadence


def test_autocompact_minor_between_majors_ngram(spark, tmp_path):
    """minor_every folds pending deltas automatically between the (counted,
    not pending-derived) major compactions — the ingest-dominant wiring
    the round-13 compaction curve recommends."""
    from siddhi_io_cdc_spark.streaming.mor import _read_mor

    state, fresh = str(tmp_path / "mor"), str(tmp_path / "fresh")
    write_ngram_state(
        spark, _corpus(spark, DOCS), state, n=3, nbuckets=8, doc_buckets=4,
        compact_every=4, minor_every=2,
    )
    final = list(DOCS)
    for i in range(4):
        doc = (40 + i, f"body text number {i} alpha beta")
        batch = spark.createDataFrame(
            [(doc[0], doc[1], None, "insert", i)], SCHEMA
        )
        apply_changelog_ngram(spark, batch, state, batch_id=i)
        final.append(doc)
        meta = _read_mor(spark, state)
        if i < 3:
            assert meta["base_version"] == 0  # only minor folds so far
            assert len(mor_pending_seqs(spark, state)) <= 2
        else:
            # 4th apply hits compact_every: major fold, counter reset
            assert meta["base_version"] == 1
            assert meta["batches_since_compact"] == 0
            assert mor_pending_seqs(spark, state) == []
    write_ngram_state(
        spark, _corpus(spark, final), fresh, n=3, nbuckets=8, doc_buckets=4
    )
    got = {tuple(r) for r in read_ngram_counts(spark, state).collect()}
    want = {tuple(r) for r in read_ngram_counts(spark, fresh).collect()}
    assert got == want


def test_autocompact_minor_bm25_keeps_stats_exact(spark, tmp_path):
    idx = str(tmp_path / "bm25")
    write_bm25_index(
        spark, _corpus(spark, DOCS), idx, nbuckets=8, doc_buckets=4,
        compact_every=0, minor_every=2,
    )
    final = list(DOCS)
    for i in range(4):
        doc = (50 + i, f"fresh document {i} gamma delta")
        batch = spark.createDataFrame(
            [(doc[0], doc[1], None, "insert", i)], SCHEMA
        )
        apply_changelog_bm25(spark, idx, batch, batch_id=i)
        final.append(doc)
    # minor folds fired (pending never exceeds minor_every), stats exact
    assert len(mor_pending_seqs(spark, idx)) <= 2
    n, t = read_bm25_stats(spark, idx)
    assert n == len(final)
    assert t == sum(len(x.split()) for _, x in final)
    terms = ["tok3", "fresh"]
    want = [tuple(r) for r in bm25_topk(_corpus(spark, final), terms, k=8).collect()]
    got = [tuple(r) for r in bm25_topk_indexed(spark, idx, terms, k=8).collect()]
    assert got == want


def test_foreach_batch_stream_with_auto_minor_folds(spark, tmp_path):
    """Live stream into a mor state with minor_every set: engine batch ids
    advance through checkpointed micro-batches, minor folds fire in
    between, a restart replays nothing, and the served counts equal a
    fresh rebuild — the full recommended ingest wiring under real
    Structured Streaming."""
    from siddhi_io_cdc_spark.streaming.mor import _read_mor
    from siddhi_io_cdc_spark.streaming.ngram_lm import foreach_batch_ngram_lm

    state = str(tmp_path / "mor")
    write_ngram_state(
        spark, _corpus(spark, DOCS), state, n=3, nbuckets=8, doc_buckets=4,
        compact_every=64, minor_every=2,
    )
    src = str(tmp_path / "events")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")

    def run_stream():
        q = (
            spark.readStream.schema(SCHEMA.replace(", ", ","))
            .option("maxFilesPerTrigger", 1)  # several engine batch ids
            .parquet(src)
            .writeStream.foreachBatch(foreach_batch_ngram_lm(spark, state))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    final = list(DOCS)
    for i in range(4):
        doc = (70 + i, f"streamed doc {i} epsilon zeta")
        spark.createDataFrame(
            [(doc[0], doc[1], None, "insert", i)], SCHEMA
        ).write.mode("append").parquet(src)
        final.append(doc)
    run_stream()
    meta = _read_mor(spark, state)
    assert meta["base_version"] == 0  # no major fold in 4 batches
    assert len(mor_pending_seqs(spark, state)) <= 2  # minor folds fired
    fresh = str(tmp_path / "fresh")
    write_ngram_state(
        spark, _corpus(spark, final), fresh, n=3, nbuckets=8, doc_buckets=4
    )
    got = {tuple(r) for r in read_ngram_counts(spark, state).collect()}
    want = {tuple(r) for r in read_ngram_counts(spark, fresh).collect()}
    assert got == want
    run_stream()  # restart with no new data: markers + checkpoint => no-op
    got2 = {tuple(r) for r in read_ngram_counts(spark, state).collect()}
    assert got2 == want


def test_autocompact_minor_ivf_probe_exact(spark, tmp_path):
    import random

    from siddhi_io_cdc_spark.functions.similarity import (
        probe_ivf_index,
        write_ivf_index,
    )
    from siddhi_io_cdc_spark.streaming.ivf_index import apply_changelog_ivf

    rng = random.Random(11)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    emb = spark.createDataFrame(vecs, "vec_id LONG, embedding ARRAY<DOUBLE>")
    idx = str(tmp_path / "ivf")
    cents = write_ivf_index(
        emb, idx, nlist=6, seed=42,
        compact_every=0, minor_every=2, assign_engine="sql",
    )
    final = dict(vecs)
    for b in range(4):
        vid, v = 100 + b, [rng.uniform(-1, 1) for _ in range(8)]
        batch = spark.createDataFrame(
            [(vid, v, "insert", b)],
            "vec_id LONG, embedding ARRAY<DOUBLE>, operation STRING, ts_ms LONG",
        )
        apply_changelog_ivf(spark, idx, batch, batch_id=b)
        final[vid] = v
    assert len(mor_pending_seqs(spark, idx)) <= 2  # minor folds fired
    q = [0.3] * 8
    got = [tuple(r) for r in probe_ivf_index(spark, idx, q, k=5, nprobe=6).collect()]
    fresh = str(tmp_path / "fresh")
    write_ivf_index(
        spark.createDataFrame(list(final.items()), "vec_id LONG, embedding ARRAY<DOUBLE>"),
        fresh, nlist=6, seed=42, centroids=cents, assign_engine="sql",
    )
    want = [tuple(r) for r in probe_ivf_index(spark, fresh, q, k=5, nprobe=6).collect()]
    assert got == want


def test_adhoc_apply_crash_between_tables_heals_on_rerun(spark, tmp_path):
    """An ad-hoc apply (no batch id => no engine replay) that crashes
    between its per-table appends leaves table-inconsistent deltas at its
    seq. RE-RUNNING the apply allocates a fresh seq whose tombstones
    shadow every partial row by id, so the retry converges to the same
    state as a clean apply — the documented recovery procedure."""
    from siddhi_io_cdc_spark.streaming.mor import mor_allocate_seq

    state, fresh = str(tmp_path / "mor"), str(tmp_path / "fresh")
    write_ngram_state(
        spark, _corpus(spark, DOCS), state, n=3, nbuckets=8, doc_buckets=4,
        compact_every=0,
    )
    # simulate the crashed first attempt: ONLY the grams table got its
    # delta (the applier writes grams, then docs) — build the same rows
    # the applier would have written
    from siddhi_io_cdc_spark.streaming.ngram_lm import (
        GBUCKET_COL,
        _doc_gram_tf,
        _gbucket,
    )

    batch = spark.createDataFrame(
        [(5, "replacement text body five", DOCS[5][1], "update", 1),
         (6, None, DOCS[6][1], "delete", 2)],
        SCHEMA,
    )
    upserts = batch.where(F.col("operation") != "delete")
    partial_tf = _doc_gram_tf(upserts, 3, "doc_id", "text").withColumn(
        GBUCKET_COL, _gbucket(3, 8)
    )
    seq, epoch = mor_begin_apply(spark, state, batch_id=None)
    mor_append(
        spark, state, "grams", partial_tf,
        batch.select("doc_id").distinct(), seq, epoch=epoch,
    )
    # (crash here: docs table never got its delta/tombstones)

    # recovery: re-run the SAME ad-hoc apply through the applier
    apply_changelog_ngram(spark, batch, state, batch_id=None)
    final = [(i, t) for i, t in DOCS if i not in (5, 6)] + [
        (5, "replacement text body five")
    ]
    write_ngram_state(
        spark, _corpus(spark, final), fresh, n=3, nbuckets=8, doc_buckets=4
    )
    got = {tuple(r) for r in read_ngram_counts(spark, state).collect()}
    want = {tuple(r) for r in read_ngram_counts(spark, fresh).collect()}
    assert got == want
    # and a compaction folds the healed view cleanly
    assert mor_compact(spark, state)
    got2 = {tuple(r) for r in read_ngram_counts(spark, state).collect()}
    assert got2 == want


# ------------------------------------------- r14: fold GC ordering


def test_double_crash_fold_cannot_resurface_partial_rows(spark, tmp_path):
    """The r13 review's double-crash window. Fold A crashes mid-data
    (uncommitted record + a partial fold dir holding rows with NO
    tombstones yet); fold B then crashes right after its DECLARE replaced
    A's record. Under the old declare-then-GC order nothing any longer
    told readers to ignore A's partial dir, so its untombstoned rows
    resurfaced as live — silent duplicates a later major compaction would
    bake into the base. The GC-before-declare order deletes A's orphan
    BEFORE the record that ignores it goes away, so every interleaving
    stays exact. (Committed folds' source dirs are additionally protected
    by the fold's own tombstone union; the uncommitted partial dir is the
    provable corruption.)"""
    import json as _json

    import siddhi_io_cdc_spark.streaming.mor as mor_mod
    from siddhi_io_cdc_spark.streaming.mor import _read_mor, _write_mor

    root = _plain_state(spark, tmp_path)
    _apply_plain(spark, root, [(100, 0, "x")], [100], batch_id=0)
    _apply_plain(spark, root, [(101, 1, "y")], [101], batch_id=1)
    before = _live_set(spark, root)
    # fold A: declared, wrote a PARTIAL delta dir (no tombstones), crashed
    meta = _read_mor(spark, root)
    a_seq = meta["high_water"] + 1
    meta["high_water"] = a_seq
    meta["fold"] = {"seq": a_seq, "covers": [1, 2], "committed": False}
    _write_mor(spark, root, meta)
    _rows(spark, [(999, 0, "partial")]).write.partitionBy("b").parquet(
        os.path.join(root, "_delta", "t", f"__seq={a_seq}")
    )
    assert _live_set(spark, root) == before  # record A hides the orphan
    # fold B: crashes immediately after its declare replaces record A
    real = mor_mod._write_mor

    class Boom(RuntimeError):
        pass

    def crash_after_declare(spark_, root_, m):
        real(spark_, root_, m)
        if not m.get("fold", {}).get("committed", True):
            raise Boom()

    epoch = mor_mod.mor_take_writer(spark, root)
    mor_mod._write_mor = crash_after_declare
    try:
        import pytest as _pytest

        with _pytest.raises(Boom):
            mor_mod.mor_minor_compact(spark, root, epoch=epoch)
    finally:
        mor_mod._write_mor = real
    # the partial dir must be GONE (deleted before the declare), not
    # resurfaced as pending by the record replacement
    assert not os.path.exists(os.path.join(root, "_delta", "t", f"__seq={a_seq}"))
    assert _live_set(spark, root) == before
    assert 999 not in {r[0] for r in _live_set(spark, root)}
    # a retry fold and a major compaction both converge on the same view
    assert mor_mod.mor_minor_compact(spark, root)
    assert _live_set(spark, root) == before
    _apply_plain(spark, root, [(102, 2, "z")], [102], batch_id=2)
    assert mor_compact(spark, root)
    # parquet partition columns read back last: rows are (id, v, b)
    assert _live_set(spark, root) == before | {(102, "z", 2)}


def test_fold_covered_streamed_batch_replays_above_fold(spark, tmp_path):
    """r13 ADVICE: a streamed batch that crashed before its marker, whose
    seq an out-of-band minor fold then covered, must NOT get its recorded
    (now reader-ignored) seq back on replay. The fold prunes the covered
    batch_seqs entries, so the replay re-allocates above the fold seq and
    its tombstones shadow the folded partial rows — no silent data loss."""
    from siddhi_io_cdc_spark.streaming.mor import _read_mor, mor_minor_compact

    root = _plain_state(spark, tmp_path)
    _apply_plain(spark, root, [(100, 0, "x1")], [100], batch_id=0)  # seq 1
    _apply_plain(spark, root, [(101, 1, "y")], [101], batch_id=1)   # seq 2
    # (batch 0's applier-level marker never landed — engine will replay it)
    assert mor_minor_compact(spark, root)  # folds seqs 1,2 -> fold seq 3
    meta = _read_mor(spark, root)
    assert meta["fold"]["committed"] and meta["batch_seqs"] == {}
    # engine replay of batch 0 — possibly with a LATER view of the row
    seq, epoch = mor_begin_apply(spark, root, batch_id=0)
    assert seq > meta["fold"]["seq"]  # re-allocated, not the covered seq 1
    mor_append(spark, root, "t", _rows(spark, [(100, 0, "x1")]),
               _ids(spark, [100]), seq, epoch=epoch)
    live = {r["id"]: r["v"] for r in mor_live(spark, root, "t").collect()}
    assert live[100] == "x1" and live[101] == "y"  # nothing lost
    assert mor_compact(spark, root)
    live = {r["id"]: r["v"] for r in mor_live(spark, root, "t").collect()}
    assert live[100] == "x1" and live[101] == "y"


# ------------------------------------------- r14: atomic pointer commit


def test_pointer_write_crash_between_delete_and_rename_recovers(spark, tmp_path):
    """_write_mor commits via tmp-write + delete + rename. Simulate the
    worst window — pointer deleted, fully-written tmp not yet renamed —
    and verify the next read finishes the commit instead of failing (the
    r13 ADVICE truncate-then-write exposure)."""
    import json as _json

    from siddhi_io_cdc_spark.streaming.mor import _read_mor, is_mor

    root = _plain_state(spark, tmp_path)
    _apply_plain(spark, root, [(100, 0, "x")], [100], batch_id=0)
    meta = _read_mor(spark, root)
    # simulate: the NEXT commit got as far as delete-old + tmp written
    meta["high_water"] = 42
    with open(os.path.join(root, "_mor.json.tmp"), "w") as f:
        f.write(_json.dumps(meta))
    os.remove(os.path.join(root, "_mor.json"))
    assert is_mor(spark, root)  # still recognizably a MOR state
    recovered = _read_mor(spark, root)
    assert recovered["high_water"] == 42  # the commit was finished
    assert os.path.exists(os.path.join(root, "_mor.json"))
    assert not os.path.exists(os.path.join(root, "_mor.json.tmp"))
    assert {r[0] for r in _live_set(spark, root)} >= {100}


def test_pointer_write_stale_tmp_is_ignored_then_overwritten(spark, tmp_path):
    """A crash BEFORE the delete leaves the old pointer intact plus a
    newer-content tmp: the commit did NOT happen, the old view must win,
    and the next successful commit must not be confused by the orphan."""
    import json as _json

    from siddhi_io_cdc_spark.streaming.mor import _read_mor

    root = _plain_state(spark, tmp_path)
    _apply_plain(spark, root, [(100, 0, "x")], [100], batch_id=0)
    meta = _read_mor(spark, root)
    stale = dict(meta, high_water=99)
    with open(os.path.join(root, "_mor.json.tmp"), "w") as f:
        f.write(_json.dumps(stale))
    assert _read_mor(spark, root)["high_water"] == meta["high_water"]
    # the next real commit overwrites the orphan and lands cleanly
    _apply_plain(spark, root, [(101, 1, "y")], [101], batch_id=1)
    assert _read_mor(spark, root)["high_water"] == meta["high_water"] + 1
    assert not os.path.exists(os.path.join(root, "_mor.json.tmp"))


# ------------------------------------------- r14: mor_fsck


def test_fsck_clean_state_and_expected_garbage(spark, tmp_path):
    from siddhi_io_cdc_spark.streaming.mor import mor_fsck, mor_minor_compact

    root = _plain_state(spark, tmp_path)
    _apply_plain(spark, root, [(100, 0, "x")], [100], batch_id=0)
    _apply_plain(spark, root, [(101, 1, "y")], [101], batch_id=1)
    rep = mor_fsck(spark, root)
    assert rep["errors"] == [] and rep["warnings"] == []
    # a committed fold's retained source dirs are INFO, not errors
    assert mor_minor_compact(spark, root)
    rep = mor_fsck(spark, root)
    assert rep["errors"] == [] and rep["warnings"] == []
    assert any("covered by committed fold" in i for i in rep["info"])
    # deferred major-compaction garbage (a retained GC generation) is
    # INFO too (r15: the flat gc_deferred list became generational)
    _apply_plain(spark, root, [(102, 2, "z")], [102], batch_id=2)
    assert mor_compact(spark, root)
    rep = mor_fsck(spark, root)
    assert rep["errors"] == [] and rep["warnings"] == []
    assert any("gc generation" in i for i in rep["info"])


def test_fsck_flags_abandoned_partial_adhoc_apply(spark, tmp_path):
    """The runbook gap the r13 review named: nothing DETECTED an ad-hoc
    apply that crashed between its per-table appends. fsck reports the
    seq present for some tables but not others, with the re-run recovery
    hint."""
    from siddhi_io_cdc_spark.streaming.mor import mor_fsck

    root = str(tmp_path / "two")
    spark.createDataFrame([(1, 0, "a")], "id LONG, b INT, v STRING") \
        .write.partitionBy("b").parquet(root + "/t1")
    spark.createDataFrame([(1, 0, "a")], "id LONG, b INT, v STRING") \
        .write.partitionBy("b").parquet(root + "/t2")
    mor_init(spark, root, {
        "t1": {"id_col": "id", "part_col": "b"},
        "t2": {"id_col": "id", "part_col": "b"},
    })
    seq, epoch = mor_begin_apply(spark, root, batch_id=None)
    mor_append(spark, root, "t1", _rows(spark, [(2, 1, "b")]),
               _ids(spark, [2]), seq, epoch=epoch)
    # crash before t2's append
    rep = mor_fsck(spark, root)
    assert len(rep["errors"]) == 1
    assert "abandoned partial ad-hoc apply" in rep["errors"][0]
    assert "t2" in rep["errors"][0]
    # re-run heals (per the documented recovery) and fsck goes clean
    seq2, epoch2 = mor_begin_apply(spark, root, batch_id=None)
    mor_append(spark, root, "t1", _rows(spark, [(2, 1, "b")]),
               _ids(spark, [2]), seq2, epoch=epoch2)
    mor_append(spark, root, "t2", _rows(spark, [(2, 1, "b2")]),
               _ids(spark, [2]), seq2, epoch=epoch2)
    rep = mor_fsck(spark, root)
    # the old partial seq is still one-table-only but now shadowed; it
    # remains reported until a fold/compaction sweeps it
    assert all("abandoned" in e for e in rep["errors"])
    assert mor_compact(spark, root)
    rep = mor_fsck(spark, root)
    assert rep["errors"] == []


def test_fsck_flags_crash_leftovers_and_bad_batch_seqs(spark, tmp_path):
    from siddhi_io_cdc_spark.streaming.mor import (
        _read_mor, _write_mor, mor_fsck,
    )

    root = _plain_state(spark, tmp_path)
    _apply_plain(spark, root, [(100, 0, "x")], [100], batch_id=0)
    # uncommitted fold orphan -> warning
    meta = _read_mor(spark, root)
    a_seq = meta["high_water"] + 1
    meta["high_water"] = a_seq
    meta["fold"] = {"seq": a_seq, "covers": [1], "committed": False}
    # a batch_seqs entry pointing below the horizon -> error
    meta["batch_seqs"]["77"] = 0
    meta["compacted_through"] = 0
    _write_mor(spark, root, meta)
    _rows(spark, [(999, 0, "partial")]).write.partitionBy("b").parquet(
        os.path.join(root, "_delta", "t", f"__seq={a_seq}")
    )
    # orphan tmp -> warning
    with open(os.path.join(root, "_mor.json.tmp"), "w") as f:
        f.write("{}")
    rep = mor_fsck(spark, root)
    assert any("uncommitted fold orphan" in w for w in rep["warnings"])
    assert any("_mor.json.tmp" in w for w in rep["warnings"])
    assert any("batch_seqs[77]" in e for e in rep["errors"])


# ------------------------------------- r14: alternating-writer fencing


def test_alternating_second_maintainer_is_fenced(spark, tmp_path):
    """Per-mutation epoch checks cannot see two maintainers that ALTERNATE
    at whole-batch granularity (each re-claims the epoch per batch, never
    observing the other mid-batch) — the r13 ADVICE gap. The foreach
    adapters now thread each batch's claimed epoch back as expect_epoch,
    so the moment ANY foreign writer claims the state between this
    maintainer's batches, its next batch fails loudly."""
    from siddhi_io_cdc_spark.streaming.ngram_lm import foreach_batch_ngram_lm

    state = str(tmp_path / "mor")
    write_ngram_state(
        spark, _corpus(spark, DOCS), state, n=3, nbuckets=8, doc_buckets=4,
        compact_every=0,
    )
    apply_a = foreach_batch_ngram_lm(spark, state)
    apply_a(spark.createDataFrame(
        [(30, "aa bb cc dd", None, "insert", 1)], SCHEMA), 0)
    # the same maintainer's own loop never false-positives (auto-compaction
    # included: it runs under the batch's token and moves no epoch)
    apply_a(spark.createDataFrame(
        [(31, "ee ff gg hh", None, "insert", 2)], SCHEMA), 1)
    # a SECOND maintainer (fresh adapter, fresh closure) applies a batch —
    # neither writer overlaps mid-batch, so per-mutation checks see nothing
    apply_b = foreach_batch_ngram_lm(spark, state)
    apply_b(spark.createDataFrame(
        [(40, "ii jj kk ll", None, "insert", 3)], SCHEMA), 100)
    # ...but maintainer A's next batch now fails loudly
    with pytest.raises(MorWriterFenced, match="between this maintainer's"):
        apply_a(spark.createDataFrame(
            [(32, "mm nn oo pp", None, "insert", 4)], SCHEMA), 2)
    # same for an out-of-band claim (ops compaction) against maintainer B
    mor_take_writer(spark, state)
    with pytest.raises(MorWriterFenced, match="between this maintainer's"):
        apply_b(spark.createDataFrame(
            [(41, "qq rr ss tt", None, "insert", 5)], SCHEMA), 101)
    # a restarted maintainer (fresh closure, no expectation) takes over
    # cleanly per the documented procedure
    apply_c = foreach_batch_ngram_lm(spark, state)
    apply_c(spark.createDataFrame(
        [(50, "uu vv ww xx", None, "insert", 6)], SCHEMA), 200)


def test_alternating_rag_ingest_maintainer_is_fenced(spark, tmp_path):
    """The RAG-ingest adapter threads the epoch like the index adapters: a
    second maintainer's batch between two of this maintainer's batches
    fails the next one loudly."""
    from siddhi_io_cdc_spark.functions.similarity import write_ivf_index
    from siddhi_io_cdc_spark.streaming.ivf_index import foreach_batch_rag_ingest

    idx = str(tmp_path / "rag")
    emb = spark.range(8).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 16), j -> CAST(hash(id, j) % 100 AS DOUBLE)) AS embedding",
    )
    write_ivf_index(emb, idx, nlist=2, compact_every=0)

    def docs(doc_id, ts):
        return spark.createDataFrame(
            [(doc_id, f"doc {doc_id} text here", None, "insert", ts)], SCHEMA
        )

    apply_a = foreach_batch_rag_ingest(spark, idx)
    apply_a(docs(1, 1), 0)
    apply_b = foreach_batch_rag_ingest(spark, idx)
    apply_b(docs(2, 2), 100)
    with pytest.raises(MorWriterFenced, match="between this maintainer's"):
        apply_a(docs(3, 3), 1)


def test_bm25_minor_fold_refuses_over_in_flight_batch(spark, tmp_path):
    """An out-of-band minor fold racing a crashed-but-unreplayed streamed
    batch must refuse instead of folding it: the fold's stats horizon
    would absorb the batch's dn/dtok and the replay would re-add them
    (r13 ADVICE scenario, closed beyond the batch_seqs prune). After the
    replay lands, the fold proceeds and everything is exact."""
    from siddhi_io_cdc_spark.streaming.bm25_index import (
        minor_compact_bm25_index,
    )

    idx = str(tmp_path / "bm25")
    write_bm25_index(
        spark, _corpus(spark, DOCS), idx, nbuckets=8, doc_buckets=4,
        compact_every=0,
    )
    b0 = spark.createDataFrame(
        [(30, "aa bb cc dd", None, "insert", 1)], SCHEMA)
    b1 = spark.createDataFrame(
        [(31, "ee ff gg", None, "insert", 2)], SCHEMA)
    apply_changelog_bm25(spark, idx, b0, batch_id=0)
    apply_changelog_bm25(spark, idx, b1, batch_id=1)
    os.remove(os.path.join(idx, "_batches", "1"))  # crash before marker
    with pytest.raises(ValueError, match="recorded but unmarked"):
        minor_compact_bm25_index(spark, idx)
    # replay lands byte-idempotently; the fold then proceeds
    apply_changelog_bm25(spark, idx, b1, batch_id=1)
    assert minor_compact_bm25_index(spark, idx)
    final = DOCS + [(30, "aa bb cc dd"), (31, "ee ff gg")]
    n, t = read_bm25_stats(spark, idx)
    assert n == len(final)
    assert t == sum(len(x.split()) for _, x in final)
    terms = ["tok3", "aa"]
    want = [tuple(r) for r in bm25_topk(_corpus(spark, final), terms, k=8).collect()]
    got = [tuple(r) for r in bm25_topk_indexed(spark, idx, terms, k=8).collect()]
    assert got == want
    # force=True folds anyway (documented drift acceptance path)
    b2 = spark.createDataFrame([(32, "hh ii", None, "insert", 3)], SCHEMA)
    b3 = spark.createDataFrame([(33, "jj kk", None, "insert", 4)], SCHEMA)
    apply_changelog_bm25(spark, idx, b2, batch_id=2)
    apply_changelog_bm25(spark, idx, b3, batch_id=3)
    os.remove(os.path.join(idx, "_batches", "3"))
    assert minor_compact_bm25_index(spark, idx, force=True)

"""CDC-maintained Kneser-Ney n-gram LM: maintained counts == rebuild,
maintained scoring == batch scorer, replay idempotence, before-image
guards, short-document NULL parity."""

import pytest
from pyspark.sql import functions as F

from siddhi_io_cdc_spark.streaming.ngram_lm import (
    apply_changelog_ngram,
    foreach_batch_ngram_lm,
    kneser_ney_from_state,
    read_ngram_counts,
    write_ngram_state,
)

SCHEMA = (
    "doc_id bigint, text string, before_text string, "
    "operation string, ts_ms bigint"
)


@pytest.fixture()
def corpus0(spark):
    return spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha beta"),
            (2, "beta beta delta gamma"),
            (3, "gamma delta epsilon beta"),
            (9, "solo"),  # sub-n-token: scores NULL, must survive the roster
        ],
        "doc_id bigint, text string",
    )


def _batches(spark):
    b1 = spark.createDataFrame(
        [
            (4, "zeta alpha beta gamma", None, "insert", 10),
            (2, "beta theta gamma beta", "beta beta delta gamma", "update", 11),
            (3, None, "gamma delta epsilon beta", "delete", 12),
        ],
        SCHEMA,
    )
    # intra-batch chain: doc 5 inserted then updated in the same batch —
    # only the latest event survives; the old grams' buckets come from the
    # union of every mover's before image
    b2 = spark.createDataFrame(
        [
            (5, "iota iota kappa", None, "insert", 20),
            (5, "iota kappa lambda iota", "iota iota kappa", "update", 21),
            (1, "alpha beta gamma mu beta", "alpha beta gamma alpha beta", "update", 22),
        ],
        SCHEMA,
    )
    return b1, b2


def _final_corpus(spark):
    # hand-applied changelog result
    return spark.createDataFrame(
        [
            (1, "alpha beta gamma mu beta"),
            (2, "beta theta gamma beta"),
            (4, "zeta alpha beta gamma"),
            (5, "iota kappa lambda iota"),
            (9, "solo"),
        ],
        "doc_id bigint, text string",
    )


def _counts(spark, path):
    return sorted(tuple(r) for r in read_ngram_counts(spark, path).collect())


@pytest.mark.parametrize("n", [2, 3])
def test_maintained_counts_and_scores_equal_rebuild(spark, corpus0, tmp_path, n):
    from siddhi_io_cdc_spark.functions.export import kneser_ney_ngram_logprob

    path = str(tmp_path / "lm")
    write_ngram_state(spark, corpus0, path, n=n, nbuckets=8, doc_buckets=4)
    b1, b2 = _batches(spark)
    apply_changelog_ngram(spark, b1, path, batch_id=1)
    apply_changelog_ngram(spark, b2, path, batch_id=2)

    # counts: maintained state == fresh state over the hand-applied corpus
    fresh = str(tmp_path / "fresh")
    write_ngram_state(spark, _final_corpus(spark), fresh, n=n, nbuckets=8,
                      doc_buckets=4)
    assert _counts(spark, path) == _counts(spark, fresh)

    # scoring: maintained-then-serve == batch scorer on the final corpus
    got = {
        r["doc_id"]: (r["kn_nll"], r["n_ngrams"])
        for r in kneser_ney_from_state(spark, path).collect()
    }
    want = {
        r["doc_id"]: (r["kn_nll"], r["n_ngrams"])
        for r in kneser_ney_ngram_logprob(_final_corpus(spark), n=n).collect()
    }
    assert got == want
    # the sub-n-token doc is present and NULL, same as the batch left join
    assert got[9] == (None, None)


def test_replay_is_idempotent(spark, corpus0, tmp_path):
    path = str(tmp_path / "lm")
    write_ngram_state(spark, corpus0, path, n=2, nbuckets=8, doc_buckets=4)
    b1, _ = _batches(spark)
    apply_changelog_ngram(spark, b1, path, batch_id=7)
    before = _counts(spark, path)
    apply_changelog_ngram(spark, b1, path, batch_id=7)  # replayed: marker skip
    assert _counts(spark, path) == before
    # re-initializing starts a NEW lineage: the old batch-7 marker must not
    # swallow batch 7 of the fresh state
    write_ngram_state(spark, corpus0, path, n=2, nbuckets=8, doc_buckets=4)
    apply_changelog_ngram(spark, b1, path, batch_id=7)
    assert _counts(spark, path) == before


def test_before_image_guard(spark, corpus0, tmp_path):
    path = str(tmp_path / "lm")
    write_ngram_state(spark, corpus0, path, n=2, nbuckets=8, doc_buckets=4)
    null_before = spark.createDataFrame(
        [(2, "changed text here", None, "update", 30)], SCHEMA
    )
    with pytest.raises(ValueError, match="NULL"):
        apply_changelog_ngram(spark, null_before, path, batch_id=8)
    missing_col = spark.createDataFrame(
        [(2, "changed text here", "update", 30)],
        "doc_id bigint, text string, operation string, ts_ms bigint",
    )
    with pytest.raises(ValueError, match="no 'before_text' column"):
        apply_changelog_ngram(spark, missing_col, path, batch_id=9)


def test_update_below_n_tokens_and_foreach_adapter(spark, corpus0, tmp_path):
    """An update that shrinks a document below n tokens removes all its
    grams but keeps it on the roster (scores NULL); the foreachBatch
    adapter drives the same applier."""
    path = str(tmp_path / "lm")
    write_ngram_state(spark, corpus0, path, n=3, nbuckets=8, doc_buckets=4)
    shrink = spark.createDataFrame(
        [(1, "tiny doc", "alpha beta gamma alpha beta", "update", 40)], SCHEMA
    )
    foreach_batch_ngram_lm(spark, path)(shrink, 1)
    scored = {
        r["doc_id"]: (r["kn_nll"], r["n_ngrams"])
        for r in kneser_ney_from_state(spark, path).collect()
    }
    assert scored[1] == (None, None)  # 2 tokens < n=3: present, NULL
    assert set(scored) == {1, 2, 3, 9}
    # none of doc 1's old grams survive in the counts
    leftover = read_ngram_counts(spark, path).where(F.col("w1") == "alpha")
    assert leftover.count() == 0


def test_state_over_gramless_corpus_reads_empty_then_grows(spark, tmp_path):
    """Every document shorter than n: the state holds no gram rows but
    still reads (as empty), and a later batch that adds grams matches a
    rebuild."""
    path = str(tmp_path / "lm")
    short = spark.createDataFrame([(1, "solo"), (2, "lone")], "doc_id bigint, text string")
    write_ngram_state(spark, short, path, n=2, nbuckets=4, doc_buckets=2)
    assert _counts(spark, path) == []
    grow = spark.createDataFrame([(1, "solo act solo", "solo", "update", 50)], SCHEMA)
    apply_changelog_ngram(spark, grow, path, batch_id=1)
    fresh = str(tmp_path / "fresh")
    write_ngram_state(
        spark,
        spark.createDataFrame([(1, "solo act solo"), (2, "lone")], "doc_id bigint, text string"),
        fresh, n=2, nbuckets=4, doc_buckets=2,
    )
    assert _counts(spark, path) == _counts(spark, fresh) != []

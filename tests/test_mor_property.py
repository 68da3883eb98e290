"""Property test for the merge-on-read state: ANY multi-batch changelog
(random inserts / updates / deletes, latest-wins within a batch, no
before images, MAJOR and MINOR compactions interleaved at random points,
ad-hoc and streamed applies mixed at random) must leave the maintained
n-gram counts equal to a fresh build over the model corpus.

The model is a plain Python dict folded with the same semantics the
appliers document: per batch, the latest event per key wins; insert/
update set the text, delete removes the key. Each drawn program is
applied through ``apply_changelog_ngram`` against a maintained
state and compared to ``write_ngram_state`` over the final dict — the
incremental==rebuild equivalence as a law, not an example. Round 13
widened the program space with the two features that round added:
size-tiered minor folds (``mor_minor_compact``) and the persisted
sequence allocation that makes ad-hoc/streamed mixing safe. Round 14
widens it again with CRASH INJECTION: folds/compactions that die at
their protocol points (declare / pre-commit / pre-swap) must leave the
old view intact, and a final major compaction must converge while
collecting the leftovers (the GC-before-declare + deferred-GC rework).
"""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from siddhi_io_cdc_spark.streaming.mor import mor_compact, mor_minor_compact
from siddhi_io_cdc_spark.streaming.ngram_lm import (
    apply_changelog_ngram,
    read_ngram_counts,
    write_ngram_state,
)

WORDS = ["ab", "cd", "ef", "gh", "ij", "kl"]


def _text(seed: int, length: int) -> str:
    return " ".join(WORDS[(seed * 7 + i) % len(WORDS)] for i in range(length))


#: one event: (kind 0=insert/upsert, 1=update, 2=delete, key, text seed, len)
_events = st.lists(
    st.tuples(
        st.integers(0, 2),
        st.integers(0, 9),
        st.integers(0, 50),
        st.integers(1, 6),
    ),
    min_size=1,
    max_size=8,
)

#: a program: 1-3 batches, each with events + after-step (0=nothing,
#: 1=major compact, 2=minor fold) + ad-hoc flag (apply without batch id)
_programs = st.lists(
    st.tuples(_events, st.integers(0, 2), st.booleans()),
    min_size=1,
    max_size=3,
)


@given(program=_programs)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_mor_random_programs_match_rebuild(spark, program, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("morprop")
    state, fresh = str(tmp / "mor"), str(tmp / "fresh")

    model = {i: _text(i, 4) for i in range(5)}
    corpus = spark.createDataFrame(
        list(model.items()), "doc_id LONG, text STRING"
    )
    write_ngram_state(
        spark, corpus, state, n=2, nbuckets=4, doc_buckets=2
    )

    for batch_no, (events, after_step, adhoc) in enumerate(program):
        rows, ts = [], 0
        staged = dict(model)
        for kind, key, seed, length in events:
            ts += 1
            if kind == 2:
                if key not in staged:
                    continue  # deletes of absent keys are upstream noise
                rows.append((key, None, "delete", ts))
                staged.pop(key)
            else:
                op = "update" if (kind == 1 and key in staged) else "insert"
                txt = _text(seed, length)
                rows.append((key, txt, op, ts))
                staged[key] = txt
        if not rows:
            continue
        batch = spark.createDataFrame(
            rows, "doc_id LONG, text STRING, operation STRING, ts_ms LONG"
        )
        apply_changelog_ngram(
            spark, batch, state, batch_id=None if adhoc else batch_no
        )
        model = staged
        if after_step == 1:
            mor_compact(spark, state)
        elif after_step == 2:
            mor_minor_compact(spark, state)

    if not model:
        # fully-emptied corpus: a rebuild over zero docs writes no
        # parquet (pre-existing empty-corpus edge), so assert directly
        assert read_ngram_counts(spark, state).count() == 0
        return
    write_ngram_state(
        spark,
        spark.createDataFrame(list(model.items()), "doc_id LONG, text STRING"),
        fresh, n=2, nbuckets=4, doc_buckets=2,
    )
    got = {tuple(r) for r in read_ngram_counts(spark, state).collect()}
    want = {tuple(r) for r in read_ngram_counts(spark, fresh).collect()}
    assert got == want, (sorted(got - want)[:3], sorted(want - got)[:3])


# --------------------------------------------- r14: crash-program law


def _crash_minor(spark, state, when):
    """Run a minor fold but crash at a drawn protocol point: 'declare'
    (record replaced, nothing folded yet) or 'commit' (all data written,
    committed record never lands). Restates the r14 crash-safety claim:
    both leave the OLD view fully intact."""
    import siddhi_io_cdc_spark.streaming.mor as M

    real = M._write_mor

    class Boom(RuntimeError):
        pass

    def wrapper(s, r, m):
        fold = m.get("fold")
        if when == "declare" and fold and not fold.get("committed"):
            real(s, r, m)
            raise Boom()
        if when == "commit" and fold and fold.get("committed"):
            raise Boom()  # crash BEFORE the commit write lands
        real(s, r, m)

    M._write_mor = wrapper
    try:
        M.mor_minor_compact(spark, state)
    except Boom:
        pass
    finally:
        M._write_mor = real


def _crash_major_at_swap(spark, state):
    """Run a major compaction but crash right before the pointer swap:
    fresh base dirs fully written and orphaned, pointer untouched."""
    import siddhi_io_cdc_spark.streaming.mor as M

    real = M._write_mor
    cur_ver = M._read_mor(spark, state)["base_version"]

    class Boom(RuntimeError):
        pass

    def wrapper(s, r, m):
        if int(m.get("base_version", 0)) > cur_ver:
            raise Boom()  # the swap write itself never lands
        real(s, r, m)

    M._write_mor = wrapper
    try:
        M.mor_compact(spark, state)
    except Boom:
        pass
    finally:
        M._write_mor = real


#: after-step space for crash programs: 0 none, 1 major, 2 minor,
#: 3 minor-crash-at-declare, 4 minor-crash-at-commit, 5 major-crash-at-swap
_crash_programs = st.lists(
    st.tuples(_events, st.integers(0, 5), st.booleans()),
    min_size=1,
    max_size=3,
)


@given(program=_crash_programs)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_mor_crash_programs_match_rebuild(spark, program, tmp_path_factory):
    """The r14 crash-safety law: ANY program of random applies with folds
    and compactions that CRASH at their protocol points (declare /
    pre-commit / pre-swap) still serves exactly the model corpus — the
    crash leaves the old view intact plus ignored garbage — and a final
    major compaction converges to the same answer while collecting the
    leftovers."""
    tmp = tmp_path_factory.mktemp("morcrash")
    state, fresh = str(tmp / "mor"), str(tmp / "fresh")

    model = {i: _text(i, 4) for i in range(5)}
    corpus = spark.createDataFrame(
        list(model.items()), "doc_id LONG, text STRING"
    )
    write_ngram_state(
        spark, corpus, state, n=2, nbuckets=4, doc_buckets=2
    )

    for batch_no, (events, after_step, adhoc) in enumerate(program):
        rows, ts = [], 0
        staged = dict(model)
        for kind, key, seed, length in events:
            ts += 1
            if kind == 2:
                if key not in staged:
                    continue
                rows.append((key, None, "delete", ts))
                staged.pop(key)
            else:
                op = "update" if (kind == 1 and key in staged) else "insert"
                txt = _text(seed, length)
                rows.append((key, txt, op, ts))
                staged[key] = txt
        if not rows:
            continue
        batch = spark.createDataFrame(
            rows, "doc_id LONG, text STRING, operation STRING, ts_ms LONG"
        )
        apply_changelog_ngram(
            spark, batch, state, batch_id=None if adhoc else batch_no
        )
        model = staged
        if after_step == 1:
            mor_compact(spark, state)
        elif after_step == 2:
            mor_minor_compact(spark, state)
        elif after_step == 3:
            _crash_minor(spark, state, "declare")
        elif after_step == 4:
            _crash_minor(spark, state, "commit")
        elif after_step == 5:
            _crash_major_at_swap(spark, state)

    def check():
        if not model:
            assert read_ngram_counts(spark, state).count() == 0
            return
        got = {tuple(r) for r in read_ngram_counts(spark, state).collect()}
        assert got == want, (sorted(got - want)[:3], sorted(want - got)[:3])

    if model:
        write_ngram_state(
            spark,
            spark.createDataFrame(
                list(model.items()), "doc_id LONG, text STRING"
            ),
            fresh, n=2, nbuckets=4, doc_buckets=2,
        )
        want = {tuple(r) for r in read_ngram_counts(spark, fresh).collect()}
    check()
    # recovery converges and sweeps: a final major compaction over
    # whatever garbage the crashes left must serve the same answer
    mor_compact(spark, state)
    check()

"""CDC-maintained Kneser-Ney n-gram LM: the corpus language model kept
current under a changelog stream, scoring bit-compatible with the batch
scorer.

``functions/export.kneser_ney_ngram_logprob`` (the CCNet scoring rung)
trains on a corpus SNAPSHOT. A curation pipeline fed by CDC wants the LM
maintained as documents arrive, mutate, and disappear — without re-reading
the corpus per batch. The key observation: the only corpus-sized input the
whole KN recursion needs is the top-order raw count table ``a[n]``, and
``a[n]`` is a LINEAR (turnstile) aggregate of per-document n-gram
multisets — an insert adds a document's grams, a delete subtracts them, an
update is both. Every lower order (continuation counts, context stats,
discount tree) derives from ``a[n]`` by vocabulary-sized aggregation at
serving time, so maintenance only ever touches per-document state.

State layout (same filesystem contract as ``streaming/bm25_index.py``):

- ``grams/`` — one row per (document, distinct n-gram): ``doc_id,
  w1..wn, tf``, hash-partitioned by ``gbucket = pmod(xxhash64(w1..wn),
  nbuckets)``. Per-bucket content is a PURE function of {rows whose doc is
  not in the batch} ∪ {batch docs' rows} — replay after a crash converges,
  unlike a stored global count, which is a delta and double-applies.
- ``docs/`` — the roster ``doc_id, n_ngrams`` (0 for sub-``n``-token
  documents), hash-partitioned by doc id: serving left-joins it so short
  documents score NULL exactly like the batch path.
- ``_batches/<id>`` markers give exactly-once per ``batch_id``.

Per batch the copy-on-write work is O(batch grams + touched buckets) —
which round 12 MEASURED to be O(corpus) in practice: a 100-document
batch's ~4,600 distinct 5-grams hash into all 64 buckets, so every
bucket is "touched" and the merge rewrites the whole gram table
(BASELINE.md round 12, constant-batch curve growing ~1.7× at 20× data).
``write_ngram_state(layout="mor")`` is the production answer: the
merge-on-read layout (``streaming/mor.py``) appends O(batch) deltas +
tombstones, measured flat across 20× data, and needs no before images.
Serving (``kneser_ney_from_state``) rebuilds the hierarchy from the
maintained counts with the SAME shared expression tree the batch scorer
uses (``_kn_lower_orders`` / ``_kn_fixed_ctx_prob`` / ``_kn_lm``), so
maintained-then-serve equals rebuild-and-score on the post-changelog
corpus — the equivalence the tests pin (scores are ``round(·, 6)``; the
only arithmetic difference is double-summation order inside a per-document
mean, absorbed by the rounding exactly as it is across engines).

Reference semantics: the changelog contract (before-image requirements,
latest-event-wins, delete re-keying) restates the reference's update/delete
event shape (RdbmsChangeDataCapture.java:86-126); everything else is the
LLM-pipeline extension built on it.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from siddhi_io_cdc_spark.functions.export import (
    _gram_rows,
    _kn_fixed_ctx_prob,
    _kn_lm,
    _kn_lower_orders,
)
from siddhi_io_cdc_spark.functions.similarity import (
    _hadoop_read_text,
    _hadoop_write_text,
)
from siddhi_io_cdc_spark.streaming.bm25_index import _swap_doc_rows
from siddhi_io_cdc_spark.streaming.ivf_index import (
    _hadoop_delete,
    _hadoop_exists,
    _marker_path,
)
from siddhi_io_cdc_spark.streaming.mor import _has_parquet

GBUCKET_COL = "gbucket"
DBUCKET_COL = "dbucket"
_META = "_meta.json"


def _wcols(n: int) -> list[str]:
    return [f"w{i + 1}" for i in range(n)]


def _gbucket(n: int, nbuckets: int) -> F.Column:
    return F.pmod(F.xxhash64(*_wcols(n)), F.lit(nbuckets)).cast("int")


def _dbucket(id_col: str, doc_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(doc_buckets)).cast("int")


def _doc_gram_tf(df: DataFrame, n: int, id_col: str, text_col: str) -> DataFrame:
    """Per-document distinct-gram term frequencies ``(id_col, w1..wn, tf)``
    — the linear unit of state, from the scorers' shared gram explode."""
    rows = _gram_rows(df, n, id_col, text_col)
    renames = [F.col(f"__w{i + 1}").alias(f"w{i + 1}") for i in range(n)]
    return (
        rows.select(F.col(id_col), *renames)
        .groupBy(id_col, *_wcols(n))
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )


def write_ngram_state(
    spark,
    df: DataFrame,
    path: str,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    nbuckets: int = 64,
    doc_buckets: int = 16,
    layout: str = "cow",
    compact_every: int = 16,
    minor_every: int = 0,
    retain_cycles: int = 1,
) -> None:
    """Initialize the maintained LM state from a corpus snapshot.

    ``layout`` picks the maintenance strategy:

    - ``"cow"`` (copy-on-write, the original): each batch rewrites the
      touched gram-bucket partitions. Honest only while the batch's gram
      hashes MISS most buckets — a ~100-doc batch at n=5 touches all 64,
      so per-batch cost grows with the corpus (measured, BASELINE.md r12).
    - ``"mor"`` (merge-on-read, ``streaming/mor.py``): each batch appends
      O(batch) delta rows + id tombstones; readers reconstruct the live
      view; compaction folds deltas every ``compact_every`` batches. The
      apply path is O(batch) regardless of corpus size — the layout to
      run at 100 TB. Update/delete batches do NOT need before images
      (tombstones shadow by id).
    """
    if n < 2:
        raise ValueError(f"n must be >= 2 (got {n})")
    if layout not in ("cow", "mor"):
        raise ValueError(f"layout must be 'cow' or 'mor' (got {layout!r})")
    base = path.rstrip("/")
    # Re-initializing over an existing path starts a NEW state lineage:
    # old batch markers belong to the previous lineage and would silently
    # skip the same batch ids against the fresh state.
    _hadoop_delete(spark, base + "/_batches")
    _hadoop_write_text(
        spark,
        base + "/" + _META,
        json.dumps(
            {"kind": "ngram", "n": n, "nbuckets": nbuckets,
             "doc_buckets": doc_buckets, "text_col": text_col,
             "id_col": id_col, "layout": layout}
        ),
    )
    if layout == "mor":
        from siddhi_io_cdc_spark.streaming.mor import mor_init

        mor_init(
            spark, base,
            {
                "grams": {"id_col": id_col, "part_col": GBUCKET_COL},
                "docs": {"id_col": id_col, "part_col": DBUCKET_COL},
            },
            compact_every=compact_every,
            minor_every=minor_every,
            retain_cycles=retain_cycles,
        )
    else:
        # a cow re-init over a previous mor lineage must drop its pointer
        _hadoop_delete(spark, base + "/_mor.json")
        _hadoop_delete(spark, base + "/_delta")
        _hadoop_delete(spark, base + "/_tomb")
    tf = _doc_gram_tf(df, n, id_col, text_col)
    grams = base + "/grams"
    (
        tf.withColumn(GBUCKET_COL, _gbucket(n, nbuckets))
        .write.mode("overwrite")
        .partitionBy(GBUCKET_COL)
        .parquet(grams)
    )
    if not _has_parquet(spark, grams):
        # no document has n tokens: a partitioned write of an empty frame
        # leaves no data files, and a later read would fail schema
        # inference — keep one schema-bearing empty file in a bucket dir
        tf.limit(0).coalesce(1).write.parquet(f"{grams}/{GBUCKET_COL}=0")
    # roster via LEFT join from the full document set: a sub-n-token
    # document still exists (serving scores it NULL, a later update may
    # grow it) so it needs an n_ngrams=0 row.
    counted = tf.groupBy(id_col).agg(F.sum("tf").cast("bigint").alias("__c"))
    roster = (
        df.select(F.col(id_col))
        .join(counted, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("__c"), F.lit(0)).cast("bigint").alias("n_ngrams"),
        )
        .withColumn(DBUCKET_COL, _dbucket(id_col, doc_buckets))
    )
    roster.write.mode("overwrite").partitionBy(DBUCKET_COL).parquet(base + "/docs")


def _state_table(spark, base: str, table: str) -> DataFrame:
    """Read a maintained-state table under either layout: plain partitioned
    parquet (cow) or the live merge-on-read view (mor)."""
    from siddhi_io_cdc_spark.streaming.mor import is_mor, mor_live

    if is_mor(spark, base):
        return mor_live(spark, base, table)
    return spark.read.parquet(base + "/" + table)


def read_ngram_counts(spark, path: str) -> DataFrame:
    """The maintained LM count table ``(w1..wn, cnt)`` — equal, row for
    row, to the batch top-order aggregate over the changelog's corpus."""
    base = path.rstrip("/")
    meta = json.loads(_hadoop_read_text(spark, base + "/" + _META))
    n = meta["n"]
    return (
        _state_table(spark, base, "grams")
        .groupBy(*_wcols(n))
        .agg(F.sum("tf").cast("bigint").alias("cnt"))
    )


def apply_changelog_ngram(
    spark,
    batch_df: DataFrame,
    path: str,
    seq_col: str = "ts_ms",
    op_col: str = "operation",
    batch_id=None,
    expect_epoch: int | None = None,
) -> int | None:
    """Apply one flattened-changelog micro-batch to the maintained LM.

    Per key, only the latest event by ``seq_col`` decides the final state
    (``apply_changelog`` semantics); 'read' snapshot rows upsert like
    inserts. Update/delete rows must carry a non-NULL
    ``before_<text_col>``: the dropped grams' buckets are derivable only
    from the OLD text.

    MOR layout: returns the writer epoch this apply claimed (thread it
    back as ``expect_epoch`` on the next batch to fence alternating
    writers — see :func:`mor.mor_begin_apply`); COW layout and
    marker-skipped replays return None.
    """
    from siddhi_io_cdc_spark.operators.mutate import rekey_deletes

    base = path.rstrip("/")
    if batch_id is not None and _hadoop_exists(spark, _marker_path(base, batch_id)):
        return None
    meta = json.loads(_hadoop_read_text(spark, base + "/" + _META))
    n, nbuckets = meta["n"], meta["nbuckets"]
    doc_buckets = meta["doc_buckets"]
    text_col, id_col = meta["text_col"], meta["id_col"]
    before = f"before_{text_col}"

    batch_df = rekey_deletes(batch_df, [id_col], op_col)
    if meta.get("layout") == "mor":
        return _apply_ngram_mor(
            spark, batch_df, base, n, nbuckets, doc_buckets, text_col,
            id_col, seq_col, op_col, batch_id, expect_epoch,
        )
    movers = batch_df.where(F.col(op_col).isin("update", "delete"))
    if before not in batch_df.columns:
        if movers.limit(1).count():
            raise ValueError(
                f"batch contains update/delete ops but no '{before}' column: "
                "the dropped grams' buckets are unknowable without the old "
                "text. Flatten the stream with the update projection."
            )
    elif movers.where(F.col(before).isNull()).limit(1).count():
        raise ValueError(
            f"batch contains update/delete rows with a NULL '{before}' "
            "before image: the old grams are unknowable, so stale counts "
            "would survive. Emit whole before images."
        )

    latest = (
        batch_df.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy(F.col(seq_col).desc())
            ),
        )
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    batch_ids = latest.select(id_col).distinct()

    # NOT persisted: the gram explode feeds three consumers (the
    # touched-bucket collect, the partition merge, the roster recount) but
    # it is narrow per-row work that pipelines into each — measured A/B at
    # sf0.1 (20%-corpus insert batch): recompute 9.0-11.2 s/batch vs
    # persist 19.7-21.7 s/batch; materializing the cache costs more than
    # both recomputations together
    new_tf = _doc_gram_tf(
        latest.where(F.col(op_col) != "delete"), n, id_col, text_col
    ).withColumn(GBUCKET_COL, _gbucket(n, nbuckets))

    # Touched gram buckets: the new grams' buckets plus the buckets of
    # EVERY mover's before-image grams — in an intra-batch chain (update
    # A->B then B->C) the pre-batch rows live in buckets derived from A,
    # which only the earliest before image covers; the union over all
    # movers is a superset (extra buckets merely widen the replace), the
    # same shape as the BM25 applier's old-term set.
    touched = new_tf.select(F.col(GBUCKET_COL).alias("b"))
    if before in batch_df.columns:
        old_tf = _doc_gram_tf(movers, n, id_col, before)
        touched = touched.unionByName(
            old_tf.select(_gbucket(n, nbuckets).alias("b"))
        )
    _swap_doc_rows(spark, base + "/grams", GBUCKET_COL, touched, batch_ids, id_col, new_tf)

    # roster: replace the batch docs' rows in their doc buckets (deletes
    # simply vanish — their ids are anti-joined out and re-add nothing).
    upsert_ids = latest.where(F.col(op_col) != "delete").select(id_col)
    counted = new_tf.groupBy(id_col).agg(
        F.sum("tf").cast("bigint").alias("__c")
    )
    new_roster = (
        upsert_ids.join(counted, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("__c"), F.lit(0)).cast("bigint").alias("n_ngrams"),
        )
        .withColumn(DBUCKET_COL, _dbucket(id_col, doc_buckets))
    )
    _swap_doc_rows(
        spark, base + "/docs", DBUCKET_COL, batch_ids.select(_dbucket(id_col, doc_buckets)),
        batch_ids, id_col, new_roster,
    )

    if batch_id is not None:
        _hadoop_write_text(spark, _marker_path(base, batch_id), "done")


def _apply_ngram_mor(
    spark, batch_df, base, n, nbuckets, doc_buckets, text_col, id_col,
    seq_col, op_col, batch_id, expect_epoch=None,
) -> int:
    """Merge-on-read apply: O(batch) writes, no base-state read.

    Tombstoning every batch key's prior rows makes before images
    UNNECESSARY here — the id shadows the old grams wherever their buckets
    are, which also covers intra-batch update chains for free (the COW
    path needs the earliest mover's before image for its bucket math).
    Sequences come from ``mor_begin_apply``: a streamed batch reuses its
    recorded seq on replay (byte-idempotent), an ad-hoc apply allocates
    above the persisted high water, and the returned writer epoch fences
    every append/compact against a concurrent maintainer.
    """
    from siddhi_io_cdc_spark.streaming.mor import (
        latest_per_key, maybe_autocompact, mor_append, mor_begin_apply,
    )

    latest = latest_per_key(batch_df, id_col, seq_col)
    batch_ids = latest.select(id_col).distinct()
    upserts = latest.where(F.col(op_col) != "delete")
    new_tf = _doc_gram_tf(upserts, n, id_col, text_col).withColumn(
        GBUCKET_COL, _gbucket(n, nbuckets)
    )
    seq, epoch = mor_begin_apply(spark, base, batch_id, expect_epoch=expect_epoch)
    mor_append(spark, base, "grams", new_tf, batch_ids, seq, epoch=epoch)

    counted = new_tf.groupBy(id_col).agg(
        F.sum("tf").cast("bigint").alias("__c")
    )
    new_roster = (
        upserts.select(id_col)
        .join(counted, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("__c"), F.lit(0)).cast("bigint").alias("n_ngrams"),
        )
        .withColumn(DBUCKET_COL, _dbucket(id_col, doc_buckets))
    )
    mor_append(spark, base, "docs", new_roster, batch_ids, seq, epoch=epoch)

    if batch_id is not None:
        _hadoop_write_text(spark, _marker_path(base, batch_id), "done")
    maybe_autocompact(spark, base, epoch=epoch)
    return epoch


def kneser_ney_from_state(
    spark,
    path: str,
    discount: float = 0.75,
    broadcast_vocab_max: int | None = 5_000_000,
) -> DataFrame:
    """Score the maintained corpus under the maintained LM — the serving
    half. Rebuilds the adjusted-count hierarchy from the state's top-order
    counts with the batch scorer's shared expression tree, then regroups
    per document with tf-weighted means (the state stores distinct grams
    with multiplicity, the batch path one row per occurrence — identical
    sums, so ``round(·, 6)`` outputs match the batch scorer's).

    Output: ``(id_col, kn_nll, n_ngrams)`` — the
    :func:`...export.kneser_ney_ngram_logprob` schema; sub-``n``-token
    documents (roster rows with 0 grams) score NULL exactly like the
    batch left join.
    """
    from siddhi_io_cdc_spark.util import scoped_persist, tag_caches

    if not 0 < discount < 1:
        raise ValueError(f"discount must be in (0, 1) (got {discount})")
    base = path.rstrip("/")
    meta = json.loads(_hadoop_read_text(spark, base + "/" + _META))
    n, id_col = meta["n"], meta["id_col"]
    wcols = [f"__w{i + 1}" for i in range(n)]
    renames = [F.col(f"w{i + 1}").alias(f"__w{i + 1}") for i in range(n)]

    state = scoped_persist(
        _state_table(spark, base, "grams").select(
            F.col(id_col), *renames, F.col("tf")
        )
    )
    a_n = scoped_persist(
        state.groupBy(*wcols).agg(F.sum("tf").cast("bigint").alias(f"__a{n}"))
    )
    a = _kn_lower_orders(a_n, wcols, n, persist_lower=True)
    ctx, prob = _kn_fixed_ctx_prob(a, wcols, n, discount)
    lm, use_broadcast = _kn_lm(a, ctx, prob, wcols, n, broadcast_vocab_max)
    scored = (
        state.join(F.broadcast(lm) if use_broadcast else lm, wcols)
        .groupBy(id_col)
        .agg(
            F.round(
                F.sum(F.col("tf") * -F.log("__p")) / F.sum("tf"), 6
            ).alias("kn_nll"),
            F.sum("tf").cast("bigint").alias("n_ngrams"),
        )
    )
    roster = _state_table(spark, base, "docs").select(id_col).distinct()
    out = roster.join(scored, id_col, "left")
    return tag_caches(out, [state] + [a[k] for k in range(1, n + 1)])


def foreach_batch_ngram_lm(
    spark,
    path: str,
    seq_col: str = "ts_ms",
    op_col: str = "operation",
):
    """``foreachBatch`` adapter: wire a flattened CDC stream into
    :func:`apply_changelog_ngram`. Exactly-once per ``batch_id`` via the
    marker file; crash-and-replay converges (per-bucket state is pure).
    MOR layout: the adapter remembers the epoch each batch claimed and
    passes it back, so a foreign writer that claimed the state BETWEEN
    this maintainer's batches (the alternating-writer gap per-mutation
    fencing cannot see) fails the next batch loudly."""

    state = {"epoch": None}

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        e = apply_changelog_ngram(
            spark, batch_df, path,
            seq_col=seq_col, op_col=op_col, batch_id=batch_id,
            expect_epoch=state["epoch"],
        )
        # a marker-skipped replay returns None WITHOUT claiming an epoch;
        # keep the remembered token so the next live batch stays fenced
        # (r14 ADVICE: overwriting with None silently degraded the fence)
        state["epoch"] = e if e is not None else state["epoch"]

    return _apply

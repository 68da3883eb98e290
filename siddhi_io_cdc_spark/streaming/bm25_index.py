"""Incremental BM25 inverted-index maintenance under CDC.

``functions/retrieval.py:bm25_topk`` answers a fixed query with one corpus
scan — right for ad-hoc curation queries, wrong for a serving path that
fields many queries against a corpus kept current by CDC. This module
materializes the classic inverted layout and keeps it current under a
changelog, composing the house patterns:

- **postings/**: ``(term, doc_id, tf)`` PARTITIONED BY a term-hash bucket
  (``tbucket = pmod(xxhash64(term), nbuckets)``), so answering a query
  reads only the query terms' bucket directories (partition-pruned scans —
  the inverted-index access path); corpus-wide document frequency of a
  term is a count over its own bucket only.
- **docs/**: ``(doc_id, dl)`` — the document-length table behind BM25's
  length normalization; the corpus scalars (N, total tokens) are one
  narrow aggregate over it at query time (2 longs per doc; a production
  deployment can additionally cache the 1-row result, which replays
  cleanly because it is derived state).

The index is a merge-on-read state (``streaming/mor.py``): a micro-batch
appends its documents' new postings and lengths plus a tombstone per
batch document id, O(batch) writes and no index read. (A
copy-on-write rewrite of the touched term buckets was O(index) in
practice: a 100-document batch's ~1,000 distinct terms hash into all 64
buckets — BASELINE.md round 12.) The corpus scalars are maintained as
exact per-batch deltas. Update/delete ops MUST carry the BEFORE image
(``before_<text_col>``): the stats delta subtracts the replaced
document's old length, which only the old text yields without a corpus
scan — the flatten operator's update projection provides that column.
Exactly-once per ``batch_id``: a replayed batch reuses its recorded
sequence, and a per-``batch_id`` marker skips clean re-runs. Filesystem
metadata ops go through the Hadoop FS API (s3a/hdfs-capable).

The query path restates EXACTLY the expression tree of
``functions/retrieval.bm25_score`` (same literals, same association
order, fixed-order term sum), so an index probe and a fresh corpus scan
return bit-identical scores — pinned by ``tests/test_bm25_index.py``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from siddhi_io_cdc_spark.functions.text import normalize_text
from siddhi_io_cdc_spark.functions.similarity import _hadoop_read_text
from siddhi_io_cdc_spark.streaming.ivf_index import (
    _fenced_adapter,
    _hadoop_delete,
    _hadoop_exists,
    _hadoop_write_text,
    _marker_path,
)

TBUCKET_COL = "tbucket"
DBUCKET_COL = "dbucket"


def _tbucket(term: Column, nbuckets: int) -> Column:
    return F.pmod(F.xxhash64(term), F.lit(nbuckets)).cast("int")


def _doc_terms(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t"))
        .select(
            "doc_id",
            F.explode(F.split(normalize_text("__t"), " ")).alias("term"),
        )
        .where(F.col("term") != "")
    )


def write_bm25_index(
    spark,
    df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    nbuckets: int = 64,
    doc_buckets: int = 16,
    compact_every: int = 16,
    minor_every: int = 0,
    retain_cycles: int = 1,
) -> None:
    """Materialize the inverted layout from a document corpus: postings
    partitioned by term bucket, doc lengths partitioned by doc bucket.

    Maintenance is merge-on-read (``streaming/mor.py``): each changelog
    batch appends O(batch) deltas, and compaction folds them every
    ``compact_every`` batches. Corpus stats (N docs / total tokens) are
    maintained as per-batch deltas stamped into the delta dirs and folded
    into ``_stats.json`` behind a ``through_seq`` horizon, so the probe's
    scalars stay exact without any corpus scan on the apply path."""
    base = index_path.rstrip("/")
    toks = _doc_terms(df, text_col, id_col)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    (
        tf.withColumn(TBUCKET_COL, _tbucket(F.col("term"), nbuckets))
        .write.mode("overwrite")
        .partitionBy(TBUCKET_COL)
        .parquet(base + "/postings")
    )
    # dl via LEFT join from the full document set: a token-less document
    # still counts toward N / avgdl in bm25_score's corpus aggregate, so it
    # needs a dl=0 row here or the probe's n_docs drifts from the scan's.
    counted = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    dl = (
        df.select(F.col(id_col).alias("doc_id"))
        .join(counted, "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("__c"), F.lit(0)).cast("bigint").alias("dl"))
    )
    (
        dl.withColumn(
            DBUCKET_COL, F.pmod(F.xxhash64(F.col("doc_id")), F.lit(doc_buckets)).cast("int")
        )
        .write.mode("overwrite")
        .partitionBy(DBUCKET_COL)
        .parquet(base + "/docs")
    )
    _hadoop_write_text(
        spark, base + "/_meta.json",
        f'{{"nbuckets": {nbuckets}, "doc_buckets": {doc_buckets}}}',
    )
    from siddhi_io_cdc_spark.streaming.mor import mor_init

    mor_init(
        spark, base,
        {
            "postings": {"id_col": "doc_id", "part_col": TBUCKET_COL},
            "docs": {"id_col": "doc_id", "part_col": DBUCKET_COL},
        },
        compact_every=compact_every,
        minor_every=minor_every,
        retain_cycles=retain_cycles,
    )
    _hadoop_delete(spark, base + "/_batches")
    _write_stats(spark, base)


def _state_table(spark, base: str, table: str) -> DataFrame:
    """Read an index table (BM25 or n-gram state): the live merge-on-read
    view, or the plain partitioned parquet of a state written before the
    indexes were maintained merge-on-read (still probe-able, no longer
    maintainable)."""
    from siddhi_io_cdc_spark.streaming.mor import is_mor, mor_live

    if is_mor(spark, base):
        return mor_live(spark, base, table)
    return spark.read.parquet(base + "/" + table)


def _write_stats(spark, base: str, through_seq: int = 0) -> None:
    """Persist the corpus scalars (N, total tokens) as DERIVED state — a
    1-row aggregate over the narrow docs table, written at build and
    after each compaction, so the probe never scans even the doc-length
    table for its two scalars. The cache is stamped with
    ``through_seq``: readers add exactly the pending stats deltas above
    that horizon, so any crash interleaving of the stats write, the batch
    append, and compaction still reads exact scalars."""
    r = (
        _state_table(spark, base, "docs")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("t"))
        .first()
    )
    _hadoop_write_text(
        spark, base + "/_stats.json",
        f'{{"n_docs": {int(r["n"])}, "total_tokens": {int(r["t"] or 0)}, '
        f'"through_seq": {int(through_seq)}}}',
    )


def read_bm25_stats(spark, index_path: str) -> tuple[int, int]:
    """The exact corpus scalars ``(n_docs, total_tokens)``: the cached
    aggregate plus any per-batch stats deltas the cache has not absorbed
    yet."""
    import json as _json

    from siddhi_io_cdc_spark.streaming.mor import is_mor, mor_extras

    base = index_path.rstrip("/")
    stats_path = base + "/_stats.json"
    if not _hadoop_exists(spark, stats_path):
        r = (
            _state_table(spark, base, "docs")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("t"))
            .first()
        )
        return int(r["n"]), int(r["t"] or 0)
    cached = _json.loads(_hadoop_read_text(spark, stats_path))
    n, t = int(cached["n_docs"]), int(cached["total_tokens"])
    if is_mor(spark, base):
        through = int(cached.get("through_seq", 0))
        for seq, extra in mor_extras(spark, base, "docs"):
            if seq > through:
                n += int(extra.get("dn", 0))
                t += int(extra.get("dtok", 0))
    return n, t


def apply_changelog_bm25(
    spark,
    index_path: str,
    batch_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seq_col: str = "ts_ms",
    op_col: str = "operation",
    batch_id=None,
    expect_epoch: int | None = None,
) -> int | None:
    """Apply one micro-batch of flattened CDC events to the inverted index:
    O(batch) writes, no index read.

    Per key, only the latest event by ``seq_col`` decides the final state
    (``apply_changelog`` semantics). Tombstones shadow by doc id, so the
    postings need no before-image bucket math — but update/delete rows
    must still carry a non-NULL ``before_<text_col>``: the corpus-stats
    delta (``dn``/``dtok``) adjusts ``total_tokens`` by the replaced
    documents' lengths, which only the old text yields without a corpus
    scan. The delta trusts changelog op semantics (insert = row created,
    delete = row existed; 'read' snapshot rows count as inserts);
    compaction recomputes the scalars exactly from the live view, so any
    drift from a lying changelog heals at the next compaction.

    Returns the claimed writer epoch (thread it back as ``expect_epoch``
    next batch to fence alternating writers); a marker-skipped replay
    returns None. An index written before the indexes were maintained
    merge-on-read (no ``_mor.json``) is refused: rebuild it with
    ``write_bm25_index``.
    """
    import json as _json

    from siddhi_io_cdc_spark.operators.mutate import rekey_deletes
    from siddhi_io_cdc_spark.streaming.mor import (
        _read_mor, latest_per_key, mor_append, mor_begin_apply,
        mor_pending_seqs, require_before_images, require_mor,
    )

    base = index_path.rstrip("/")
    require_mor(spark, base, "write_bm25_index")
    if batch_id is not None and _hadoop_exists(spark, _marker_path(base, batch_id)):
        return None
    meta = _json.loads(_hadoop_read_text(spark, base + "/_meta.json"))
    nbuckets, doc_buckets = meta["nbuckets"], meta["doc_buckets"]

    # Multi-op flatten fills a delete's missing after image with TYPE
    # DEFAULTS (doc_id would read 0, deleting the wrong document) — re-key
    # deletes from the before image first, same as every other applier.
    batch_df = rekey_deletes(batch_df, [id_col], op_col)
    before_text = f"before_{text_col}"
    require_before_images(
        batch_df, op_col, before_text,
        "the corpus-stats delta needs the replaced document's old length",
    )
    latest = latest_per_key(batch_df, id_col, seq_col)
    batch_ids = latest.select(F.col(id_col).alias("doc_id")).distinct()
    upserts = latest.where(F.col(op_col) != "delete")

    after_terms = _doc_terms(upserts, text_col, id_col)
    new_tf = (
        after_terms.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn(TBUCKET_COL, _tbucket(F.col("term"), nbuckets))
    )
    counted = after_terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    new_dl = (
        upserts.select(F.col(id_col).alias("doc_id"))
        .join(counted, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("__c"), F.lit(0)).cast("bigint").alias("dl"),
        )
        .withColumn(
            DBUCKET_COL,
            F.pmod(F.xxhash64(F.col("doc_id")), F.lit(doc_buckets)).cast("int"),
        )
    )

    # Batch-local stats delta — per key, the EARLIEST event decides
    # pre-batch existence and length (first op update/delete => the doc
    # pre-existed with the first before image's length; insert/read => it
    # did not), the LATEST decides the final state. This keeps intra-batch
    # chains exact: insert-then-delete nets 0 docs and 0 tokens, an
    # update chain A->B->C subtracts dl(A), not dl(B).
    earliest = (
        batch_df.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy(F.col(seq_col).asc())
            ),
        )
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    pre_existing = earliest.where(F.col(op_col).isin("update", "delete"))
    counts = (
        latest.agg(
            F.sum(F.when(F.col(op_col) != "delete", 1).otherwise(0)).alias("alive")
        ).first(),
        earliest.agg(
            F.sum(
                F.when(F.col(op_col).isin("update", "delete"), 1).otherwise(0)
            ).alias("pre")
        ).first(),
    )
    tok_after = int(after_terms.count())
    # require_before_images allows a batch with NO before_<text> column
    # when it carries no update/delete rows (insert-only changelogs
    # without the update projection) — pre_existing is empty then, but
    # selecting the missing column would still fail at analysis time.
    tok_before = (
        int(_doc_terms(pre_existing, before_text, id_col).count())
        if before_text in batch_df.columns
        else 0
    )
    extra = {
        "dn": int(counts[0]["alive"] or 0) - int(counts[1]["pre"] or 0),
        "dtok": tok_after - tok_before,
    }

    seq, epoch = mor_begin_apply(spark, base, batch_id, expect_epoch=expect_epoch)
    mor_append(spark, base, "postings", new_tf, batch_ids, seq, epoch=epoch)
    mor_append(
        spark, base, "docs", new_dl, batch_ids, seq, extra_json=extra,
        epoch=epoch,
    )
    if batch_id is not None:
        _hadoop_write_text(spark, _marker_path(base, batch_id), "done")
    # same cadence as mor.maybe_autocompact, but through the bm25 wrappers
    # so the stats cache folds in the right order relative to the fold
    meta_mor = _read_mor(spark, base)
    every = meta_mor.get("compact_every") or 0
    pend_n = len(mor_pending_seqs(spark, base))
    since = meta_mor.get("batches_since_compact")
    majored = since if since is not None else pend_n
    if every and majored >= every:
        compact_bm25_index(spark, base, epoch=epoch)
    else:
        minor = meta_mor.get("minor_every") or 0
        if minor and pend_n >= minor:
            minor_compact_bm25_index(spark, base, epoch=epoch)
    return epoch


def compact_bm25_index(spark, index_path: str, epoch: int | None = None) -> bool:
    """Compaction for a BM25 index (the applier auto-compacts
    every ``compact_every`` batches through this path too).

    Ordering is the crash-safety point: the pending stats deltas are
    folded into ``_stats.json`` (stamped ``through_seq`` = the pending
    horizon) BEFORE ``mor_compact`` deletes the delta dirs that carry
    them. A crash after the fold but before the pointer swap double-adds
    nothing — readers skip extras at or below the recorded horizon; a
    crash after the swap reads the folded cache. (Folding after the
    compaction would open a window where the deltas are gone and the
    cache never absorbed them — stale scalars forever.) After a
    successful compaction the scalars are recomputed EXACTLY from the
    compacted docs table at the same horizon, healing any drift a lying
    changelog introduced into the batch-local deltas.

    Fencing: the ops path (no ``epoch``) claims writership BEFORE the
    stats fold so a concurrently running maintainer fails loudly at its
    next append instead of appending a delta between the fold and the
    swap (which the fold would have missed)."""
    from siddhi_io_cdc_spark.streaming.mor import (
        mor_compact, mor_pending_seqs, mor_take_writer,
    )

    base = index_path.rstrip("/")
    if epoch is None:
        epoch = mor_take_writer(spark, base)
    pend = mor_pending_seqs(spark, base)
    if not pend:
        return False
    n, t = read_bm25_stats(spark, base)  # base cache + pending extras
    _hadoop_write_text(
        spark, base + "/_stats.json",
        f'{{"n_docs": {int(n)}, "total_tokens": {int(t)}, '
        f'"through_seq": {int(pend[-1])}}}',
    )
    mor_compact(spark, base, epoch=epoch)
    _write_stats(spark, base, through_seq=int(pend[-1]))  # exact recompute
    return True


def minor_compact_bm25_index(
    spark, index_path: str, epoch: int | None = None, force: bool = False
) -> bool:
    """Size-tiered MINOR compaction for a BM25 index: fold the
    pending deltas into one delta without rewriting the base (see
    ``mor.mor_minor_compact`` and the BASELINE.md round-13 curve — the
    base rewrite dominates the major fold's wall, so ingest-dominant
    states run a large ``compact_every`` and call this to bound the read
    tax in between).

    Stats ordering mirrors :func:`compact_bm25_index`: the pending
    ``dn``/``dtok`` extras are folded into ``_stats.json`` (stamped with
    the pending horizon) BEFORE the fold drops their sidecar files, so
    readers never lose or double-count a stats delta in any crash
    interleaving.

    In-flight guard: this fold REFUSES (raises) while a streamed batch is
    recorded but unmarked — i.e. crashed and awaiting engine replay. A
    fold covering such a batch would force its replay to a fresh seq
    (the ``batch_seqs`` prune — without which the replay would be
    silently lost, the worse failure), and the replayed extra would then
    re-add ``dn``/``dtok`` the fold's stats horizon already absorbed:
    document content stays exact (tombstone shadowing) but the two
    scalars would drift until the next MAJOR compaction's exact
    recompute. Refusing keeps the minor path drift-free: let the replay
    land (it reuses its recorded seq byte-idempotently), or — if the
    stream is being abandoned, e.g. mid-takeover — run the documented
    takeover ``compact_bm25_index`` (whose exact recompute absorbs the
    partial batch) or pass ``force=True`` to accept the bounded drift.
    The in-batch auto-fold can never hit the guard: the engine replays a
    crashed batch before running any later one."""
    from siddhi_io_cdc_spark.streaming.mor import (
        mor_minor_compact, mor_pending_seqs, mor_take_writer,
    )

    from siddhi_io_cdc_spark.streaming.mor import _read_mor

    base = index_path.rstrip("/")
    if epoch is None:
        epoch = mor_take_writer(spark, base)
    pend = mor_pending_seqs(spark, base)
    if len(pend) < 2:
        return False
    if not force:
        recorded = _read_mor(spark, base).get("batch_seqs", {})
        in_flight = sorted(
            bid for bid, s in recorded.items()
            if int(s) in set(pend)
            and not _hadoop_exists(spark, _marker_path(base, bid))
        )
        if in_flight:
            raise ValueError(
                f"minor_compact_bm25_index: streamed batch(es) {in_flight} "
                "are recorded but unmarked (crashed, awaiting engine "
                "replay); folding over them would make the replayed stats "
                "delta double-count. Let the replay land first, run "
                "compact_bm25_index (exact recompute), or pass force=True "
                "to accept scalar drift until the next major compaction."
            )
    n, t = read_bm25_stats(spark, base)  # base cache + pending extras
    _hadoop_write_text(
        spark, base + "/_stats.json",
        f'{{"n_docs": {int(n)}, "total_tokens": {int(t)}, '
        f'"through_seq": {int(pend[-1])}}}',
    )
    return mor_minor_compact(spark, base, epoch=epoch, allow_drop_extras=True)


def foreach_batch_bm25_index(
    spark,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    seq_col: str = "ts_ms",
    op_col: str = "operation",
):
    """``foreachBatch`` adapter: wire a flattened CDC stream into
    :func:`apply_changelog_bm25`. Exactly-once per ``batch_id`` (recorded
    sequence + marker file); alternating writers are fenced by the
    threaded epoch."""
    return _fenced_adapter(
        lambda batch_df, batch_id, epoch: apply_changelog_bm25(
            spark,
            index_path,
            batch_df,
            text_col=text_col,
            id_col=id_col,
            seq_col=seq_col,
            op_col=op_col,
            batch_id=batch_id,
            expect_epoch=epoch,
        )
    )


def bm25_topk_indexed(
    spark,
    index_path: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Answer a BM25 top-k from the maintained index: reads ONLY the query
    terms' postings buckets (partition-pruned) plus the narrow docs table.
    Bit-identical to ``functions/retrieval.bm25_topk`` over the equivalent
    corpus: each per-term score uses the same literals and association
    order as ``bm25_score`` (the term's document frequency enters as a
    driver-collected BIGINT literal — same value, same arithmetic), terms
    sum in fixed order with exact 0.0 for absent terms, and the ordering
    ties break on doc_id."""
    import json as _json

    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if len(set(query_terms)) != len(query_terms):
        raise ValueError("query_terms must be distinct (duplicate terms double-count)")
    base = index_path.rstrip("/")
    meta = _json.loads(_hadoop_read_text(spark, base + "/_meta.json"))
    nbuckets = meta["nbuckets"]

    # term -> bucket via the same JVM hash (|terms|-row job, driver-safe)
    tdf = spark.createDataFrame([(t,) for t in query_terms], "term STRING")
    buckets = sorted({
        r[0]
        for r in tdf.select(_tbucket(F.col("term"), nbuckets).alias("b")).collect()
    })
    postings = (
        _state_table(spark, base, "postings")
        .where(F.col(TBUCKET_COL).isin(buckets))  # partition-pruned
        .where(F.col("term").isin(list(query_terms)))
    )
    # per-term document frequency: a count within the pruned buckets only;
    # <= |terms| rows to the driver, entering the score as literals
    dfreq = {
        r["term"]: r["df"]
        for r in postings.groupBy("term").agg(F.count(F.lit(1)).alias("df")).collect()
    }
    docs = _state_table(spark, base, "docs").select("doc_id", "dl")
    # derived-state cache plus the pending per-batch deltas: same two
    # BIGINTs the aggregate would produce, so scores stay bit-identical
    n_docs, total_tokens = read_bm25_stats(spark, base)
    stats = spark.createDataFrame(
        [(int(n_docs), int(total_tokens))],
        "n_docs BIGINT, total_tokens BIGINT",
    )
    # one row per doc holding its query-term tfs (bounded pivot on the
    # literal term list; docs with no query term never appear — the same
    # "matched" semantics as bm25_score)
    tfp = postings.groupBy("doc_id").pivot("term", list(query_terms)).agg(
        F.first("tf")
    )
    staged = tfp.join(docs, "doc_id").crossJoin(F.broadcast(stats))

    norm_len = F.col("dl") * F.col("n_docs") / F.col("total_tokens")

    def term_score(t: str) -> Column:
        tf = F.coalesce(F.col(f"`{t}`"), F.lit(0)).cast("bigint")
        dfq = F.lit(int(dfreq.get(t, 0))).cast("bigint")
        idf = F.log(
            F.lit(1.0) + (F.col("n_docs") - dfq + F.lit(0.5)) / (dfq + F.lit(0.5))
        )
        score = idf * (
            tf
            * F.lit(k1 + 1.0)
            / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * norm_len))
        )
        return F.when(tf > 0, score).otherwise(F.lit(0.0))

    total = reduce(
        lambda a, t: a + term_score(t), query_terms[1:], term_score(query_terms[0])
    )
    top = (
        staged.select("doc_id", F.round(total, 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w))

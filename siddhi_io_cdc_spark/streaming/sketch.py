"""CDC-incremental sketch maintenance: count-min and HyperLogLog state
kept current under a changelog stream.

``functions/sketch.py`` builds sketches from a corpus snapshot; a serving
path wants them maintained as documents arrive, mutate, and disappear
through CDC — without re-scanning the corpus per batch. The two sketches
have fundamentally different update algebra, and this module is explicit
about it:

- **Count-min is LINEAR** (a turnstile sketch): an insert adds 1 to each
  of the value's cells, a delete subtracts 1, an update is both. The
  maintained state after any changelog equals ``cms_sketch`` of the
  corpus the changelog produces — exactly, counter for counter (pinned by
  test against ``operators.mutate.apply_changelog``). Per batch the work
  is O(batch tokens + sketch), never O(corpus).
- **HyperLogLog is MONOTONE** (max-merge only): registers cannot forget.
  Deletes/updates therefore either raise (default) or, with
  ``on_mutate="union"``, the state is documented as "distinct values EVER
  ingested" — still a meaningful curation statistic (append-only distinct
  growth), but not the live corpus's cardinality.

Both appliers take the same flattened-changelog contract as the BM25 and
IVF index maintainers (``streaming/bm25_index.py``, ``ivf_index.py``):
deletes are re-keyed from the before image, and any update/delete row
must carry a non-NULL ``before_<text_col>`` — a dropped document's cells
are unknowable without its old text.

Crash story — versioned state, not in-place merge: the partition-merge
appliers are replay-idempotent because each partition's content is a pure
function of {old rows not in batch} ∪ {batch}; a *linear* sketch is not
(re-adding a delta double-counts). So state is written as a NEW
``state-<batch_id>`` directory and committed by swapping a single pointer
file: a crash anywhere leaves the pointer on the complete previous state,
and the replay rewrites the partial directory before moving the pointer.
The pointer records the applied batch id, which doubles as the
replay-skip marker. State is sketch-sized (``depth*width`` / ``2^p``
rows), so the version write is O(sketch) regardless of corpus size.

Sketch geometry (width/depth/seed/p) is persisted in ``_meta.json`` at
init and read back by the appliers — a mismatched probe hash would
corrupt the state silently otherwise.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from siddhi_io_cdc_spark.functions.sketch import cms_sketch, hll_registers
from siddhi_io_cdc_spark.functions.text import TOKEN_RE
from siddhi_io_cdc_spark.functions.similarity import (
    _hadoop_read_text,
    _hadoop_write_text,
)
from siddhi_io_cdc_spark.streaming.ivf_index import (
    _hadoop_delete,
    _hadoop_list_dirs,
)

_POINTER = "_current.json"
_META = "_meta.json"


def _tokens(df: DataFrame, text_col: str) -> DataFrame:
    """The house token stream (one row per occurrence), matching the
    batch-side sketch contract queries."""
    return df.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_RE), 0)
        ).alias("tok")
    )


def _read_pointer(spark, base: str) -> dict:
    return json.loads(_hadoop_read_text(spark, base + "/" + _POINTER))


def _commit_state(spark, base: str, df: DataFrame, batch_id) -> None:
    """Write the new state version, move the pointer, GC older versions."""
    name = f"state-{batch_id}" if batch_id is not None else f"state-{uuid.uuid4().hex[:8]}"
    # overwrite: a replayed half-written version is rewritten whole before
    # the pointer ever references it
    df.write.mode("overwrite").parquet(base + "/" + name)
    _hadoop_write_text(
        spark,
        base + "/" + _POINTER,
        json.dumps({"dir": name, "batch_id": batch_id}),
    )
    for d in _hadoop_list_dirs(spark, base):
        if d.startswith("state-") and d != name:
            _hadoop_delete(spark, base + "/" + d)


def _state_df(spark, base: str) -> DataFrame:
    return spark.read.parquet(base + "/" + _read_pointer(spark, base)["dir"])


def _already_applied(spark, base: str, batch_id) -> bool:
    if batch_id is None:
        return False
    applied = _read_pointer(spark, base).get("batch_id")
    return applied is not None and applied >= batch_id


def _guard_before_image(batch_df: DataFrame, text_col: str, op_col: str) -> None:
    before = f"before_{text_col}"
    movers = batch_df.where(F.col(op_col).isin("update", "delete"))
    if before not in batch_df.columns:
        if movers.limit(1).count():
            raise ValueError(
                f"batch contains update/delete ops but no '{before}' column: "
                "the old document's sketch cells are unknowable without the "
                "old text. Flatten the stream with the update projection."
            )
    elif movers.where(F.col(before).isNull()).limit(1).count():
        raise ValueError(
            f"batch contains update/delete rows with a NULL '{before}' "
            "before image: the old cells are unknowable, the stale "
            "contribution would survive. Emit whole before images."
        )


def write_cms_state(
    spark,
    df: DataFrame,
    path: str,
    text_col: str = "text",
    width: int = 512,
    depth: int = 4,
    seed: int = 0,
) -> None:
    """Initialize the maintained CMS over a corpus snapshot."""
    base = path.rstrip("/")
    _hadoop_write_text(
        spark,
        base + "/" + _META,
        json.dumps(
            {"kind": "cms", "width": width, "depth": depth, "seed": seed,
             "text_col": text_col}
        ),
    )
    sk = cms_sketch(_tokens(df, text_col), "tok", width=width, depth=depth, seed=seed)
    _commit_state(spark, base, sk, None)


def read_cms(spark, path: str) -> DataFrame:
    """The current counters ``(d, bucket, cnt)`` — probe-compatible with
    ``functions.sketch.cms_point_estimates`` (pass the stored meta's
    width/depth/seed)."""
    return _state_df(spark, path.rstrip("/"))


def apply_changelog_cms(
    spark,
    batch_df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    seq_col: str = "ts_ms",
    op_col: str = "operation",
    batch_id=None,
) -> None:
    """Apply one flattened-changelog micro-batch to the maintained CMS.

    Per document the batch contributes its NET token delta: the latest
    surviving after image adds, the earliest event's before image (when
    that event is an update/delete — i.e. the document existed before the
    batch) subtracts. Intra-batch chains telescope away, so the result
    equals ``cms_sketch`` of the corpus ``apply_changelog`` would produce
    — the linearity property the tests pin. Counters that reach exactly 0
    are dropped; negative counters (a changelog deleting never-ingested
    text) are kept, as a linear sketch must.
    """
    from siddhi_io_cdc_spark.operators.mutate import rekey_deletes

    base = path.rstrip("/")
    if _already_applied(spark, base, batch_id):
        return
    meta = json.loads(_hadoop_read_text(spark, base + "/" + _META))
    width, depth, seed = meta["width"], meta["depth"], meta["seed"]
    text_col = meta["text_col"]
    before = f"before_{text_col}"

    batch_df = rekey_deletes(batch_df, [id_col], op_col)
    _guard_before_image(batch_df, text_col, op_col)

    w_desc = Window.partitionBy(id_col).orderBy(F.col(seq_col).desc())
    w_asc = Window.partitionBy(id_col).orderBy(F.col(seq_col).asc())
    latest = (
        batch_df.withColumn("__rn", F.row_number().over(w_desc))
        .where(F.col("__rn") == 1)
    )
    earliest = (
        batch_df.withColumn("__rn", F.row_number().over(w_asc))
        .where(F.col("__rn") == 1)
    )

    def cells(toks: DataFrame, sign: int) -> DataFrame:
        sk = cms_sketch(toks, "tok", width=width, depth=depth, seed=seed)
        return sk.select("d", "bucket", (F.col("cnt") * sign).alias("delta"))

    plus = cells(_tokens(latest.where(F.col(op_col) != "delete"), text_col), 1)
    minus = cells(
        _tokens(
            earliest.where(F.col(op_col).isin("update", "delete")), before
        )
        if before in batch_df.columns
        else _tokens(latest.limit(0), text_col),
        -1,
    )
    delta = (
        plus.unionByName(minus)
        .groupBy("d", "bucket")
        .agg(F.sum("delta").cast("bigint").alias("delta"))
    )
    old = _state_df(spark, base)
    merged = (
        old.join(delta, ["d", "bucket"], "full_outer")
        .select(
            "d",
            "bucket",
            (
                F.coalesce(F.col("cnt"), F.lit(0))
                + F.coalesce(F.col("delta"), F.lit(0))
            )
            .cast("bigint")
            .alias("cnt"),
        )
        .where(F.col("cnt") != 0)
    )
    _commit_state(spark, base, merged, batch_id)


def write_hll_state(
    spark,
    df: DataFrame,
    path: str,
    text_col: str = "text",
    p: int = 8,
    seed: int = 0,
) -> None:
    """Initialize the maintained HLL registers over a corpus snapshot."""
    base = path.rstrip("/")
    _hadoop_write_text(
        spark,
        base + "/" + _META,
        json.dumps({"kind": "hll", "p": p, "seed": seed, "text_col": text_col}),
    )
    regs = hll_registers(_tokens(df, text_col), "tok", p=p, seed=seed)
    _commit_state(spark, base, regs, None)


def read_hll_registers(spark, path: str) -> DataFrame:
    """Current registers ``(bucket, max_rho)`` — feed to
    ``functions.sketch.hll_estimate`` with the stored meta's ``p``."""
    return _state_df(spark, path.rstrip("/"))


def apply_changelog_hll(
    spark,
    batch_df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    seq_col: str = "ts_ms",
    op_col: str = "operation",
    on_mutate: str = "error",
    batch_id=None,
) -> None:
    """Merge one micro-batch into the maintained HLL registers.

    HLL registers are max-monotone: there is no subtraction, so a delete
    (or the before-side of an update) CANNOT be reflected. Default
    ``on_mutate="error"`` raises when the batch contains update/delete
    ops; ``on_mutate="union"`` merges every non-delete after image and
    documents the state as "distinct tokens EVER ingested" — append-only
    distinct growth, not live-corpus cardinality.
    """
    if on_mutate not in ("error", "union"):
        raise ValueError(f"on_mutate must be 'error' or 'union' (got {on_mutate!r})")
    from siddhi_io_cdc_spark.operators.mutate import rekey_deletes

    base = path.rstrip("/")
    if _already_applied(spark, base, batch_id):
        return
    meta = json.loads(_hadoop_read_text(spark, base + "/" + _META))
    p, seed, text_col = meta["p"], meta["seed"], meta["text_col"]

    batch_df = rekey_deletes(batch_df, [id_col], op_col)
    if on_mutate == "error":
        movers = batch_df.where(F.col(op_col).isin("update", "delete"))
        if movers.limit(1).count():
            raise ValueError(
                "batch contains update/delete ops: HLL registers are "
                "max-monotone and cannot forget. Rebuild with "
                "write_hll_state, or pass on_mutate='union' to keep an "
                "ever-ingested-distinct sketch."
            )
    new_regs = hll_registers(
        _tokens(batch_df.where(F.col(op_col) != "delete"), text_col),
        "tok",
        p=p,
        seed=seed,
    )
    merged = (
        _state_df(spark, base)
        .unionByName(new_regs)
        .groupBy("bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    _commit_state(spark, base, merged, batch_id)


def write_bloom_state(
    spark,
    df: DataFrame,
    path: str,
    text_col: str = "text",
    m_bits: int = 4096,
    k: int = 3,
    seed: int = 0,
) -> None:
    """Initialize the maintained Bloom bit set over a corpus snapshot —
    the third maintained monotone/linear trio member next to CMS and HLL
    (curation use: "was this token/shingle/URL ever ingested" ahead of an
    expensive exact membership join)."""
    from siddhi_io_cdc_spark.functions.sketch import bloom_bits

    base = path.rstrip("/")
    _hadoop_write_text(
        spark,
        base + "/" + _META,
        json.dumps(
            {"kind": "bloom", "m_bits": m_bits, "k": k, "seed": seed,
             "text_col": text_col}
        ),
    )
    bits = bloom_bits(_tokens(df, text_col), "tok", m_bits=m_bits, k=k, seed=seed)
    _commit_state(spark, base, bits, None)


def read_bloom_bits(spark, path: str) -> DataFrame:
    """Current set bits ``(bit)`` — probe-compatible with
    ``functions.sketch.bloom_maybe_contains`` (pass the stored meta's
    m_bits/k/seed)."""
    return _state_df(spark, path.rstrip("/"))


def apply_changelog_bloom(
    spark,
    batch_df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    seq_col: str = "ts_ms",
    op_col: str = "operation",
    on_mutate: str = "error",
    batch_id=None,
) -> None:
    """OR one micro-batch's bits into the maintained Bloom set.

    Bloom bits are OR-monotone: there is no bit clearing, so a delete (or
    the before-side of an update) CANNOT be reflected — same algebra, and
    same policy surface, as the HLL registers. Default
    ``on_mutate="error"`` raises when the batch contains update/delete
    ops; ``on_mutate="union"`` merges every non-delete after image and
    documents the state as "tokens EVER ingested" — exactly the
    no-false-negative guarantee a decontamination screen wants (a
    document that ever entered the corpus keeps tripping the screen even
    after deletion)."""
    if on_mutate not in ("error", "union"):
        raise ValueError(f"on_mutate must be 'error' or 'union' (got {on_mutate!r})")
    from siddhi_io_cdc_spark.functions.sketch import bloom_bits
    from siddhi_io_cdc_spark.operators.mutate import rekey_deletes

    base = path.rstrip("/")
    if _already_applied(spark, base, batch_id):
        return
    meta = json.loads(_hadoop_read_text(spark, base + "/" + _META))
    m_bits, k, seed = meta["m_bits"], meta["k"], meta["seed"]
    text_col = meta["text_col"]

    batch_df = rekey_deletes(batch_df, [id_col], op_col)
    if on_mutate == "error":
        movers = batch_df.where(F.col(op_col).isin("update", "delete"))
        if movers.limit(1).count():
            raise ValueError(
                "batch contains update/delete ops: Bloom bits are "
                "OR-monotone and cannot forget. Rebuild with "
                "write_bloom_state, or pass on_mutate='union' to keep an "
                "ever-ingested membership screen."
            )
    new_bits = bloom_bits(
        _tokens(batch_df.where(F.col(op_col) != "delete"), text_col),
        "tok",
        m_bits=m_bits,
        k=k,
        seed=seed,
    )
    merged = _state_df(spark, base).unionByName(new_bits).distinct()
    _commit_state(spark, base, merged, batch_id)


def bloom_screen(spark, path: str, keys: DataFrame, key_col: str) -> DataFrame:
    """Probe the MAINTAINED bit set: ``keys``' columns plus ``bloom_hit``
    (false = definitely never ingested; the decontamination pre-filter
    shape — the ≤ m_bits state broadcasts, the probe side never
    shuffles)."""
    from siddhi_io_cdc_spark.functions.sketch import bloom_maybe_contains

    base = path.rstrip("/")
    meta = json.loads(_hadoop_read_text(spark, base + "/" + _META))
    return bloom_maybe_contains(
        _state_df(spark, base), keys, key_col,
        m_bits=meta["m_bits"], k=meta["k"], seed=meta["seed"],
    )


def foreach_batch_cms(spark, path: str, **kwargs):
    """``writeStream.foreachBatch`` adapter for :func:`apply_changelog_cms`."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_changelog_cms(spark, batch_df, path, batch_id=batch_id, **kwargs)

    return _apply


def foreach_batch_bloom(spark, path: str, **kwargs):
    """``writeStream.foreachBatch`` adapter for :func:`apply_changelog_bloom`."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_changelog_bloom(spark, batch_df, path, batch_id=batch_id, **kwargs)

    return _apply


def write_qhist_state(
    spark,
    df: DataFrame,
    path: str,
    text_col: str = "text",
    lo: float = 0.0,
    hi: float = 8192.0,
    bins: int = 256,
) -> None:
    """Initialize the maintained document-length quantile histogram over a
    corpus snapshot: the fixed-bin TURNSTILE quantile sketch
    (``functions.sketch.quantile_histogram``) of ``length(text_col)`` —
    the third leg of the maintained-sketch triad (HLL distinct, CMS
    frequency, length distribution). GK/KLL-style quantile sketches are
    insert-only; the linear histogram is what stays maintainable under a
    changelog's updates and deletes."""
    from siddhi_io_cdc_spark.functions.sketch import quantile_histogram

    base = path.rstrip("/")
    _hadoop_write_text(
        spark,
        base + "/" + _META,
        json.dumps(
            {"kind": "qhist", "lo": float(lo), "hi": float(hi),
             "bins": int(bins), "text_col": text_col}
        ),
    )
    vals = df.select(F.length(F.col(text_col)).alias("__v"))
    sk = quantile_histogram(vals, "__v", lo, hi, bins)
    _commit_state(spark, base, sk, None)


def read_qhist(spark, path: str) -> DataFrame:
    """The current counters ``(bucket, cnt)`` — estimate-compatible with
    ``functions.sketch.quantile_estimates`` (pass the stored meta's
    lo/hi/bins)."""
    return _state_df(spark, path.rstrip("/"))


def qhist_quantiles(spark, path: str, qs) -> DataFrame:
    """Interpolated quantiles of the MAINTAINED length distribution —
    ``quantile_estimates`` over the current state with the stored range.

    The turnstile state may legitimately hold NEGATIVE counters while a
    changelog is mid-flight (a delete for a not-yet-ingested document),
    but quantiles over such a state are undefined: the cumulative sum is
    non-monotone, so the 'first bucket reaching target' pick and the
    interpolation fraction both go wrong silently. Serving fails LOUDLY
    here instead — re-apply the missing changelog, then query."""
    from siddhi_io_cdc_spark.functions.sketch import quantile_estimates

    base = path.rstrip("/")
    meta = json.loads(_hadoop_read_text(spark, base + "/" + _META))
    state = _state_df(spark, base)
    # ≤ `bins`-row state: the drift check is one tiny driver action.
    neg = state.where(F.col("cnt") < 0).limit(1).collect()
    if neg:
        raise ValueError(
            f"qhist state at {base} has a negative counter "
            f"(bucket {neg[0]['bucket']}: {neg[0]['cnt']}) — a changelog "
            f"delete arrived before its insert; quantiles over a drifted "
            f"turnstile state are undefined. Apply the missing batches "
            f"before serving."
        )
    return quantile_estimates(state, qs, meta["lo"], meta["hi"], meta["bins"])


def apply_changelog_qhist(
    spark,
    batch_df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    seq_col: str = "ts_ms",
    op_col: str = "operation",
    batch_id=None,
) -> None:
    """Apply one flattened-changelog micro-batch to the maintained length
    histogram: the latest surviving after image adds one count in its
    length's bin, the earliest before image (update/delete — the document
    existed before the batch) subtracts one. Intra-batch chains telescope,
    so the state equals the rebuild over ``apply_changelog``'s corpus —
    the same linearity the CMS maintainer pins. Zero counters are
    dropped; negative counters (a changelog deleting a never-ingested
    document) are kept, as a linear sketch must."""
    from siddhi_io_cdc_spark.functions.sketch import quantile_histogram
    from siddhi_io_cdc_spark.operators.mutate import rekey_deletes

    base = path.rstrip("/")
    if _already_applied(spark, base, batch_id):
        return
    meta = json.loads(_hadoop_read_text(spark, base + "/" + _META))
    lo, hi, bins = meta["lo"], meta["hi"], meta["bins"]
    text_col = meta["text_col"]
    before = f"before_{text_col}"

    batch_df = rekey_deletes(batch_df, [id_col], op_col)
    _guard_before_image(batch_df, text_col, op_col)

    w_desc = Window.partitionBy(id_col).orderBy(F.col(seq_col).desc())
    w_asc = Window.partitionBy(id_col).orderBy(F.col(seq_col).asc())
    latest = (
        batch_df.withColumn("__rn", F.row_number().over(w_desc))
        .where(F.col("__rn") == 1)
    )
    earliest = (
        batch_df.withColumn("__rn", F.row_number().over(w_asc))
        .where(F.col("__rn") == 1)
    )

    def cells(rows: DataFrame, col: str, sign: int) -> DataFrame:
        vals = rows.select(F.length(F.col(col)).alias("__v"))
        sk = quantile_histogram(vals, "__v", lo, hi, bins)
        return sk.select("bucket", (F.col("cnt") * sign).alias("delta"))

    plus = cells(latest.where(F.col(op_col) != "delete"), text_col, 1)
    minus = (
        cells(
            earliest.where(F.col(op_col).isin("update", "delete")), before, -1
        )
        if before in batch_df.columns
        else cells(latest.limit(0), text_col, -1)
    )
    delta = (
        plus.unionByName(minus)
        .groupBy("bucket")
        .agg(F.sum("delta").cast("bigint").alias("delta"))
    )
    old = _state_df(spark, base)
    merged = (
        old.join(delta, "bucket", "full_outer")
        .select(
            "bucket",
            (
                F.coalesce(F.col("cnt"), F.lit(0))
                + F.coalesce(F.col("delta"), F.lit(0))
            ).cast("bigint").alias("cnt"),
        )
        .where(F.col("cnt") != 0)
    )
    _commit_state(spark, base, merged, batch_id)


def foreach_batch_qhist(spark, path: str, **kwargs):
    """``writeStream.foreachBatch`` adapter for :func:`apply_changelog_qhist`."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_changelog_qhist(spark, batch_df, path, batch_id=batch_id, **kwargs)

    return _apply

"""Merge-on-read (MOR) state layout for the CDC-maintained indexes (IVF,
IVF-PQ, BM25, n-gram LM) and the bucketed changelog merge store
(``operators/mutate.py``).

Why this exists — the O(batch) bound the appliers claim. A copy-on-write
layout rewrites every *touched* hash-bucket partition per micro-batch.
For token-level state that collapses: a ~100-document batch holds
thousands of distinct terms / 5-grams, whose hashes land in essentially
**all** ``nbuckets`` partitions — measured at sf0.1 the n-gram applier
touched 64/64 buckets for a 100-doc batch, so the "touched-bucket"
rewrite was a full O(corpus) rewrite and the per-batch cost grew
linearly with corpus size (see BASELINE.md round 12 for the measured
curve). The indexes are therefore maintained merge-on-read only.

MOR makes the apply path O(batch) by construction, the same way Delta
Lake / Iceberg / Hudi merge-on-read tables do:

- **apply** appends two bounded artifacts and never reads base state:
  ``_delta/<table>/__seq=<k>/`` (the batch's new rows) and
  ``_tomb/<table>/__seq=<k>/`` (the batch's key ids — every pre-batch row
  of a batch key is shadowed, covering update-moves, deletes, and
  intra-batch chains without needing any before-image bucket math). The
  delta layout is fixed per table when :func:`mor_init` records it: the
  index tables partition each delta by their cell / hash bucket, so a
  probe's partition predicate prunes the deltas as it prunes the base;
  the changelog store's probes are whole-table reads, and its batch keys
  spread over every bucket, so a partitioned delta would be one small
  file per bucket per batch — it writes each delta unpartitioned
  instead (one file, the bucket an ordinary column). The minor fold
  writes its delta in the same layout. Keys may be composite
  (``id_col`` a list).
- **read** reconstructs the live view: ``base ∪ deltas`` anti-shadowed by
  tombstones — a row written at sequence ``s`` survives iff no tombstone
  for its id carries a sequence ``> s``. One narrow join against the
  (small, AQE-broadcastable) tombstone table.
- **compact** folds the live view into a fresh versioned base directory
  and commits by rewriting the single ``_mor.json`` pointer file — the
  Iceberg-style swap: a crash before the pointer write leaves the old
  view intact; after it, the superseded directories are garbage whose
  deletion is DEFERRED ``retain_cycles`` compaction/fold cycles
  (default 1): each commit pushes its garbage as one GENERATION onto the
  pointer's ``gc`` list, and the start of every later compaction or
  minor fold sweeps generations beyond the retention depth. That
  deferral is reader snapshot isolation: an in-flight probe whose plan
  was built just before the swap still references the old base and the
  swept delta dirs — Iceberg keeps them via snapshot retention; we keep
  them ``retain_cycles`` cycles (raise it for serving fleets whose
  probes can outlive a cycle). A generation only leaves the pointer
  AFTER its dirs are deleted, so a crash mid-sweep just re-deletes
  (idempotent) on the next pass; retained delta/tomb generations stay
  reader-ignored because the pending/live scans parse their seqs out of
  the ``gc`` list. Idle states (no new commits to age generations out)
  can reclaim space with the explicit :func:`mor_gc` pass. Compaction
  runs automatically every ``compact_every`` batches (default 16),
  amortizing the base rewrite over that many batches.
- **minor compact** (:func:`mor_minor_compact`, size-tiered): folds the
  pending deltas into ONE delta without rewriting the base — the fold
  wall of a major compaction is dominated by the corpus-sized base
  rewrite (measured flat in pending count, BASELINE.md r13), so
  ingest-dominant states run a large ``compact_every`` and bound the
  reader's delta-union width with minor folds in between. Committed via
  a ``fold`` record in ``_mor.json`` (declare-uncommitted → write →
  commit); readers ignore an uncommitted fold's dir and a committed
  fold's superseded source dirs. GC ordering is the correctness point:
  a committed fold's source dirs are pushed onto the ``gc`` generation
  list AT ITS COMMIT (the same write that makes readers ignore them)
  and deleted only when the generation ages past ``retain_cycles`` at
  the start of a LATER fold/major — so there is no interleaving in
  which a dir exists on disk without the pointer telling readers to
  ignore it (either the fold record's ``covers`` or the ``gc`` list
  names it), whereas the old declare-then-GC order let a double crash
  (fold A commits, crashes pre-GC; fold B declares, crashes pre-GC)
  resurface A's absorbed source dirs as pending and silently
  double-count. A CRASHED fold's orphan dir (declared, never committed)
  is deleted immediately at the next fold's start — no reader ever saw
  it, so no retention is owed. The deferral doubles as ``retain_cycles``
  fold cycles of reader snapshot isolation, mirroring the major path —
  and because minor folds age the SAME generation list, a major-starved
  cadence (folds only) still reclaims a prior major's garbage instead
  of accumulating it indefinitely. At commit the
  fold also prunes ``batch_seqs`` entries its range covers: a covered
  streamed batch that still replays (marker never landed) re-allocates
  ABOVE the fold seq and its tombstones shadow the folded partial rows —
  without the prune the replay would write into a reader-ignored dir and
  be silently lost.

Exactly-once: the appliers' ``_batches/<id>`` markers still gate replay;
additionally each delta/tombstone write is keyed by the batch id and
written with overwrite, so a crash-and-replay of batch ``k`` lands
byte-equivalent state. AD-HOC applies (no batch id) have no engine
replay: one that crashes between its per-table appends leaves
table-inconsistent deltas at its seq — the recovery procedure is simply
to RE-RUN the apply, whose fresh-seq tombstones shadow every partial row
by id (pinned by test); an abandoned partial ad-hoc apply, by contrast,
stays inconsistent until the next successful apply of those keys.

Single-writer model — ENFORCED by writer-epoch fencing (not assumed):
``_mor.json`` carries a ``writer_epoch`` counter. Every apply begins by
claiming writership (:func:`mor_begin_apply` bumps the epoch) and every
mutation (:func:`mor_append`, :func:`mor_allocate_seq`,
:func:`mor_compact`'s pointer swap) re-reads the pointer file and raises
:class:`MorWriterFenced` if the epoch moved — so a second maintainer, or
an out-of-band ``mor_compact`` racing a crashed-but-unreplayed batch,
fails LOUDLY instead of silently folding partial state. Takeover
procedure: stop the old maintainer, run any wanted ``mor_compact``
(which claims writership itself), then start the new maintainer — its
first batch's claim permanently fences the old one. The check is
read-validate-write on a single small file (no CAS primitive exists on
generic Hadoop filesystems), the same best-effort class as Hadoop's
rename-based commit: it catches every writer that overlaps by more than
one pointer-file round-trip, which is the operational race that matters.
It does NOT fence two maintainers whose applies interleave at whole-batch
granularity (each re-claims the epoch per batch and never observes the
other mid-batch) — running two maintainers against one state remains an
operational error; :func:`mor_fsck` surfaces the damage it leaves.

The pointer file itself commits ATOMICALLY: ``_write_mor`` writes the
full content to ``_mor.json.tmp`` and renames it over ``_mor.json``
(never truncate-in-place, which a crash mid-write would turn into a
destroyed pointer). A crash between the delete and the rename leaves the
complete new content in the tmp; the next ``_read_mor`` finishes the
rename — equivalent to "the write succeeded, then the process crashed".

Sequence allocation is collision-free across mixed apply styles:
``_mor.json`` records a ``high_water`` sequence plus a ``batch_seqs``
map (batch id -> its allocated seq, pruned at compaction). A streamed
batch reuses its recorded seq on crash-and-replay (byte-idempotent
overwrite); an ad-hoc apply (no batch id) allocates above the high
water; a streamed batch arriving AFTER an ad-hoc apply allocates above
both instead of silently overwriting the ad-hoc delta.

Before-image note: MOR does not need before images to bound its work
(tombstones shadow by id); only the BM25 stats delta needs
``before_<text>``, to adjust ``total_tokens`` without a corpus scan.

Reference anchor: the changelog event shape this consumes restates the
reference's update/delete envelope (RdbmsChangeDataCapture.java:86-126);
the MOR layout itself is the Spark-first answer to keeping derived state
current at 100 TB.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from siddhi_io_cdc_spark.functions.similarity import (
    _hadoop_read_text,
    _hadoop_write_text,
)
from siddhi_io_cdc_spark.streaming.ivf_index import (
    _fs,
    _hadoop_delete,
    _hadoop_exists,
    _hadoop_list_dirs,
)

MOR_META = "_mor.json"
SEQ_COL = "__seq"

__all__ = [
    "MorWriterFenced",
    "is_mor",
    "latest_per_key",
    "mor_allocate_seq",
    "mor_append",
    "mor_begin_apply",
    "mor_compact",
    "mor_fsck",
    "mor_gc",
    "mor_init",
    "mor_live",
    "mor_minor_compact",
    "mor_pending_seqs",
    "mor_take_writer",
    "next_seq",
    "require_before_images",
    "require_mor",
]


class MorWriterFenced(RuntimeError):
    """Another writer claimed the MOR state since this writer's claim.

    Raised by the epoch check in :func:`mor_append` /
    :func:`mor_allocate_seq` / :func:`mor_compact` — the loud failure
    that replaces silent state corruption under concurrent writers. The
    fenced writer must stop; see the module docstring's takeover
    procedure."""


def _read_mor(spark, root: str) -> dict:
    final = root.rstrip("/") + "/" + MOR_META
    if not _hadoop_exists(spark, final):
        # a writer crashed between deleting the pointer and renaming its
        # fully-written replacement over it (see _write_mor): the .tmp IS
        # the committed content — finish the rename, then read. Every
        # mutation path reads the pointer first, so recovery happens
        # before any further write.
        tmp = final + ".tmp"
        if _hadoop_exists(spark, tmp):
            fs, fpath, jvm = _fs(spark, final)
            fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), fpath)
    return json.loads(_hadoop_read_text(spark, final))


def _write_mor(spark, root: str, meta: dict) -> None:
    """Atomically replace the ``_mor.json`` pointer (the commit point for
    every MOR protocol step). A bare ``fs.create(overwrite=True)`` is a
    truncate-then-write — a crash mid-write would destroy the WHOLE
    pointer, not just the in-flight commit (r13 ADVICE). Instead: write
    the full content to ``_mor.json.tmp``, delete the old pointer, rename
    the tmp over it. Crash windows: before the delete the old pointer is
    intact (the commit simply didn't happen); between delete and rename
    the tmp holds the complete new content and :func:`_read_mor` finishes
    the rename on the next read — equivalent to "the write succeeded,
    then the process crashed", an interleaving every protocol step
    already handles."""
    final = root.rstrip("/") + "/" + MOR_META
    tmp = final + ".tmp"
    text = json.dumps(meta)
    _hadoop_write_text(spark, tmp, text)
    fs, fpath, jvm = _fs(spark, final)
    tpath = jvm.org.apache.hadoop.fs.Path(tmp)
    fs.delete(fpath, False)
    if not fs.rename(tpath, fpath):
        # single-writer fencing means no second writer races this; a
        # concurrent READER may have finished the rename for us (its
        # recovery path) — accept iff the pointer now holds our content
        if (
            not _hadoop_exists(spark, final)
            or _hadoop_read_text(spark, final) != text
        ):
            raise IOError(f"failed to commit {final}")


def is_mor(spark, root: str) -> bool:
    base = root.rstrip("/") + "/" + MOR_META
    # a state whose pointer write crashed mid-commit is still a MOR state
    # (_read_mor finishes the rename)
    return _hadoop_exists(spark, base) or _hadoop_exists(spark, base + ".tmp")


def require_mor(spark, root: str, writer: str) -> None:
    """Refuse to maintain an index state with no ``_mor.json``: it was
    written before the indexes were maintained merge-on-read. Such a state
    still reads (its tables are plain partitioned parquet), but a
    changelog cannot be applied to it; ``writer`` names the rebuild."""
    if not is_mor(spark, root):
        raise ValueError(
            f"{root} has no {MOR_META}: it was written before the indexes "
            "were maintained merge-on-read, so a changelog cannot be "
            f"applied to it. Rebuild it with {writer}."
        )


def _id_cols(spec: dict) -> list[str]:
    ids = spec["id_col"]
    return [ids] if isinstance(ids, str) else list(ids)


def _reader(spark, spec: dict, cols=None, seq=True):
    """A parquet reader for a table's delta or tombstone area: with its
    recorded ``schema`` (only ``cols`` of it, plus ``__seq``) when it has
    one, else inferring one. ``seq=False`` reads a base."""
    if spec.get("schema") is None:
        return spark.read
    schema = StructType.fromJson(spec["schema"])
    fields = schema.fields if cols is None else [schema[c] for c in cols]
    if seq:
        fields = [*fields, StructField(SEQ_COL, LongType())]
    return spark.read.schema(StructType(fields))


def _read_base(spark, root: str, spec: dict) -> DataFrame:
    base = root.rstrip("/")
    if spec["base_dir"]:
        return _reader(spark, spec, seq=False).parquet(base + "/" + spec["base_dir"])
    # A base at the root itself: read its partition dirs only, since the
    # next base version (or a crashed compaction's orphan) sits beside them.
    part = spec["part_col"] + "="
    dirs = [f"{base}/{d}" for d in _hadoop_list_dirs(spark, base) if d.startswith(part)]
    return _reader(spark, spec, seq=False).option("basePath", base).parquet(*dirs)


def _write_delta(spec: dict, rows: DataFrame, path: str) -> None:
    """Write one delta (or fold) directory in the table's delta layout. An
    unpartitioned one goes through a ``rebalance``: AQE sizes those
    partitions by bytes, so a batch-sized delta is one file."""
    if spec.get("delta_partitioned", True):
        rows.write.mode("overwrite").partitionBy(spec["part_col"]).parquet(path)
    else:
        rows.hint("rebalance").write.mode("overwrite").parquet(path)


def _has_parquet(spark, path: str) -> bool:
    """True if any .parquet leaf exists under ``path`` (an all-empty delta
    area would otherwise fail schema inference)."""
    fs, hpath, _ = _fs(spark, path)
    if not fs.exists(hpath):
        return False
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            return True
    return False


def mor_init(
    spark,
    root: str,
    tables: dict[str, dict],
    compact_every: int = 16,
    minor_every: int = 0,
    retain_cycles: int = 1,
) -> None:
    """Stamp ``root`` as a MOR state. ``tables`` maps table name ->
    ``{"id_col": ..., "part_col": ...}``; ``id_col`` is one column or a
    list of them (a composite key). The base directory starts as the
    table name itself, or as ``base_dir`` if the spec names one (``""``
    is the root), and moves to ``<table>__v<k>`` on compaction.

    Optional, fixed per table at creation: ``delta_partitioned`` (default
    True) partitions each delta by ``part_col``, as the index tables need
    for pruned probes; False writes each delta as one unpartitioned file
    set with ``part_col`` an ordinary column. ``schema`` (a
    ``StructType.jsonValue()`` of the live columns, ``part_col`` included)
    makes every read use it instead of inferring one from a footer.

    ``compact_every`` triggers a MAJOR compaction every that many applied
    batches (counted by ``batches_since_compact``, reset at each major).
    ``minor_every`` (0 = off) additionally folds the pending deltas into
    one (:func:`mor_minor_compact`) whenever that many accumulate — the
    ingest-dominant wiring the round-13 curve recommends: a large
    ``compact_every`` (the major fold is corpus-bound) with cheap minor
    folds bounding the reader's delta union in between.

    ``retain_cycles`` is the reader snapshot-retention depth: superseded
    dirs survive that many later compaction/fold cycles before the GC
    sweep deletes them (Iceberg's snapshot retention, counted in cycles
    instead of wall-clock). The default 1 protects any probe that
    finishes within one maintenance cycle; serving fleets with probes
    that can straddle more raise it and pay the extra disk."""
    if retain_cycles < 1:
        raise ValueError(f"retain_cycles must be >= 1, got {retain_cycles}")
    meta = {
        "tables": {
            t: {"delta_partitioned": True, "base_dir": t, **spec}
            for t, spec in tables.items()
        },
        "compacted_through": 0,
        "base_version": 0,
        "compact_every": compact_every,
        "minor_every": minor_every,
        "retain_cycles": retain_cycles,
        "batches_since_compact": 0,
        "writer_epoch": 0,
        "high_water": 0,
        "batch_seqs": {},
        "gc": [],
    }
    # a re-init starts a new lineage: drop stale deltas/tombstones and any
    # versioned base dirs a previous lineage's compaction left behind
    base = root.rstrip("/")
    _hadoop_delete(spark, base + "/_delta")
    _hadoop_delete(spark, base + "/_tomb")
    for d in _hadoop_list_dirs(spark, base):
        if any(d.startswith(t + "__v") for t in tables):
            _hadoop_delete(spark, base + "/" + d)
    _write_mor(spark, root, meta)


def _fold_drop_seqs(meta: dict) -> set[int]:
    """Sequences every reader must ignore because of the (single) minor-
    compaction fold record: an UNCOMMITTED fold's own seq (its dirs may be
    partial), a COMMITTED fold's covered seqs (their rows now live in the
    fold's dir — reading both would double-count)."""
    fold = meta.get("fold")
    if not fold:
        return set()
    if fold.get("committed"):
        return {int(s) for s in fold["covers"]}
    return {int(fold["seq"])}


def _gc_gens(meta: dict) -> list[list[str]]:
    """The pointer's retained-garbage GENERATIONS, oldest first — each one
    commit's superseded dirs (relative paths), kept ``retain_cycles``
    cycles for reader snapshot isolation. Normalizes the pre-r15 flat
    ``gc_deferred`` list (exactly one generation's worth) so old states
    upgrade in place."""
    gens = meta.get("gc")
    if gens is None:
        legacy = meta.get("gc_deferred")
        gens = [list(legacy)] if legacy else []
    return [list(g) for g in gens]


def _gc_drop_seqs(meta: dict) -> set[int]:
    """Sequences whose delta/tomb dirs are RETAINED garbage (listed in a
    ``gc`` generation): still on disk for in-flight readers, ignored by
    every new scan. Major-path entries all sort at/below the horizon
    (belt and braces); minor-path entries (a committed fold's covered
    dirs under ``retain_cycles`` > 1) sort above it and NEED this."""
    out: set[int] = set()
    marker = SEQ_COL + "="
    for gen in _gc_gens(meta):
        for rel in gen:
            if rel.startswith(("_delta/", "_tomb/")) and marker in rel:
                out.add(int(rel.rsplit("=", 1)[1]))
    return out


def _drop_seqs(meta: dict) -> set[int]:
    """Every sequence a reader must ignore: the fold record's drops plus
    the retained GC generations' seqs."""
    return _fold_drop_seqs(meta) | _gc_drop_seqs(meta)


def _sweep_gc_generations(spark, base: str, meta: dict) -> list[list[str]]:
    """Age the GC generation list at the start of a compaction/fold:
    delete every generation beyond ``retain_cycles`` (oldest first) and
    return the survivors. The caller persists the pruned list in its own
    commit write — a crash mid-sweep leaves the generation in the pointer
    and the retry re-deletes (``_hadoop_delete`` is idempotent), so no
    garbage is ever orphaned untracked."""
    retain = int(meta.get("retain_cycles", 1))
    gens = _gc_gens(meta)
    while len(gens) >= retain:
        for rel in gens.pop(0):
            _hadoop_delete(spark, base + "/" + rel)
    return gens


def mor_pending_seqs(spark, root: str) -> list[int]:
    """Delta sequences newer than the compaction horizon, ascending —
    minus the sequences the minor-compaction fold record supersedes and
    the retained-GC generations' reader-ignored dirs."""
    meta = _read_mor(spark, root)
    ct = meta["compacted_through"]
    drop = _drop_seqs(meta)
    seqs: set[int] = set()
    for t in meta["tables"]:
        for d in _hadoop_list_dirs(spark, root.rstrip("/") + f"/_delta/{t}"):
            if d.startswith(SEQ_COL + "="):
                s = int(d.split("=", 1)[1])
                if s > ct and s not in drop:
                    seqs.add(s)
    return sorted(seqs)


def _seq_floor(meta: dict, pend: list[int]) -> int:
    """Highest sequence any prior apply could have used: the recorded
    high water, the compaction horizon, and (for states written before
    the high-water field existed) the directory-derived pending tail."""
    return max(
        int(meta.get("high_water", 0)),
        int(meta["compacted_through"]),
        pend[-1] if pend else 0,
    )


def next_seq(spark, root: str) -> int:
    """Read-only preview of the next ad-hoc sequence (no allocation —
    appliers go through :func:`mor_allocate_seq` / :func:`mor_begin_apply`,
    which PERSIST the allocation so concurrent styles cannot collide)."""
    meta = _read_mor(spark, root)
    return _seq_floor(meta, mor_pending_seqs(spark, root)) + 1


def _check_epoch(meta: dict, epoch: int | None, what: str) -> None:
    if epoch is not None and int(meta.get("writer_epoch", 0)) != int(epoch):
        raise MorWriterFenced(
            f"{what}: writer epoch moved {epoch} -> "
            f"{meta.get('writer_epoch', 0)} — another maintainer or an "
            "out-of-band compaction claimed this MOR state. This writer "
            "must stop (see streaming/mor.py takeover procedure)."
        )


def mor_take_writer(spark, root: str) -> int:
    """Claim writership: bump ``writer_epoch`` and return the new token.
    Every later mutation passes the token back and fails loudly if any
    other claim happened in between."""
    meta = _read_mor(spark, root)
    epoch = int(meta.get("writer_epoch", 0)) + 1
    meta["writer_epoch"] = epoch
    _write_mor(spark, root, meta)
    return epoch


def mor_allocate_seq(
    spark, root: str, batch_id: int | None = None, epoch: int | None = None
) -> int:
    """Allocate (and PERSIST) the sequence for one apply.

    - streamed apply (``batch_id`` given): crash-and-replay of the same
      batch id returns its recorded seq, so the ``__seq`` overwrite stays
      byte-idempotent; a FIRST apply allocates ``max(batch_id, floor)+1``
      — equal to ``batch_id + 1`` when no ad-hoc apply interleaved, and
      above any interleaved ad-hoc seq otherwise (the silent-overwrite
      collision the r12 review found).
    - ad-hoc apply: ``floor + 1`` where floor covers the recorded high
      water, so it never lands on a seq a streamed batch already used.
    """
    meta = _read_mor(spark, root)
    _check_epoch(meta, epoch, "mor_allocate_seq")
    floor = _seq_floor(meta, mor_pending_seqs(spark, root))
    if batch_id is not None:
        seqs = meta.setdefault("batch_seqs", {})
        key = str(int(batch_id))
        if key in seqs:
            return int(seqs[key])
        seq = max(int(batch_id), floor) + 1
        seqs[key] = seq
    else:
        seq = floor + 1
    meta["high_water"] = seq
    meta["batches_since_compact"] = int(meta.get("batches_since_compact", 0)) + 1
    _write_mor(spark, root, meta)
    return seq


def mor_begin_apply(
    spark, root: str, batch_id: int | None = None,
    expect_epoch: int | None = None,
) -> tuple[int, int]:
    """One pointer-file round-trip that starts an apply: claim writership
    (epoch bump) AND allocate the batch's sequence. Returns
    ``(seq, epoch)``; thread ``epoch`` through every append/compact of
    the apply.

    ``expect_epoch`` closes the fencing gap the per-batch epoch re-claim
    leaves open (two maintainers ALTERNATING at whole-batch granularity
    never overlap mid-batch, so per-mutation checks cannot see each
    other): a long-lived maintainer passes the epoch its PREVIOUS apply
    returned, and if any other writer claimed the state in between —
    an alternating second maintainer, an out-of-band compaction — this
    raises :class:`MorWriterFenced` before touching anything. Nothing in
    a single maintainer's own loop moves the epoch between its batches
    (auto-compactions run under the batch's token), so a mismatch always
    means a foreign writer. Pass ``None`` on the first batch after a
    (re)start, where no expectation exists. The ``foreach_batch_*``
    adapters wire this automatically."""
    meta = _read_mor(spark, root)
    if expect_epoch is not None and int(
        meta.get("writer_epoch", 0)
    ) != int(expect_epoch):
        raise MorWriterFenced(
            f"mor_begin_apply: writer epoch moved {expect_epoch} -> "
            f"{meta.get('writer_epoch', 0)} between this maintainer's "
            "batches — another maintainer or an out-of-band operation "
            "claimed this MOR state. This writer must stop (see "
            "streaming/mor.py takeover procedure)."
        )
    epoch = int(meta.get("writer_epoch", 0)) + 1
    meta["writer_epoch"] = epoch
    floor = _seq_floor(meta, mor_pending_seqs(spark, root))
    if batch_id is not None:
        seqs = meta.setdefault("batch_seqs", {})
        key = str(int(batch_id))
        if key in seqs:
            # crash-replay of a recorded batch: same seq, and NOT a new
            # batch for the compaction cadence
            seq = int(seqs[key])
            _write_mor(spark, root, meta)  # epoch bump still commits
            return seq, epoch
        seq = max(int(batch_id), floor) + 1
        seqs[key] = seq
    else:
        seq = floor + 1
    meta["high_water"] = seq
    meta["batches_since_compact"] = int(meta.get("batches_since_compact", 0)) + 1
    _write_mor(spark, root, meta)
    return seq, epoch


def mor_append(
    spark,
    root: str,
    table: str,
    rows: DataFrame,
    tomb_ids: DataFrame,
    seq: int,
    extra_json: dict | None = None,
    epoch: int | None = None,
) -> None:
    """Append one batch's rows + tombstones for ``table`` at ``seq``.

    ``rows`` must carry the table's ``part_col``; ``tomb_ids`` carries the
    id column(s). Rows are written in the table's delta layout (see
    :func:`mor_init`), the tombstones as one file per batch. Both writes
    overwrite their ``__seq=<k>`` directory, so replaying a batch id is
    byte-idempotent. O(batch) I/O:
    nothing here reads base state. With ``epoch`` (from
    :func:`mor_begin_apply`) the append re-validates writership first
    and raises :class:`MorWriterFenced` if another writer claimed the
    state since.
    """
    meta = _read_mor(spark, root)
    _check_epoch(meta, epoch, f"mor_append({table}, seq={seq})")
    spec = meta["tables"][table]
    base = root.rstrip("/")
    dpath = base + f"/_delta/{table}/{SEQ_COL}={seq}"
    tpath = base + f"/_tomb/{table}/{SEQ_COL}={seq}"
    _write_delta(spec, rows, dpath)
    # a repeated id only repeats a tombstone; a rebalance makes it one file
    tomb_ids.select(*_id_cols(spec)).hint("rebalance").write.mode("overwrite").parquet(tpath)
    if extra_json:
        _hadoop_write_text(spark, dpath + "/_extra.json", json.dumps(extra_json))


def mor_extras(spark, root: str, table: str) -> list[tuple[int, dict]]:
    """``(seq, extra_json)`` for every pending delta, ascending by sequence
    (used for the BM25 incremental corpus-stats deltas — the stats cache is
    stamped with a ``through_seq`` horizon so a reader can add exactly the
    extras it hasn't absorbed, in any crash interleaving)."""
    base = root.rstrip("/")
    out = []
    for s in mor_pending_seqs(spark, root):
        p = base + f"/_delta/{table}/{SEQ_COL}={s}/_extra.json"
        if _hadoop_exists(spark, p):
            out.append((s, json.loads(_hadoop_read_text(spark, p))))
    return out


def mor_live(spark, root: str, table: str) -> DataFrame:
    """The live view of ``table``: base ∪ pending deltas, shadowed by
    tombstones. A row at sequence ``s`` survives iff no tombstone for its
    id has sequence ``> s``; base rows carry the compaction horizon as
    their sequence, so later tombstones shadow them and compaction-time
    rows never re-shadow themselves.

    Predicates on the table's ``part_col`` prune the base partitions and,
    for a partitioned delta layout, each delta's partitions (the delta is
    partitioned by ``__seq/part_col``); the tombstone join is against a
    table bounded by the ids changed since the last compaction — small,
    and AQE broadcasts it. A table with a recorded ``schema`` is read with
    it, so no footer is opened to infer one.
    """
    meta = _read_mor(spark, root)
    spec = meta["tables"][table]
    ct = meta["compacted_through"]
    drop = sorted(_drop_seqs(meta))
    ids = _id_cols(spec)
    rows = _read_base(spark, root, spec).withColumn(SEQ_COL, F.lit(ct).cast("long"))
    delta_root = root.rstrip("/") + f"/_delta/{table}"
    if _has_parquet(spark, delta_root):
        delta = (
            _reader(spark, spec).parquet(delta_root)
            .where(F.col(SEQ_COL) > ct)
            .withColumn(SEQ_COL, F.col(SEQ_COL).cast("long"))
        )
        if drop:
            # minor-compaction fold record: skip an uncommitted fold's own
            # dir / a committed fold's superseded source dirs
            delta = delta.where(~F.col(SEQ_COL).isin(drop))
        # _extra.json sidecars are invisible to the parquet reader; column
        # order can differ between base and partition-discovered delta.
        # MOR tables are FIXED-SCHEMA: a delta whose column set drifted
        # from the base (e.g. an applier evolved its projection) must fail
        # loudly, not silently truncate the new column. Additive evolution
        # belongs at compaction (``_compact(schemas=...)``): fold to the
        # new schema in a fresh base version — not in the live view.
        if set(delta.columns) != set(rows.columns):
            extra = sorted(set(delta.columns) - set(rows.columns))
            missing = sorted(set(rows.columns) - set(delta.columns))
            raise ValueError(
                f"MOR table '{table}': delta schema drifted from base "
                f"(delta-only columns {extra}, base-only columns "
                f"{missing}). MOR state is fixed-schema; evolve by "
                "compacting to a new base version, not by appending "
                "mismatched deltas."
            )
        rows = rows.unionByName(delta.select(*rows.columns))

    tomb_root = root.rstrip("/") + f"/_tomb/{table}"
    if _has_parquet(spark, tomb_root):
        tomb = _reader(spark, spec, ids).parquet(tomb_root).where(F.col(SEQ_COL) > ct)
        if drop:
            tomb = tomb.where(~F.col(SEQ_COL).isin(drop))
        tmax = tomb.groupBy(*ids).agg(
            F.max(SEQ_COL).cast("long").alias("__tmax")
        )
        rows = (
            rows.join(tmax, ids, "left")
            .where(F.col("__tmax").isNull() | (F.col("__tmax") <= F.col(SEQ_COL)))
            .drop("__tmax")
        )
    return rows.drop(SEQ_COL)


def mor_compact(spark, root: str, epoch: int | None = None) -> bool:
    """Fold pending deltas into fresh versioned base directories and commit
    via the ``_mor.json`` pointer swap. Returns True if anything was
    compacted. Each new base is written under a ``rebalance`` hint on the
    table's ``part_col``, so each base partition is one file (until it
    passes AQE's advisory partition size).

    Crash-safe: before the pointer write the old view is fully
    intact (new dirs are orphans a later pass deletes); after it, new
    readers ignore the superseded dirs, whose deletion is deferred
    ``retain_cycles`` compaction/fold cycles (one ``gc`` generation per
    commit) so in-flight readers holding the pre-swap plan finish
    cleanly — reader snapshot isolation.

    Fencing: called without ``epoch`` (the out-of-band ops path) it
    CLAIMS writership first — a concurrently running maintainer's next
    mutation then fails loudly instead of racing the fold. With
    ``epoch`` (the maintainer's own auto-compaction) it validates the
    token, and re-validates right before the pointer swap so a takeover
    mid-fold aborts before committing."""
    return _compact(spark, root, epoch, {})


def _compact(spark, root: str, epoch: int | None, schemas: dict[str, StructType]) -> bool:
    """:func:`mor_compact`, plus additive evolution: ``schemas`` maps a
    table with a recorded ``schema`` to a wider one (its recorded columns
    first). The fold writes the new columns as typed NULLs, records the
    wider schema in the same pointer commit, and runs even with no
    pending delta."""
    if epoch is None:
        epoch = mor_take_writer(spark, root)
    meta = _read_mor(spark, root)
    _check_epoch(meta, epoch, "mor_compact")
    pend = mor_pending_seqs(spark, root)
    if not pend and not schemas:
        return False
    horizon = pend[-1] if pend else int(meta["compacted_through"])
    base = root.rstrip("/")
    # age the retained-GC generations: delete every generation past the
    # retention depth (its readers have had retain_cycles full cycles to
    # finish). Done BEFORE this pass writes anything: a crash mid-sweep
    # leaves the list in the pointer and the retry re-deletes, so no
    # garbage is ever orphaned untracked.
    gens = _sweep_gc_generations(spark, base, meta)
    new_ver = meta["base_version"] + 1
    old_dirs = []
    new_meta = json.loads(json.dumps(meta))  # deep copy
    for t, spec in meta["tables"].items():
        live = mor_live(spark, root, t)
        if t in schemas:
            have = set(live.columns)
            live = live.select(*[
                F.col(f.name) if f.name in have else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schemas[t].fields
            ])
            new_meta["tables"][t]["schema"] = schemas[t].jsonValue()
        new_dir = f"{t}__v{new_ver}"
        # GC a stale same-name orphan from a crashed earlier attempt
        _hadoop_delete(spark, base + "/" + new_dir)
        part = spec["part_col"]
        live.hint("rebalance", part).write.partitionBy(part).parquet(base + "/" + new_dir)
        if not _has_parquet(spark, base + "/" + new_dir):
            # the table emptied out entirely: a partitioned write of an
            # empty frame leaves no data files, and a later read would
            # fail schema inference — write one schema-bearing empty file
            # (part_col rides along as a regular column; readers only
            # filter on it)
            live.limit(0).coalesce(1).write.mode("overwrite").parquet(
                base + "/" + new_dir
            )
        if spec["base_dir"]:
            old_dirs.append(spec["base_dir"])
        else:  # a base at the root itself: its garbage is its partitions
            old_dirs += [d for d in _hadoop_list_dirs(spark, base) if d.startswith(part + "=")]
        new_meta["tables"][t]["base_dir"] = new_dir
    new_meta["base_version"] = new_ver
    new_meta["compacted_through"] = horizon
    # batch_seqs entries at or below the new horizon can never be
    # replayed into the live view again — prune so the map stays bounded
    # by compact_every
    new_meta["batch_seqs"] = {
        k: s
        for k, s in new_meta.get("batch_seqs", {}).items()
        if int(s) > horizon
    }
    # a COMMITTED fold is fully absorbed by the major compaction (its dir
    # is in pend, its covered dirs sort <= the new horizon for the sweep);
    # a crashed UNCOMMITTED fold's orphan dir can sort ABOVE the new
    # horizon (its seq was allocated past the pending tail), so dropping
    # the record without deleting the dir would resurface it as pending —
    # delete it explicitly before the record goes away
    stale_fold = new_meta.pop("fold", None)
    if stale_fold and not stale_fold.get("committed"):
        for t in meta["tables"]:
            s = int(stale_fold["seq"])
            _hadoop_delete(spark, base + f"/_delta/{t}/{SEQ_COL}={s}")
            _hadoop_delete(spark, base + f"/_tomb/{t}/{SEQ_COL}={s}")
    new_meta["batches_since_compact"] = 0  # the major-compaction cadence
    # DEFERRED GC (r13 review: reader snapshot isolation; generational
    # since r15). This pass's garbage — the superseded base dirs plus
    # EVERY seq dir at or below the new horizon (not just the seqs
    # pending at this pass, so dirs orphaned by a crash of an earlier
    # cycle are collected too) — is pushed as ONE generation on the
    # pointer's ``gc`` list and deleted when it ages past retain_cycles
    # later compactions/folds. An in-flight probe whose plan was built
    # just before this swap still references the old base and the swept
    # delta dirs; retaining them lets it finish instead of hitting
    # FileNotFound mid-job. New readers never see them: the old base is
    # unreferenced and the seq dirs sort <= the new horizon. A dir
    # already listed in a RETAINED older generation may be re-listed
    # here (the sweep enumerates the disk, not the bookkeeping) — the
    # older generation deletes it first and the re-list's delete is a
    # no-op, which is exactly the "nothing is re-listed forever" law.
    deferred = list(old_dirs)
    for t in meta["tables"]:
        for area in ("_delta", "_tomb"):
            for d in _hadoop_list_dirs(spark, base + f"/{area}/{t}"):
                if d.startswith(SEQ_COL + "="):
                    if int(d.split("=", 1)[1]) <= horizon:
                        deferred.append(f"{area}/{t}/{d}")
    new_meta["gc"] = gens + [sorted(set(deferred))]
    new_meta.pop("gc_deferred", None)  # upgraded to the generation list
    _check_epoch(_read_mor(spark, root), epoch, "mor_compact pointer swap")
    _write_mor(spark, root, new_meta)  # commit point
    return True


def mor_minor_compact(
    spark, root: str, epoch: int | None = None, allow_drop_extras: bool = False
) -> bool:
    """Size-tiered MINOR compaction: fold every pending delta (and its
    tombstones) into ONE delta at a freshly allocated sequence — bounding
    the reader's delta-union width WITHOUT the corpus-sized base rewrite
    a major :func:`mor_compact` pays. The measured trade (BASELINE.md
    round 13): the major fold's wall is flat in pending count because it
    is dominated by the base rewrite, so ingest-dominant states want a
    large ``compact_every``; this keeps their read tax bounded in between.

    Shadow-correct by construction: within the folded range the live-view
    rule (a row at ``s`` survives unless a tombstone for its id carries a
    sequence ``> s``) is resolved eagerly, survivors land at the fold
    sequence ``f`` (> every folded seq), and the union of the range's
    tombstone ids lands at ``f`` too — it still shadows base rows
    (``ct < f``) and later deltas are untouched (their seqs are > ``f``
    only after this fold, since ``f`` is allocated above the high water
    under the writer epoch).

    Commit protocol (no pointer-file swap needed for the base): the fold
    is DECLARED uncommitted in ``_mor.json`` before any data write
    (readers ignore the fold seq), data is written, then one meta write
    flips ``committed`` (readers switch to the fold and ignore the
    covered seqs). A crash in between leaves the old view intact plus an
    ignored orphan dir that the next fold or major compaction sweeps.

    ``_extra.json`` sidecars (the BM25 stats deltas) are NOT merged by
    this generic fold — callers must absorb them into their derived cache
    first (``minor_compact_bm25_index`` does) and pass
    ``allow_drop_extras=True``; otherwise a fold over deltas carrying
    extras raises instead of silently dropping corpus-stats adjustments.
    """
    if epoch is None:
        epoch = mor_take_writer(spark, root)
    meta = _read_mor(spark, root)
    _check_epoch(meta, epoch, "mor_minor_compact")
    pend = mor_pending_seqs(spark, root)
    if len(pend) < 2:
        return False
    base = root.rstrip("/")
    if not allow_drop_extras:
        for t in meta["tables"]:
            for s in pend:
                if _hadoop_exists(
                    spark, base + f"/_delta/{t}/{SEQ_COL}={s}/_extra.json"
                ):
                    raise ValueError(
                        f"pending delta {t}/{SEQ_COL}={s} carries an "
                        "_extra.json sidecar; fold the derived cache first "
                        "(e.g. minor_compact_bm25_index) or pass "
                        "allow_drop_extras=True."
                    )
    # age the retained-GC generations (same sweep as the major path, so a
    # major-starved cadence of minor folds still reclaims a prior major's
    # garbage instead of accumulating it indefinitely). A COMMITTED old
    # fold's source dirs are already in the generation list (pushed at
    # its commit — the same write that makes readers ignore them), so no
    # interleaving can leave a dir on disk without the pointer naming it
    # as ignored: the r13 double-crash resurfacing is impossible by
    # construction. A crash mid-sweep leaves the generation in the
    # pointer; the retry re-deletes (idempotent).
    gens = _sweep_gc_generations(spark, base, meta)
    old_fold = meta.get("fold")
    if old_fold and not old_fold.get("committed"):
        # a CRASHED fold's orphan dir: declared but never committed, so no
        # reader ever saw it (uncommitted fold seqs are always ignored) —
        # delete immediately BEFORE the declare replaces the record that
        # ignores it; no retention is owed to a dir nobody could read.
        s = int(old_fold["seq"])
        for t in meta["tables"]:
            _hadoop_delete(spark, base + f"/_delta/{t}/{SEQ_COL}={s}")
            _hadoop_delete(spark, base + f"/_tomb/{t}/{SEQ_COL}={s}")
    f = _seq_floor(meta, pend) + 1
    meta["high_water"] = f
    meta["fold"] = {"seq": f, "covers": pend, "committed": False}
    meta["gc"] = gens
    meta.pop("gc_deferred", None)  # upgraded to the generation list
    _write_mor(spark, root, meta)  # declare: readers ignore seq f
    for t, spec in meta["tables"].items():
        ids = _id_cols(spec)
        delta_root = base + f"/_delta/{t}"
        tomb_root = base + f"/_tomb/{t}"
        surv = None
        if _has_parquet(spark, delta_root):
            rows = (
                _reader(spark, spec).parquet(delta_root)
                .where(F.col(SEQ_COL).isin(pend))
                .withColumn(SEQ_COL, F.col(SEQ_COL).cast("long"))
            )
            surv = rows
            if _has_parquet(spark, tomb_root):
                tmax = (
                    _reader(spark, spec, ids).parquet(tomb_root)
                    .where(F.col(SEQ_COL).isin(pend))
                    .groupBy(*ids)
                    .agg(F.max(SEQ_COL).cast("long").alias("__tmax"))
                )
                surv = (
                    rows.join(tmax, ids, "left")
                    .where(
                        F.col("__tmax").isNull()
                        | (F.col("__tmax") <= F.col(SEQ_COL))
                    )
                    .drop("__tmax")
                )
            out_cols = [c for c in rows.columns if c != SEQ_COL]
            # fold dir was GC'd above if it's a crashed attempt's name; an
            # overwrite keeps this idempotent either way
            _write_delta(spec, surv.select(*out_cols), delta_root + f"/{SEQ_COL}={f}")
        if _has_parquet(spark, tomb_root):
            (
                _reader(spark, spec, ids).parquet(tomb_root)
                .where(F.col(SEQ_COL).isin(pend))
                .select(*ids)
                .distinct()
                .write.mode("overwrite")
                .parquet(tomb_root + f"/{SEQ_COL}={f}")
            )
    cur = _read_mor(spark, root)
    _check_epoch(cur, epoch, "mor_minor_compact commit")
    cur["fold"] = {"seq": f, "covers": pend, "committed": True}
    # r13 ADVICE: a streamed batch whose seq this fold covers may still
    # REPLAY (its applier crashed before writing the _batches marker) —
    # its recorded seq now points into a reader-ignored, next-fold-swept
    # dir, so honoring the recording would silently lose the batch. Prune
    # the covered entries: the replay re-allocates ABOVE the fold seq and
    # its tombstones shadow the folded partial rows by id — the same
    # rerun-heals recovery as ad-hoc applies, and the same pruning
    # mor_compact does at the major horizon.
    covered = {int(s) for s in pend}
    cur["batch_seqs"] = {
        k: s
        for k, s in cur.get("batch_seqs", {}).items()
        if int(s) not in covered
    }
    # push the covered source dirs as ONE GC generation in the SAME write
    # that commits the fold (readers start ignoring them via the record
    # and keep ignoring them via the generation list after a later fold
    # replaces the record) — deleted only when the generation ages past
    # retain_cycles, giving in-flight readers that many fold cycles of
    # snapshot isolation. No deletion happens here at all, so no
    # double-crash interleaving can resurface a dir a committed fold
    # absorbed: the pointer never stops naming it as ignored while it is
    # on disk.
    gen = sorted(
        f"{area}/{t}/{SEQ_COL}={s}"
        for t in cur["tables"]
        for s in covered
        for area in ("_delta", "_tomb")
    )
    cur["gc"] = _gc_gens(cur) + [gen]
    cur.pop("gc_deferred", None)
    _write_mor(spark, root, cur)  # commit point
    return True


def mor_gc(spark, root: str, epoch: int | None = None) -> int:
    """Explicit GC-only pass: delete EVERY retained generation's dirs now
    and clear the list, returning the number of paths deleted. The normal
    sweep runs at the start of each compaction/fold, so a state that goes
    IDLE after its last maintenance keeps its final generation's
    superseded full-corpus base + seq dirs on disk indefinitely (r14
    ADVICE) — this is the reclaim for that case. Caveat: it forfeits the
    snapshot-isolation window, so only run it when no reader holds a plan
    built before this call (the same contract Iceberg's
    ``expire_snapshots`` carries). Fencing: without ``epoch`` it claims
    writership first, so a concurrently running maintainer fails loudly
    instead of racing the sweep."""
    if epoch is None:
        epoch = mor_take_writer(spark, root)
    meta = _read_mor(spark, root)
    _check_epoch(meta, epoch, "mor_gc")
    base = root.rstrip("/")
    n = 0
    for gen in _gc_gens(meta):
        for rel in gen:
            _hadoop_delete(spark, base + "/" + rel)
            n += 1
    meta["gc"] = []
    meta.pop("gc_deferred", None)
    _check_epoch(_read_mor(spark, root), epoch, "mor_gc commit")
    _write_mor(spark, root, meta)
    return n


def _fsck_census(spark, root: str) -> tuple[dict, dict]:
    """One read-only pass over a MOR root: the fsck report plus the
    machine-readable findings :func:`mor_fsck`'s repair mode acts on."""
    base = root.rstrip("/")
    out: dict[str, list[str]] = {"errors": [], "warnings": [], "info": []}
    acts: dict = {
        "stale_tmp": False,
        "garbage_seqs": set(),  # reader-ignored seq dirs, safe to sweep
        "orphan_fold_seq": None,  # uncommitted fold's dir, safe to delete
        "bad_batch_keys": [],  # batch_seqs entries both commit sites prune
        "raise_high_water": False,
        "gc_paths": [],  # retained generations' still-on-disk entries
    }
    # a tmp NEXT TO a live pointer is a stale leftover (a crash between
    # the tmp write and the delete of the old pointer); when the pointer
    # itself is missing, _read_mor's recovery FINISHES the rename instead
    # — that one is a committed write, not garbage.
    if _hadoop_exists(spark, base + "/" + MOR_META + ".tmp") and _hadoop_exists(
        spark, base + "/" + MOR_META
    ):
        out["warnings"].append(
            "_mor.json.tmp present (a pointer write crashed mid-commit; "
            "the next pointer write overwrites it)"
        )
        acts["stale_tmp"] = True
    meta = _read_mor(spark, root)
    ct = int(meta["compacted_through"])
    hw = int(meta.get("high_water", 0))
    if hw < ct:
        out["errors"].append(
            f"high_water {hw} below compaction horizon {ct} — sequence "
            "allocation could collide with compacted state"
        )
        acts["raise_high_water"] = True
    fold = meta.get("fold")
    fold_covers = (
        {int(s) for s in fold["covers"]}
        if fold and fold.get("committed")
        else set()
    )
    fold_seq = int(fold["seq"]) if fold else None
    gc_drop = _gc_drop_seqs(meta)
    # per-table seq-dir census over BOTH areas (r14 ADVICE: a crash inside
    # mor_append between the rows write and the tombstone write leaves a
    # delta dir with no matching tomb dir — delta-only census missed it)
    delta_seqs: dict[str, set[int]] = {}
    tomb_seqs: dict[str, set[int]] = {}
    for t in meta["tables"]:
        for area, dst in (("_delta", delta_seqs), ("_tomb", tomb_seqs)):
            dst[t] = {
                int(d.split("=", 1)[1])
                for d in _hadoop_list_dirs(spark, base + f"/{area}/{t}")
                if d.startswith(SEQ_COL + "=")
            }
    tables = sorted(meta["tables"])
    all_seqs = set()
    for t in tables:
        all_seqs |= delta_seqs[t] | tomb_seqs[t]
    for s in sorted(all_seqs):
        holders = sorted(t for t in tables if s in delta_seqs[t] or s in tomb_seqs[t])
        if s <= ct or s in fold_covers or s in gc_drop:
            why = (
                "<= horizon"
                if s <= ct
                else (
                    "covered by committed fold"
                    if s in fold_covers
                    else "retained GC generation"
                )
            )
            out["info"].append(
                f"seq {s} ({','.join(holders)}): ignored garbage ({why}), "
                "swept when its generation ages past retain_cycles"
            )
            acts["garbage_seqs"].add(s)
        elif fold and not fold.get("committed") and s == fold_seq:
            out["warnings"].append(
                f"seq {s}: uncommitted fold orphan (a fold crashed between "
                "declare and commit; the next fold/compaction collects it)"
            )
            acts["orphan_fold_seq"] = s
        else:
            if len(holders) < len(tables):
                missing = sorted(set(tables) - set(holders))
                out["errors"].append(
                    f"seq {s} present for table(s) {holders} but missing "
                    f"for {missing} — abandoned partial ad-hoc apply; "
                    "re-run the apply to heal (fresh-seq tombstones shadow "
                    "the partial rows)"
                )
            if s != fold_seq:
                # every mor_append writes rows THEN tombstones for one
                # table; a live seq holding one without the other is a
                # mid-append crash whose untombstoned (or tombstone-only)
                # half the live view serves — duplicate rows per id. The
                # fold seq is exempt: a fold legitimately writes only the
                # areas that hold data (e.g. tomb-only under pure-delete
                # batches). (r14 ADVICE)
                for t in tables:
                    d_has, t_has = s in delta_seqs[t], s in tomb_seqs[t]
                    if d_has != t_has:
                        have, lack = (
                            ("_delta", "_tomb") if d_has else ("_tomb", "_delta")
                        )
                        out["errors"].append(
                            f"seq {s} table {t}: {have} dir present but "
                            f"{lack} dir missing — a crash inside "
                            "mor_append left half an append; the live "
                            "view can serve duplicate (or over-shadowed) "
                            "rows for its ids. Re-run the apply to heal "
                            "(fresh-seq tombstones shadow the partial "
                            "rows by id)."
                        )
    for k, s in sorted(meta.get("batch_seqs", {}).items()):
        s = int(s)
        if s <= ct or s in fold_covers:
            out["errors"].append(
                f"batch_seqs[{k}]={s} points {'at/below the horizon' if s <= ct else 'into a committed fold'} "
                "— a replay of that batch would be silently lost; prune the "
                "entry (mor_compact/mor_minor_compact do this on commit)"
            )
            acts["bad_batch_keys"].append(k)
    for i, gen in enumerate(_gc_gens(meta)):
        for rel in gen:
            if _hadoop_exists(spark, base + "/" + rel):
                out["info"].append(
                    f"gc generation {i}: {rel} retained for in-flight "
                    "readers; swept when the generation ages past "
                    "retain_cycles"
                )
                acts["gc_paths"].append(rel)
    return out, acts


def mor_fsck(spark, root: str, repair: bool = False) -> dict:
    """Offline consistency check for a MOR state root (the ops runbook's
    "did that crash leave anything behind?" tool). Returns ``{"errors":
    [...], "warnings": [...], "info": [...], "repaired": [...]}``; empty
    ``errors`` means every reader-visible invariant holds.

    - **errors** — reader-visible inconsistencies needing action:
      * a pending seq present for SOME tables but not others — the
        signature of an ABANDONED partial ad-hoc apply (the module
        docstring's recovery: re-run the apply; its fresh-seq tombstones
        shadow every partial row by id);
      * a LIVE seq whose delta dir exists without its tombstone dir (or
        vice versa) for a table — a crash inside :func:`mor_append`
        between its two writes; same re-run-the-apply recovery;
      * a ``batch_seqs`` entry pointing at or below the compaction
        horizon or into a committed fold's covered range (the replay
        would write into a reader-ignored dir — both commit sites prune
        these, so a surviving entry means a pre-fix state or manual
        edit);
      * ``high_water`` below the compaction horizon.
    - **warnings** — crash leftovers the next fold/compaction heals:
      an uncommitted fold's orphan dirs, a stale ``_mor.json.tmp``.
    - **info** — expected retained garbage: reader-ignored seq dirs
      (at/below the horizon, fold-covered, or in a retained GC
      generation) and the GC generations' still-on-disk entries.

    ``repair=True`` additionally performs the MECHANICALLY SAFE
    recoveries — the ones whose correctness needs no judgment because
    readers already ignore everything they touch — then re-censuses and
    reports what it did under ``"repaired"``:

    * sweep every retained GC generation and reader-ignored seq dir
      (forfeits the snapshot-isolation window — only run when no probe
      older than this call is still in flight, same caveat as
      :func:`mor_gc`);
    * delete an uncommitted fold's orphan dirs and clear its record;
    * prune ``batch_seqs`` entries at/below the horizon or inside a
      committed fold (exactly the prune both commit sites apply);
    * raise ``high_water`` to the compaction horizon;
    * delete a stale ``_mor.json.tmp``.

    The judgment-call case — an abandoned partial ad-hoc apply — is NOT
    auto-repaired: the heal is to RE-RUN the apply with the original
    batch (fsck cannot reconstruct it); the error text says so. Repair
    claims writership (epoch bump), so a running maintainer's next batch
    fails loudly instead of racing the cleanup."""
    out, acts = _fsck_census(spark, root)
    out["repaired"] = []
    if not repair:
        return out
    actionable = (
        acts["stale_tmp"]
        or acts["garbage_seqs"]
        or acts["orphan_fold_seq"] is not None
        or acts["bad_batch_keys"]
        or acts["raise_high_water"]
        or acts["gc_paths"]
    )
    if not actionable:
        return out
    base = root.rstrip("/")
    mor_take_writer(spark, root)  # fence any concurrent maintainer
    meta = _read_mor(spark, root)
    repaired: list[str] = []
    for rel in acts["gc_paths"]:
        _hadoop_delete(spark, base + "/" + rel)
    if acts["gc_paths"] or _gc_gens(meta):
        meta["gc"] = []
        meta.pop("gc_deferred", None)
        repaired.append(
            f"swept {len(acts['gc_paths'])} retained GC path(s) and "
            "cleared the generation list"
        )
    for s in sorted(acts["garbage_seqs"]):
        for t in meta["tables"]:
            _hadoop_delete(spark, base + f"/_delta/{t}/{SEQ_COL}={s}")
            _hadoop_delete(spark, base + f"/_tomb/{t}/{SEQ_COL}={s}")
        repaired.append(f"swept reader-ignored seq {s}")
    if acts["orphan_fold_seq"] is not None:
        s = acts["orphan_fold_seq"]
        for t in meta["tables"]:
            _hadoop_delete(spark, base + f"/_delta/{t}/{SEQ_COL}={s}")
            _hadoop_delete(spark, base + f"/_tomb/{t}/{SEQ_COL}={s}")
        fold = meta.get("fold")
        if fold and not fold.get("committed") and int(fold["seq"]) == s:
            meta.pop("fold")
        repaired.append(f"deleted uncommitted fold orphan at seq {s}")
    if acts["bad_batch_keys"]:
        for k in acts["bad_batch_keys"]:
            meta.get("batch_seqs", {}).pop(k, None)
        repaired.append(
            f"pruned {len(acts['bad_batch_keys'])} stale batch_seqs "
            "entr(y/ies)"
        )
    if acts["raise_high_water"]:
        meta["high_water"] = int(meta["compacted_through"])
        repaired.append("raised high_water to the compaction horizon")
    _write_mor(spark, root, meta)  # also replaces any stale tmp
    if acts["stale_tmp"]:
        repaired.append("cleared stale _mor.json.tmp")
    out, _ = _fsck_census(spark, root)
    out["repaired"] = repaired
    return out


def maybe_autocompact(spark, root: str, epoch: int | None = None) -> bool:
    """The appliers' end-of-batch compaction hook: MAJOR every
    ``compact_every`` applied batches (counted, reset at each major —
    pending COUNT can no longer drive it because minor folds collapse
    pending to one), MINOR whenever ``minor_every`` (if set) deltas
    accumulate in between. Pre-r13 states without the counter fall back
    to the pending-count trigger they were written under."""
    meta = _read_mor(spark, root)
    every = meta.get("compact_every") or 0
    pend_n = len(mor_pending_seqs(spark, root))
    since = meta.get("batches_since_compact")
    majored = since if since is not None else pend_n
    if every and majored >= every:
        return mor_compact(spark, root, epoch=epoch)
    minor = meta.get("minor_every") or 0
    if minor and pend_n >= minor:
        return mor_minor_compact(spark, root, epoch=epoch)
    return False


def latest_per_key(
    batch_df: DataFrame, id_col: str, seq_col: str
) -> DataFrame:
    """Final state per key in a batch: latest event by ``seq_col`` wins
    (``apply_changelog`` semantics, shared by every applier)."""
    return (
        batch_df.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy(F.col(seq_col).desc())
            ),
        )
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def require_before_images(
    batch_df: DataFrame, op_col: str, before_col: str, why: str
) -> None:
    """Fail fast when update/delete rows lack a usable before image —
    shared validation wording across the appliers."""
    movers = batch_df.where(F.col(op_col).isin("update", "delete"))
    if before_col not in batch_df.columns:
        if movers.limit(1).count():
            raise ValueError(
                f"batch contains update/delete ops but no '{before_col}' "
                f"column: {why}. Flatten the stream with the update "
                "projection."
            )
    elif movers.where(F.col(before_col).isNull()).limit(1).count():
        raise ValueError(
            f"batch contains update/delete rows with a NULL '{before_col}' "
            f"before image: {why}. Emit whole before images."
        )

"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship CDC query (multi-op envelope flattening)
on sf0.001. ``queries()`` exposes one callable per implemented operator from
SURVEY.md §2 plus the LLM-pipeline operators; ``oracle_sql()`` gives an
EXACT DuckDB restatement for every one of them — including the LSH/ANN/IVF
approximate paths, whose oracles restate the probe machinery itself
(hyperplane/centroid literals, closed-form planted-clone constructions) and
the multimodal decodes (closed-form P5/WAV fixtures). The first 50 keys —
the driver's recorded window — rotate oldest-evidence-first (6 cdc,
11 rel, 33 llm this round — the win_* family's evidence is all r13/r14;
after the round-15 rotation no key's latest driver-green row is older
than round 13).

Determinism rules used throughout (so value-hashes match the oracle):
- money aggregates run over ``decimal(18,2)`` casts (exact, associative,
  partition-order independent) and only the FINAL value is cast to double;
- float outputs are either raw passthrough values (bit-exact in both
  engines) or rounded with ``round(x, 6)``;
- every top-k has a total deterministic order (score desc, then id).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from siddhi_io_cdc_spark.functions import dedup_exact, lang_detect, quality_score, text_stats
from siddhi_io_cdc_spark.functions.dedup import minhash_lsh_pairs, simhash_pairs
from siddhi_io_cdc_spark.functions.multimodal import (
    attach_ppm_payload,
    attach_video_payload,
    attach_wav_payload,
    decode_audio_features,
    decode_image_features,
    extract_embedding,
    split_video_frames,
)
from siddhi_io_cdc_spark.functions.similarity import ann_cosine, topk_cosine
from siddhi_io_cdc_spark.functions.text import (
    LANG_MARKERS,
    PUNCT_RE,
    STOPWORDS_EN,
    TOKEN_RE,
    fingerprint,
    scrub_pii,
    strip_markup,
)
from siddhi_io_cdc_spark.operators.flatten import flatten, lowercase_columns, schema_map
from siddhi_io_cdc_spark.operators.mongo import mongo_flatten
from siddhi_io_cdc_spark.operators.mutate import (
    apply_changelog,
    delete_on,
    insert_into,
    update_on,
)
from siddhi_io_cdc_spark.plans import relational as R
from siddhi_io_cdc_spark.sources.envelope import synthetic_changelog

# ---------------------------------------------------------------------------
# Deterministic synthetic changelogs (shared by Spark queries and oracles).
# op: event_id%10 in 0..6 -> insert, 7..8 -> update, 9 -> delete.
# ---------------------------------------------------------------------------

EVENT_COLS = ["event_id", "user_id", "event_type", "value", "props"]

# events.parquet carries a TIMESTAMP(NANOS) column Spark cannot infer; an
# explicit schema prunes it at the scan (we never need it) and keeps these
# queries runnable in any vanilla SparkSession.
_EVENTS_SCHEMA = "event_id long, user_id long, event_type string, value double, props string"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.schema(_EVENTS_SCHEMA).parquet(f"{sf_dir}/events.parquet").select(*EVENT_COLS)


def _events_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    m = F.col("event_id") % 10
    op = F.when(m <= 6, F.lit("c")).when(m <= 8, F.lit("u")).otherwise(F.lit("d"))
    return synthetic_changelog(
        ev,
        op_col=op,
        before_exprs={
            "user_id": F.col("user_id") + 1000,
            "event_type": F.concat(F.lit("prev_"), F.col("event_type")),
            "value": F.col("value") + 1.5,
        },
        source_ts_ms=F.col("event_id") * 2,
        ts_ms=F.col("event_id") * 3,
    )


def _customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/customer.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# -- CDC event-shaping ------------------------------------------------------


def q_flatten_insert(spark, sf_dir):
    return flatten(_events_changelog(spark, sf_dir), operations=["insert"])


def q_flatten_update(spark, sf_dir):
    return flatten(_events_changelog(spark, sf_dir), operations=["update"])


def q_flatten_delete(spark, sf_dir):
    return flatten(_events_changelog(spark, sf_dir), operations=["delete"])


def q_flatten_multi_op(spark, sf_dir):
    return flatten(_events_changelog(spark, sf_dir), operations=["insert", "update", "delete"])


def q_flatten_insert_delete(spark, sf_dir):
    return flatten(_events_changelog(spark, sf_dir), operations=["insert", "delete"])


def q_flatten_snapshot(spark, sf_dir):
    """Initial-snapshot consumption (Debezium op 'r'): bootstrap reads are
    insert-shaped and selectable alongside live inserts — a Spark-first
    extension (the reference logs-and-drops 'r')."""
    ev = _events(spark, sf_dir)
    m = F.col("event_id") % 10
    op = (
        F.when(m <= 2, F.lit("r"))
        .when(m <= 6, F.lit("c"))
        .when(m <= 8, F.lit("u"))
        .otherwise(F.lit("d"))
    )
    env = synthetic_changelog(
        ev,
        op_col=op,
        before_exprs={
            "user_id": F.col("user_id") + 1000,
            "event_type": F.concat(F.lit("prev_"), F.col("event_type")),
            "value": F.col("value") + 1.5,
        },
        source_ts_ms=F.col("event_id") * 2,
        ts_ms=F.col("event_id") * 3,
    )
    return flatten(env, operations=["insert", "snapshot"])


def q_keyvalue_mapping(spark, sf_dir):
    flat = flatten(_events_changelog(spark, sf_dir), operations=["insert"])
    return schema_map(flat, mapping={"id": "event_id", "etype": "event_type"})


def q_lowercase_columns(spark, sf_dir):
    cust = _customer(spark, sf_dir)
    upper = cust.toDF(*[c.upper() for c in cust.columns])
    return lowercase_columns(upper)


def q_int_widening(spark, sf_dir):
    cust = _customer(spark, sf_dir).select(
        "c_custkey", F.col("c_nationkey").cast("smallint").alias("c_nationkey")
    )
    env = synthetic_changelog(cust, op_col=F.lit("c"))
    return flatten(env, operations=["insert"])


def q_decimal_compat(spark, sf_dir):
    cust = _customer(spark, sf_dir).select(
        "c_custkey", F.col("c_acctbal").cast("decimal(12,2)").alias("c_acctbal")
    )
    env = synthetic_changelog(cust, op_col=F.lit("c"))
    return flatten(env, operations=["insert"], compat_decimal=True)


def q_mongo_flatten(spark, sf_dir):
    """E10-E12: deterministic Mongo changelog built from events, parsed by
    mongo_flatten (insert after-JSON, update $set patch, delete $oid key)."""
    from pyspark.sql import types as T

    from siddhi_io_cdc_spark.util import fan_out

    # The JSON build+parse is narrow CPU-heavy work; a single-row-group
    # parquet input would serialize it on one core (production Mongo
    # changelogs arrive over many Kafka partitions — fan_out restores that
    # shape, and is a no-op on an already-partitioned input).
    # min_bytes_per_slot=0: JSON string building + get_json_object parsing
    # dwarfs the widening shuffle even on tiny inputs — measured warm at
    # sf0.1 (noop-sink): 1.59 s thresholded vs 0.55 s widened.
    ev = fan_out(_events(spark, sf_dir), min_bytes_per_slot=0)
    m = F.col("event_id") % 10
    eid = F.col("event_id").cast("string")
    after = F.concat(
        F.lit('{"_id": {"$oid": "oid'), eid,
        F.lit('"}, "name": "n'), F.col("user_id").cast("string"),
        F.lit('", "volume": {"$numberLong": "'), (F.col("user_id") * 7).cast("string"),
        F.lit('"}, "active": '), F.when(F.col("user_id") % 2 == 0, "true").otherwise("false"),
        F.lit("}"),
    )
    patch = F.concat(F.lit('{"$set": {"name": "upd'), F.col("user_id").cast("string"), F.lit('"}}'))
    key = F.concat(F.lit('{"id": {"$oid": "oid'), eid, F.lit('"}}'))
    env = ev.select(
        F.when(m <= 6, "c").when(m <= 8, "u").otherwise("d").alias("op"),
        F.when(m > 6, key).alias("key"),
        F.when(m <= 6, after).alias("after"),
        F.when((m == 7) | (m == 8), patch).alias("patch"),
        F.struct((F.col("event_id") * 2).alias("ts_ms")).alias("source"),
        (F.col("event_id") * 3).alias("ts_ms"),
    )
    row_schema = T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("volume", T.LongType()),
            T.StructField("active", T.BooleanType()),
        ]
    )
    return mongo_flatten(env, row_schema, operations=["insert", "update", "delete"])


# -- CDC source offset logic (batch restatements of S9/S10) -----------------


def q_offset_discovery(spark, sf_dir):
    return _events(spark, sf_dir).agg(
        F.coalesce(F.max("event_id"), F.lit(-1)).alias("last_offset")
    )


def q_incremental_scan(spark, sf_dir):
    return (
        spark.read.schema(_EVENTS_SCHEMA)
        .parquet(f"{sf_dir}/events.parquet")
        .where(F.col("event_id") > 9000)
        .select("event_id", "user_id", "value")
    )


def q_gap_wait(spark, sf_dir):
    """T8 gap-wait admission as a batch contract row
    (WaitOnMissingRecordPollingStrategy.java:112-152): drop event_id
    17 mod 509 to simulate missed records, then tag each surviving event
    with its wait-cycle index — phase = i means the event sits in the i-th
    contiguous key run and is released only after i-1 independent
    missed-record timeouts (each gap resets waitingFor/waitingFrom at
    :117-121,:140-141 and waits its own full timeout). The %509 drop makes
    ~N/509 gaps, so this exercises the MULTI-gap cycle accounting, not just
    the first hold."""
    from siddhi_io_cdc_spark.sources.polling import gap_admission_phases

    present = (
        spark.read.schema(_EVENTS_SCHEMA)
        .parquet(f"{sf_dir}/events.parquet")
        .where(F.col("event_id") % 509 != 17)
        .select("event_id", "user_id", "value")
    )
    return gap_admission_phases(present, "event_id")


# -- Mutating query surface (Q1/Q3/Q4 + CDC apply) --------------------------


def q_insert_into(spark, sf_dir):
    cust = _customer(spark, sf_dir)
    src = cust.where(F.col("c_custkey") <= 100).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        "c_name",
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
    )
    return insert_into(cust, src)


def q_update_on(spark, sf_dir):
    cust = _customer(spark, sf_dir)
    src = cust.where(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        F.lit("UPDATED").alias("c_mktsegment"),
        F.lit(None).cast("double").alias("c_acctbal"),
    )
    return update_on(cust, src, on=["c_custkey"])


def q_delete_on(spark, sf_dir):
    cust = _customer(spark, sf_dir)
    src = cust.where(F.col("c_custkey") % 5 == 0).select("c_custkey")
    return delete_on(cust, src, on=["c_custkey"])


def q_apply_changelog(spark, sf_dir):
    cust = _customer(spark, sf_dir)
    updates = cust.where(F.col("c_custkey") % 4 == 0).select(
        "c_custkey",
        F.concat(F.lit("upd_"), F.col("c_name")).alias("c_name"),
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
        F.lit("update").alias("operation"),
        F.lit(10).cast("long").alias("ts_ms"),
    )
    deletes = cust.where(F.col("c_custkey") % 4 == 1).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
        F.lit("delete").alias("operation"),
        F.lit(10).cast("long").alias("ts_ms"),
    )
    inserts = cust.where(F.col("c_custkey") <= 50).select(
        (F.col("c_custkey") + 2000000).alias("c_custkey"),
        "c_name",
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
        F.lit("insert").alias("operation"),
        F.lit(10).cast("long").alias("ts_ms"),
    )
    events = updates.unionByName(deletes).unionByName(inserts)
    return apply_changelog(cust, events, key=["c_custkey"])


def q_salted_agg(spark, sf_dir):
    """Skew-safe two-phase aggregation — identical result to a plain
    groupBy (decomposable aggregates only), hot keys sharded across
    reducers."""
    from siddhi_io_cdc_spark.plans.skew import salted_agg

    return salted_agg(
        _events(spark, sf_dir),
        ["user_id"],
        {"n": ("count", "*"), "sum_eid": ("sum", "event_id")},
        salt=8,
    )


# -- LLM pipeline -----------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    return dedup_exact(_docs(spark, sf_dir)).select("doc_id")


def q_text_stats(spark, sf_dir):
    return text_stats(_docs(spark, sf_dir)).select(
        "doc_id", "n_chars_calc", "n_words", "n_tokens", "punct_ratio", "stopword_ratio"
    )


def q_lang_detect(spark, sf_dir):
    from siddhi_io_cdc_spark.util import fan_out

    # fan_out: the n-gram regex scoring is the CPU; a compact scan must
    # not serialize it on row-group-count cores (no-op on wide inputs)
    return fan_out(_docs(spark, sf_dir)).select(
        "doc_id", lang_detect(F.col("text")).alias("lang_pred")
    )


def q_quality_score(spark, sf_dir):
    return quality_score(_docs(spark, sf_dir)).select("doc_id", "quality_score")


def q_fingerprint(spark, sf_dir):
    return _docs(spark, sf_dir).select("doc_id", fingerprint(F.col("text")).alias("fp"))


def q_topk_cosine(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    return topk_cosine(emb, q, k=10).select("vec_id")


def q_minhash_pairs(spark, sf_dir):
    """Rows-only: plant 5 deterministic near-dups, recover them via LSH."""
    docs = _docs(spark, sf_dir)
    nd = docs.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tailmarker")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    return minhash_lsh_pairs(docs.unionByName(nd), jaccard_threshold=0.7).orderBy(
        "id_a", "id_b"
    )


def q_simhash_pairs(spark, sf_dir):
    """Exact oracle via the PORTABLE simhash (md5-chunk token hash,
    functions/dedup.py simhash64): the 64-bit signature itself restates in
    DuckDB, and the 4-chunk pigeonhole blocking is recall-exact for
    hamming <= 3, so the all-pairs SQL computes the identical end state."""
    docs = _docs(spark, sf_dir)
    nd = docs.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    return simhash_pairs(docs.unionByName(nd), max_hamming=3, portable=True).orderBy(
        "id_a", "id_b"
    )


def q_ann_cosine(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    return ann_cosine(emb, q, k=10, nbits=8, probe_hamming=1).select("vec_id")


def q_ivf_ann(spark, sf_dir):
    """IVF ANN probing ALL lists == exact top-k → fully oracle-checkable."""
    from siddhi_io_cdc_spark.functions.similarity import ivf_ann_cosine

    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    return ivf_ann_cosine(emb, q, k=10, nlist=8, nprobe=8).select("vec_id")


#: Fixed 64-dim probe vector for the maintained-IVF mutation row (integer
#: values — exact in both engines; shared by the Spark probe and oracle).
_IVF_MUT_QUERY = [float((i * 7 + 3) % 11 + 1) for i in range(64)]


def q_ivf_probe_maintained_mut(spark, sf_dir):
    """The maintained IVF index's UPDATE/DELETE path, driver-checked
    end-to-end (round-10 verdict ask #4 — the insert-only path was pinned
    by pytest parity, and llm_ivf_ann only checks the batch probe):
    build the cell-partitioned index from the full embeddings table, apply
    ONE changelog batch that negates every vec_id%7==0 vector (negation
    moves the vector's cell — the tombstone must shadow the old row in its
    old cell) and deletes every vec_id%11==0 one (%7!=0, so each key carries exactly
    one event), then probe nprobe=4 of nlist=8 cells. The oracle restates
    the probe machinery itself over the post-changelog corpus: centroid
    literals, argmax-dot cell assignment with lowest-index ties, the
    SAME stable-sorted 4-cell probe list, cosine top-10."""
    import shutil
    import tempfile

    from siddhi_io_cdc_spark.functions.similarity import (
        probe_ivf_index,
        write_ivf_index,
    )
    from siddhi_io_cdc_spark.streaming.ivf_index import apply_changelog_ivf

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    # session tempdir, removed below once the probe result is materialized —
    # the old pid-keyed /tmp path leaked a corpus-sized parquet tree per
    # driver process (ADVICE r11)
    path = tempfile.mkdtemp(prefix="ivf_mut_")
    write_ivf_index(emb, path, nlist=8, seed=42, assign_engine="sql")
    upd = emb.where(F.col("vec_id") % 7 == 0).select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: -x).alias("embedding"),
        F.lit("update").alias("operation"),
        F.lit(1).cast("long").alias("ts_ms"),
        F.col("embedding").alias("before_embedding"),
    )
    dele = emb.where(
        (F.col("vec_id") % 11 == 0) & (F.col("vec_id") % 7 != 0)
    ).select(
        "vec_id",
        F.expr("array_repeat(CAST(0.0 AS FLOAT), 64)").alias("embedding"),
        F.lit("delete").alias("operation"),
        F.lit(1).cast("long").alias("ts_ms"),
        F.col("embedding").alias("before_embedding"),
    )
    apply_changelog_ivf(spark, path, upd.unionByName(dele))
    probe = probe_ivf_index(spark, path, _IVF_MUT_QUERY, k=10, nprobe=4)
    # materialize the top-k (bounded: k rows) so the index tree can be
    # deleted before returning — the caller still gets a DataFrame
    rows = probe.collect()
    shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(rows, probe.schema)


def q_ivf_probe_mor(spark, sf_dir):
    """The maintained IVF index through every branch of the merge-on-read
    read path. Same post-changelog corpus as llm_ivf_probe_maintained_mut
    (negate vec_id%7==0, delete vec_id%11==0 with %7!=0), so that row's
    probe-restatement oracle applies verbatim — but the update batch
    carries NO before images (tombstones shadow by id), a COMPACTION folds
    it (pointer-swap commit), and the delete batch stays a pending delta,
    so the final probe reads compacted-base ∪ delta minus tombstones."""
    import shutil
    import tempfile

    from siddhi_io_cdc_spark.functions.similarity import (
        probe_ivf_index,
        write_ivf_index,
    )
    from siddhi_io_cdc_spark.streaming.ivf_index import apply_changelog_ivf
    from siddhi_io_cdc_spark.streaming.mor import mor_compact

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    path = tempfile.mkdtemp(prefix="ivf_mor_")
    write_ivf_index(emb, path, nlist=8, seed=42, assign_engine="sql")
    upd = emb.where(F.col("vec_id") % 7 == 0).select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: -x).alias("embedding"),
        F.lit("update").alias("operation"),
        F.lit(1).cast("long").alias("ts_ms"),
    )
    apply_changelog_ivf(spark, path, upd, batch_id=0)
    mor_compact(spark, path)
    dele = emb.where(
        (F.col("vec_id") % 11 == 0) & (F.col("vec_id") % 7 != 0)
    ).select(
        "vec_id",
        F.expr("array_repeat(CAST(0.0 AS FLOAT), 64)").alias("embedding"),
        F.lit("delete").alias("operation"),
        F.lit(2).cast("long").alias("ts_ms"),
    )
    apply_changelog_ivf(spark, path, dele, batch_id=1)
    probe = probe_ivf_index(spark, path, _IVF_MUT_QUERY, k=10, nprobe=4)
    rows = probe.collect()
    shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(rows, probe.schema)


def q_near_dedup(spark, sf_dir):
    """Rows-only (iterative components): end-to-end near-dedup — plant 5
    clones, LSH-pair them, collapse each cluster to its canonical doc."""
    from siddhi_io_cdc_spark.functions.dedup import dedup_near

    docs = _docs(spark, sf_dir)
    nd = docs.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tailmarker")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    corpus = docs.unionByName(nd)
    pairs = minhash_lsh_pairs(corpus, jaccard_threshold=0.7)
    return dedup_near(corpus, pairs).select("doc_id").orderBy("doc_id")


def q_multimodal_decode(spark, sf_dir):
    """Real P5 payloads built JVM-side (attach_ppm_payload), parsed back by
    the real pure-numpy netpbm decoder — every feature has a closed-form SQL
    restatement, so this runs as an exact value oracle, not rows-only."""
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 200)
    return decode_image_features(attach_ppm_payload(docs)).orderBy("id")


#: Fixed 16-dim retrieval query vector for the RAG composite (any non-zero
#: literal works — cosine normalizes; shared by the Spark query and oracle).
_RAG_QUERY_VEC = [float((i * 7 + 3) % 11 + 1) for i in range(16)]


def q_rag_pipeline(spark, sf_dir):
    """RAG-ingest composite: token-chunk the corpus (64/16 overlap) ->
    embed each chunk (extract_embedding strided-fold featurizer — the
    documented model-swap seam for a real encoder) -> exact cosine top-20
    retrieval against a fixed query vector. ONE composed plan, one Python
    node (the featurizer); chunking and scoring are pure JVM. The oracle
    restates the whole pipeline: chunk CTE -> per-chunk byte fold ->
    normalized components rounded to 6 (matching the operator) -> cosine
    top-k with id tiebreak."""
    from siddhi_io_cdc_spark.functions.export import chunk_documents_tokens
    from siddhi_io_cdc_spark.functions.multimodal import extract_embedding
    from siddhi_io_cdc_spark.functions.similarity import topk_cosine

    chunks = (
        chunk_documents_tokens(_docs(spark, sf_dir), chunk_tokens=64, overlap=16)
        .where(F.col("chunk_tokens") > 0)
        .select(
            (F.col("doc_id") * 10000 + F.col("chunk_idx")).alias("cid"),
            F.encode(F.col("chunk_text"), "UTF-8").alias("payload"),
        )
    )
    emb = extract_embedding(chunks, id_col="cid", dim=16)
    return topk_cosine(emb, _RAG_QUERY_VEC, k=20, id_col="id").select(
        F.col("id").alias("cid"), "score"
    )


def q_gopher_quality(spark, sf_dir):
    """Gopher quality-filter rule set (Rae et al. 2021 A1.1) — per-doc
    metrics + composite keep flag, all closed-form array expressions with
    an exact SQL restatement."""
    from siddhi_io_cdc_spark.functions.text import gopher_quality

    return gopher_quality(_docs(spark, sf_dir)).select(
        "doc_id", "g_n_words", "g_mean_word_len", "g_symbol_ratio",
        "g_bullet_frac", "g_ellipsis_frac", "g_alpha_frac",
        "g_n_stopwords", "gopher_keep",
    )


def q_duplicate_spans(spark, sf_dir):
    """Cross-document duplicated 30-token spans (Lee et al. 2021 exact-
    substring direction): content-anchored windows (md5 of the first token
    mod 15 — the same in-run positions are picked in every copy), md5
    window hash, one aggregation + broadcast-back join.
    The shipped corpus's planted clones contain verbatim runs, so the
    result is non-trivially populated without synthetic additions."""
    from siddhi_io_cdc_spark.functions.dedup import duplicate_spans

    return duplicate_spans(_docs(spark, sf_dir), width=30, stride=15)


def q_duplicate_spans_maximal(spark, sf_dir):
    """MAXIMAL duplicated token runs (Lee et al. 2021 exact-substring
    dedup): every 16-token window hashed (no anchor sampling — exactness
    costs the suffix-array's O(corpus) window pass), duplicated-window
    positions merged into maximal per-document runs by gaps-and-islands.
    Returns (doc_id, span_start, span_len) with exact run boundaries."""
    from siddhi_io_cdc_spark.functions.dedup import duplicate_spans_maximal

    return duplicate_spans_maximal(_docs(spark, sf_dir), seed_width=16)


def q_decontaminate_spans(spark, sf_dir):
    """Span-level benchmark decontamination: maximal >= 16-token runs of
    the train slice (doc_id%7 != 0) that verbatim-overlap the benchmark
    slice (doc_id%7 == 0) — the surgical form next to the doc-level
    llm_decontaminate. The %7 split puts planted-clone partners on BOTH
    sides of the cut (538 overlapping windows at sf0.01; the doc-level
    query's %97 split leaves zero cross-side 16-token overlap — an empty
    result proves nothing)."""
    from siddhi_io_cdc_spark.functions.dedup import decontaminate_spans

    docs = _docs(spark, sf_dir)
    return decontaminate_spans(
        docs.where(F.col("doc_id") % 7 != 0),
        docs.where(F.col("doc_id") % 7 == 0),
        seed_width=16,
    )


def q_dedup_substrings(spark, sf_dir):
    """Exact-substring REMOVAL (Lee et al. 2021): excise every maximal
    duplicated >= 16-token run from every document (the rewrite is over
    the TOKEN_RE token stream — lowercased, single-space re-joined, the
    same normalization every dedup operator shares)."""
    from siddhi_io_cdc_spark.functions.dedup import remove_duplicate_spans

    return remove_duplicate_spans(_docs(spark, sf_dir), seed_width=16)


def q_temperature_mixture(spark, sf_dir):
    """Temperature re-weighting (w ∝ n^0.5) then the mixture_sample
    keep-hash pass. The fixture's source domains are perfectly balanced
    (every alpha keeps 100%), so the query derives a SKEWED 70/20/10
    domain from doc_id — alpha=0.5 then really downsamples the big domain
    (rate ≈ 0.38) and keeps the small one in full, which is the behavior
    the oracle must reproduce (weights recomputed from counts with pow(),
    whole threshold pipeline restated)."""
    from siddhi_io_cdc_spark.functions.export import temperature_mixture

    dom = (
        F.when(F.col("doc_id") % 10 < 7, "big")
        .when(F.col("doc_id") % 10 < 9, "mid")
        .otherwise("small")
    )
    docs = _docs(spark, sf_dir).withColumn("domain", dom)
    return temperature_mixture(
        docs, alpha=0.5, domain_col="domain"
    ).select("doc_id", "domain")


def q_bpe_pairs(spark, sf_dir):
    """One BPE-training counting round (Sennrich et al. 2016): top-50
    adjacent character pairs over word-internal characters, weighted by
    word frequency — vocabulary-sized work after the word-count pass."""
    from siddhi_io_cdc_spark.functions.text import bpe_pair_counts

    return bpe_pair_counts(_docs(spark, sf_dir), top_n=50)


def _pq_query_vec(dim: int = 64, seed: int = 7):
    """Deterministic literal query vector for the PQ contract query (unit-
    normalized, so ADC distances land in the same range as the corpus)."""
    import numpy as np

    rs = np.random.RandomState(seed)
    q = rs.randn(dim)
    q = q / np.linalg.norm(q)
    return [float(x) for x in q]


def q_quality_classifier(spark, sf_dir):
    """Distill a teacher rule into a linear quality model by batch gradient
    descent (10 iterations, each one corpus aggregate + a 6-number driver
    collect), then score every document — training AND inference exactly
    restated by the oracle's chained iteration CTEs."""
    from siddhi_io_cdc_spark.functions.classifier import (
        apply_quality_classifier,
        train_quality_classifier,
    )

    docs = _docs(spark, sf_dir)
    model = train_quality_classifier(docs)
    return apply_quality_classifier(docs, model).select(
        "doc_id", "quality_prob", "quality_keep"
    )


def q_span_corruption(spark, sf_dir):
    """T5 denoising prep: block-grid span corruption (exact rate 3/20,
    non-overlapping by construction, every position a pure function of
    (doc_id, block) through the portable md5 hash) — map-only, and the
    whole sentinel/input/target assembly restates in SQL."""
    from siddhi_io_cdc_spark.functions.export import span_corruption

    return span_corruption(_docs(spark, sf_dir)).select(
        "doc_id", "input_text", "target_text", "n_masked"
    )


def q_ul2_denoisers(spark, sf_dir):
    """UL2 mixture-of-denoisers (Tay et al. 2022): hash-routed R (span 3/
    block 20) / X (span 8/block 16) / S (PrefixLM split) denoising pairs,
    one map-only staged scan evaluating all three branches under a CASE.
    The oracle restates every branch: the two span parameterizations via
    the generated slice SQL and the S pivot via the portable md5 hash."""
    from siddhi_io_cdc_spark.functions.export import ul2_denoisers

    return ul2_denoisers(_docs(spark, sf_dir)).select(
        "doc_id", "denoiser", "input_text", "target_text"
    )


def q_dsir_select(spark, sf_dir):
    """Top-60 DSIR importance resampling selection (deterministic top-rank
    variant): distributed TakeOrdered over the per-doc weights; featureless
    docs never selected."""
    from siddhi_io_cdc_spark.functions.export import dsir_select

    return dsir_select(_docs(spark, sf_dir), F.col("lang") == "en", n=60).select(
        "doc_id", "dsir_weight", "n_features"
    )


def _doc_tokens(spark, sf_dir):
    """The house token stream (lang, tok): TOKEN_RE over lowered text."""
    return _docs(spark, sf_dir).select(
        "lang",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0)
        ).alias("tok"),
    )


def q_hll_distinct(spark, sf_dir):
    """Per-language distinct-token cardinality by the portable md5
    HyperLogLog (functions/sketch.py): register state is bit-identical in
    any engine with md5, so the ORACLE rebuilds the sketch itself — the
    estimate, not just the input, is cross-checked. The corpus-sized token
    stream collapses map-side into <= 256 registers per language."""
    from siddhi_io_cdc_spark.functions.sketch import hll_distinct

    return hll_distinct(
        _doc_tokens(spark, sf_dir), "tok", p=8, group_cols=["lang"]
    )


def q_cms_counts(spark, sf_dir):
    """Count-min point estimates for the corpus's top-8 tokens: build the
    512x4 sketch (one explode + groupBy with map-side combine), then probe
    it for the 8 heaviest tokens (exact counts kept alongside, so the row
    shows the sketch's one-sided error). The sketch side is fixed-size by
    construction and broadcast to the probe."""
    from siddhi_io_cdc_spark.functions.sketch import (
        cms_point_estimates,
        cms_sketch,
    )

    toks = _doc_tokens(spark, sf_dir).select("tok")
    exact = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_cnt")
    )
    top = exact.orderBy(F.col("exact_cnt").desc(), "tok").limit(8)
    sk = cms_sketch(toks, "tok", width=512, depth=4)
    return cms_point_estimates(sk, top, "tok", width=512, depth=4)


def q_bloom_screen(spark, sf_dir):
    """Bloom-filter decontamination screen: the corpus token membership
    bit set (4096 bits, k=3 — the fixed-size no-false-negative state a
    contamination check broadcasts ahead of an exact join), probed with
    the 8 heaviest corpus tokens (must all hit) plus two never-ingested
    literals (definitely-absent ⇒ false; at 4096 bits vs the fixture's
    token vocabulary the all-k-collision odds are negligible and the
    oracle computes the same bits exactly anyway). State AND probe
    restate in SQL through the house per-``j``-seed md5 family — the same
    arithmetic the CMS row pins. The CDC-maintained twin
    (streaming/sketch.write_bloom_state / apply_changelog_bloom /
    bloom_screen, OR-monotone like HLL) is pytest-pinned."""
    from siddhi_io_cdc_spark.functions.sketch import bloom_bits, bloom_maybe_contains

    toks = _doc_tokens(spark, sf_dir).select("tok")
    bits = bloom_bits(toks, "tok", m_bits=4096, k=3)
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.col("__c").desc(), "tok")
        .limit(8)
        .select("tok")
    )
    absent = spark.createDataFrame(
        [("zz-never-ingested-a",), ("zz-never-ingested-b",)], "tok string"
    )
    return bloom_maybe_contains(
        bits, top.unionByName(absent), "tok", m_bits=4096, k=3
    )


def q_bloom_screen_maintained(spark, sf_dir):
    """The MAINTAINED Bloom screen, driver-checked end-to-end: initialize
    the bit-set state from an 80% doc split, apply a changelog batch
    inserting the remaining 20% (`apply_changelog_bloom` — the OR-merge
    path), then probe through `bloom_screen`. The post-changelog corpus
    is the full table, so the llm_bloom_screen oracle applies verbatim —
    hash equality is maintained==fresh AND probe==batch-probe at once."""
    import os
    import re as _re

    from siddhi_io_cdc_spark.streaming.sketch import (
        apply_changelog_bloom,
        bloom_screen,
        write_bloom_state,
    )

    docs = _docs(spark, sf_dir)
    base = docs.where(F.pmod(F.col("doc_id"), F.lit(5)) != 0)
    rest = docs.where(F.pmod(F.col("doc_id"), F.lit(5)) == 0).select(
        "doc_id",
        "text",
        F.lit(None).cast("string").alias("before_text"),
        F.lit("insert").alias("operation"),
        F.col("doc_id").alias("ts_ms"),
    )
    path = os.path.join(
        "/tmp",
        "bloom_state_%s_%d"
        % (_re.sub(r"\W", "_", sf_dir.rstrip("/")), os.getpid()),
    )
    write_bloom_state(spark, base, path, m_bits=4096, k=3)
    apply_changelog_bloom(spark, rest, path, batch_id=0)
    toks = _doc_tokens(spark, sf_dir).select("tok")
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.col("__c").desc(), "tok")
        .limit(8)
        .select("tok")
    )
    absent = spark.createDataFrame(
        [("zz-never-ingested-a",), ("zz-never-ingested-b",)], "tok string"
    )
    return bloom_screen(spark, path, top.unionByName(absent), "tok")


def q_kneser_ney(spark, sf_dir):
    """Interpolated Kneser-Ney bigram scoring (the KenLM/CCNet smoothing):
    every statistic is an exact integer count, the probability a
    fixed-shape arithmetic tree the oracle restates verbatim."""
    from siddhi_io_cdc_spark.functions.export import kneser_ney_logprob

    return kneser_ney_logprob(_docs(spark, sf_dir))


def q_kneser_ney_5gram(spark, sf_dir):
    """Interpolated Kneser-Ney FIVE-gram scoring — the LM CCNet actually
    filters with (Wenzek et al. 2020 score with 5-gram KN; KenLM adjusted
    counts per Heafield 2011). Every statistic in the four-level recursion
    is an exact integer count off the single 5-gram vocabulary; the oracle
    restates the whole hierarchy as a MATERIALIZED CTE chain."""
    from siddhi_io_cdc_spark.functions.export import kneser_ney_ngram_logprob

    return kneser_ney_ngram_logprob(_docs(spark, sf_dir), n=5)


def q_kneser_ney_maintained(spark, sf_dir):
    """The CDC-MAINTAINED 5-gram KN LM, driver-checked end-to-end through
    all three phases: initialize the bucketed per-document gram state from
    an 80% doc split, apply a changelog batch INSERTING the remaining 20%
    (``apply_changelog_ngram`` — the turnstile maintenance path), then
    serve with ``kneser_ney_from_state``. The post-changelog corpus IS the
    full documents table, so the oracle is byte-identical to
    llm_kneser_ney_5gram's hierarchy restatement — the value-hash equality
    is simultaneously the maintained==rebuild claim AND the serve==batch-
    scorer claim. Update/delete maintenance and crash replay stay
    pytest-pinned (tests/test_ngram_lm_stream.py)."""
    import os
    import re as _re

    from siddhi_io_cdc_spark.streaming.ngram_lm import (
        apply_changelog_ngram,
        kneser_ney_from_state,
        write_ngram_state,
    )

    docs = _docs(spark, sf_dir)
    base = docs.where(F.pmod(F.col("doc_id"), F.lit(5)) != 0)
    rest = docs.where(F.pmod(F.col("doc_id"), F.lit(5)) == 0).select(
        "doc_id",
        "text",
        F.lit(None).cast("string").alias("before_text"),
        F.lit("insert").alias("operation"),
        F.col("doc_id").alias("ts_ms"),
    )
    # per-process path (see q_bm25_probe); write_ngram_state clears old
    # batch markers, so repeat in-process calls re-apply cleanly
    path = os.path.join(
        "/tmp",
        "kn_lm_state_%s_%d"
        % (_re.sub(r"\W", "_", sf_dir.rstrip("/")), os.getpid()),
    )
    # bucket counts sized to the contract fixture (physical layout only —
    # the oracle is unaffected): 64/16 buckets on a sf0.01 corpus are
    # nearly-empty partition dirs whose small-file overhead dominated the
    # row (measured 25.4 s -> 9.4 s at 16/4). Production sizes buckets to
    # the corpus, exactly like the BM25 index's nbuckets.
    write_ngram_state(spark, base, path, n=5, nbuckets=16, doc_buckets=4)
    apply_changelog_ngram(spark, rest, path, batch_id=0)
    return kneser_ney_from_state(spark, path)


def q_kneser_ney_maintained_mut(spark, sf_dir):
    """The maintained LM's UPDATE/DELETE path, driver-checked (the insert
    path is `llm_kneser_ney_maintained`): initialize the state from the
    FULL corpus, apply one changelog batch that rewrites every doc_id%7==0
    document (append ' zz qq') and deletes every doc_id%11==0 one (%7!=0,
    so each key carries exactly one event), then serve. The removal of the
    old grams — the turnstile half a stored global count could not
    replay safely — is thereby oracle-checked: the oracle runs the same
    5-gram KN hierarchy over the post-changelog corpus expressed as a
    CASE/WHERE CTE."""
    import os
    import re as _re

    from siddhi_io_cdc_spark.streaming.ngram_lm import (
        apply_changelog_ngram,
        kneser_ney_from_state,
        write_ngram_state,
    )

    docs = _docs(spark, sf_dir)
    path = os.path.join(
        "/tmp",
        "kn_lm_mut_%s_%d"
        % (_re.sub(r"\W", "_", sf_dir.rstrip("/")), os.getpid()),
    )
    # fixture-sized buckets (physical layout only; the mutation batch
    # touches ~all buckets whatever the count, so fewer dirs = less
    # small-file overhead: measured 21.8 s at 16/4 -> 9.6 s at 4/2)
    write_ngram_state(spark, docs, path, n=5, nbuckets=4, doc_buckets=2)
    upd = docs.where(F.pmod(F.col("doc_id"), F.lit(7)) == 0).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" zz qq")).alias("text"),
        F.col("text").alias("before_text"),
        F.lit("update").alias("operation"),
        F.lit(1).cast("bigint").alias("ts_ms"),
    )
    dele = docs.where(
        (F.pmod(F.col("doc_id"), F.lit(11)) == 0)
        & (F.pmod(F.col("doc_id"), F.lit(7)) != 0)
    ).select(
        "doc_id",
        F.lit(None).cast("string").alias("text"),
        F.col("text").alias("before_text"),
        F.lit("delete").alias("operation"),
        F.lit(1).cast("bigint").alias("ts_ms"),
    )
    apply_changelog_ngram(spark, upd.unionByName(dele), path, batch_id=0)
    return kneser_ney_from_state(spark, path)


def q_kneser_ney_mor(spark, sf_dir):
    """The maintained 5-gram KN LM through the merge-on-read compaction and
    sequence-allocation paths. Same post-changelog corpus as
    llm_kneser_ney_maintained_mut (append ' zz qq' to every doc_id%7==0
    text, delete every %11==0-and-%7!=0 doc), so that row's
    hierarchy-restatement oracle applies verbatim — but the update batch
    carries NO before images (tombstones shadow by id), a compaction folds
    it, and the delete batch stays a pending delta, so serving reads
    compacted-base ∪ delta minus tombstones."""
    import shutil
    import tempfile

    from siddhi_io_cdc_spark.streaming.mor import mor_compact
    from siddhi_io_cdc_spark.streaming.ngram_lm import (
        apply_changelog_ngram,
        kneser_ney_from_state,
        write_ngram_state,
    )

    docs = _docs(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="kn_mor_")
    # fixture-sized buckets, same rationale as the _mut sibling
    write_ngram_state(spark, docs, path, n=5, nbuckets=4, doc_buckets=2)
    upd = docs.where(F.pmod(F.col("doc_id"), F.lit(7)) == 0).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" zz qq")).alias("text"),
        F.lit("update").alias("operation"),
        F.lit(1).cast("bigint").alias("ts_ms"),
    )
    apply_changelog_ngram(spark, upd, path, batch_id=0)
    mor_compact(spark, path)
    dele = docs.where(
        (F.pmod(F.col("doc_id"), F.lit(11)) == 0)
        & (F.pmod(F.col("doc_id"), F.lit(7)) != 0)
    ).select(
        "doc_id",
        F.lit(None).cast("string").alias("text"),
        F.lit("delete").alias("operation"),
        F.lit(2).cast("bigint").alias("ts_ms"),
    )
    # the deletes arrive in TWO applies — an ad-hoc one (no batch id)
    # sandwiched before a streamed one — exercising the r13 persisted
    # sequence allocation through the driver gate: before the fix the
    # streamed batch silently overwrote the ad-hoc delta (same seq) and
    # half the deletes would resurface in the serve, failing this oracle
    apply_changelog_ngram(
        spark, dele.where(F.pmod(F.col("doc_id"), F.lit(2)) == 0), path,
        batch_id=None,
    )
    apply_changelog_ngram(
        spark, dele.where(F.pmod(F.col("doc_id"), F.lit(2)) == 1), path,
        batch_id=1,
    )
    # materialize executor-side so the temp state can be deleted without
    # pulling a corpus-sized result through the driver (r12 review #3)
    out = kneser_ney_from_state(spark, path).localCheckpoint(eager=True)
    shutil.rmtree(path, ignore_errors=True)
    return out


def q_modified_kneser_ney(spark, sf_dir):
    """MODIFIED Kneser-Ney n-gram scoring — KenLM's default estimator
    (Chen & Goodman 1998 §3: three per-order discounts D1/D2/D3+ from the
    order's count-of-counts, picked per gram by its own count). The
    discounts are 16 driver-side doubles computed from 4-row aggregates;
    the oracle recomputes them in SQL with the identical association
    order, so the doubles match bit-for-bit. n=3: the estimator needs
    nonzero count-of-counts n1..n4 at EVERY order (KenLM errors
    identically), and the synthetic fixture's 5-gram counts have n4=0 —
    trigram modified-KN is the highest well-defined order on it; the
    operator itself supports any n (brute-force-pinned at n=2/3)."""
    from siddhi_io_cdc_spark.functions.export import modified_kneser_ney_logprob

    # discount_fallback = KenLM's --discount_fallback default (0.5/1/1.5):
    # never fires at the sf0.01 contract scale (all orders well-defined,
    # so the oracle stays exact) but keeps the query runnable at bench
    # scales whose duplicated fixtures make some order degenerate (sf0.1
    # trigram n1 = 0).
    return modified_kneser_ney_logprob(
        _docs(spark, sf_dir), n=3, discount_fallback=(0.5, 1.0, 1.5)
    )


def q_quantile_sketch(spark, sf_dir):
    """Fixed-bin TURNSTILE quantile sketch (the linear histogram that —
    unlike insert-only GK/KLL — stays maintainable under CDC deletes;
    streaming/sketch.apply_changelog_qhist is the maintainer) over the
    document length distribution, served as interpolated quantiles. The
    oracle reproduces the bucket clamp, the cumulative scan, and the
    interpolation arithmetic verbatim."""
    from siddhi_io_cdc_spark.functions.sketch import (
        quantile_estimates,
        quantile_histogram,
    )

    vals = _docs(spark, sf_dir).select(F.length("text").alias("__v"))
    sk = quantile_histogram(vals, "__v", 0.0, 4096.0, 256)
    return quantile_estimates(
        sk, [0.1, 0.25, 0.5, 0.75, 0.9, 0.99], 0.0, 4096.0, 256
    )


def q_unigram_lm(spark, sf_dir):
    """SentencePiece-style unigram-LM tokenizer training (hard EM): final
    piece table after seed + 2 Viterbi/recount rounds. The oracle restates
    the ENTIRE trainer — seed substring counts, both unrolled-DP ladders,
    both renormalizations — as one generated CTE chain."""
    from siddhi_io_cdc_spark.functions.unigram_lm import unigram_lm_train

    return unigram_lm_train(
        _docs(spark, sf_dir),
        vocab_size=48,
        max_piece_len=3,
        max_word_len=12,
        n_iters=2,
    )


def q_unigram_encode(spark, sf_dir):
    """Tokenizer-family composite #2: train the unigram LM, then encode the
    corpus with the LEARNED pieces (DP per distinct word, broadcast join
    back, position-ordered reassembly; >12-char words pass through OOV)."""
    from siddhi_io_cdc_spark.functions.unigram_lm import (
        unigram_lm_encode,
        unigram_lm_train,
    )

    docs = _docs(spark, sf_dir)
    vocab = unigram_lm_train(
        docs, vocab_size=48, max_piece_len=3, max_word_len=12, n_iters=2
    )
    return unigram_lm_encode(docs, vocab, max_word_len=12, max_piece_len=3)


def q_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-10 for a 3-term query (Robertson/Zaragoza 2009 eq.
    3.2 smoothed idf). One declarative plan: the token explode feeds both
    the tf and df aggregations, the ≤3-row df table and the 1-row corpus
    stats broadcast back, the top-k is distributed TakeOrdered. The oracle
    restates the same expression tree (same literal/association order, so
    the doubles match bit-for-bit before the round-6)."""
    from siddhi_io_cdc_spark.functions.retrieval import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), ["spark", "shuffle", "vector"], k=10)


def q_bm25_probe(spark, sf_dir):
    """BM25 top-10 served from the MAINTAINED inverted index (VERDICT r8
    ask #5): materialize the term-bucket-partitioned postings + doc-length
    layout, then answer through the partition-pruned probe
    (bm25_topk_indexed). Bit-identical to the scan path by construction —
    the oracle is the same scan restatement as llm_bm25_topk, so the
    driver checks the SERVING path end-to-end, not just the scan."""
    import os
    import re as _re

    from siddhi_io_cdc_spark.streaming.bm25_index import (
        bm25_topk_indexed,
        write_bm25_index,
    )

    # Per-process path: two drivers running against the same fixture must
    # not race on one index directory (one rebuilding while the other
    # probes). Same-process repeat calls still reuse the built index.
    idx = os.path.join(
        "/tmp",
        "bm25_probe_idx_%s_%d"
        % (_re.sub(r"\W", "_", sf_dir.rstrip("/")), os.getpid()),
    )
    write_bm25_index(spark, _docs(spark, sf_dir), idx)
    return bm25_topk_indexed(spark, idx, ["spark", "shuffle", "vector"], k=10)


def q_bm25_probe_mor(spark, sf_dir):
    """The maintained BM25 index through the merge-on-read compaction and
    minor-fold paths (the corpus scalars stay exact via per-batch stats
    deltas folded behind a through_seq horizon). The index is
    initialized from a PERTURBED corpus — every doc_id%7==0 text has
    ' zz qq' appended, every %5==0 doc is held out, and a ghost twin
    (doc_id+10M) of every %13==0 doc is planted — and the changelog then
    RESTORES the real corpus: batch 0 updates the perturbed texts back
    and deletes the ghosts (exercising the stats delta's dtok/dn
    arithmetic in both directions), a compaction folds it, batch 1
    inserts the held-out docs as a pending delta. The post-changelog
    corpus is exactly ``documents``, so llm_bm25_probe's scan-restatement
    oracle applies verbatim — a stale posting, a wrong stats delta, or a
    tombstone leak all break the bit-identical score hash."""
    import shutil
    import tempfile

    from siddhi_io_cdc_spark.streaming.bm25_index import (
        apply_changelog_bm25,
        bm25_topk_indexed,
        compact_bm25_index,
        write_bm25_index,
    )

    docs = _docs(spark, sf_dir)
    perturbed = docs.where(F.pmod(F.col("doc_id"), F.lit(5)) != 0).select(
        "doc_id",
        F.when(
            F.pmod(F.col("doc_id"), F.lit(7)) == 0,
            F.concat(F.col("text"), F.lit(" zz qq")),
        ).otherwise(F.col("text")).alias("text"),
    )
    ghosts = docs.where(F.pmod(F.col("doc_id"), F.lit(13)) == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text"
    )
    idx = tempfile.mkdtemp(prefix="bm25_mor_")
    write_bm25_index(spark, perturbed.unionByName(ghosts), idx)
    restore = docs.where(
        (F.pmod(F.col("doc_id"), F.lit(7)) == 0)
        & (F.pmod(F.col("doc_id"), F.lit(5)) != 0)
    ).select(
        "doc_id",
        F.col("text"),
        F.concat(F.col("text"), F.lit(" zz qq")).alias("before_text"),
        F.lit("update").alias("operation"),
        F.lit(1).cast("bigint").alias("ts_ms"),
    )
    bust = ghosts.select(
        "doc_id",
        F.lit(None).cast("string").alias("text"),
        F.col("text").alias("before_text"),
        F.lit("delete").alias("operation"),
        F.lit(1).cast("bigint").alias("ts_ms"),
    )
    apply_changelog_bm25(spark, idx, restore.unionByName(bust), batch_id=0)
    compact_bm25_index(spark, idx)
    ins = docs.where(F.pmod(F.col("doc_id"), F.lit(5)) == 0).select(
        "doc_id",
        "text",
        F.lit(None).cast("string").alias("before_text"),
        F.lit("insert").alias("operation"),
        F.lit(2).cast("bigint").alias("ts_ms"),
    )
    # the held-out inserts arrive as TWO streamed batches that a SIZE-TIERED
    # MINOR fold (round 13) collapses into one delta without a base rewrite
    # — the serve below reads compacted-base ∪ fold, so a fold that lost a
    # row, leaked a tombstone, or double-counted a stats delta breaks the
    # bit-identical score hash
    apply_changelog_bm25(
        spark, idx, ins.where(F.pmod(F.col("doc_id"), F.lit(2)) == 0),
        batch_id=1,
    )
    apply_changelog_bm25(
        spark, idx, ins.where(F.pmod(F.col("doc_id"), F.lit(2)) == 1),
        batch_id=2,
    )
    from siddhi_io_cdc_spark.streaming.bm25_index import (
        minor_compact_bm25_index,
    )

    minor_compact_bm25_index(spark, idx)
    top = bm25_topk_indexed(spark, idx, ["spark", "shuffle", "vector"], k=10)
    rows = top.collect()  # bounded: k rows
    shutil.rmtree(idx, ignore_errors=True)
    return spark.createDataFrame(rows, top.schema)


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): log-likelihood ratio of
    an add-one-smoothed hashed-ngram LM of the TARGET slice (lang='en')
    vs the raw corpus, unigram+bigram features in 1024 md5 buckets. The
    bucket tables stay 1024 rows at any corpus size — the whole point of
    hashed DSIR — so both LM joins broadcast."""
    from siddhi_io_cdc_spark.functions.export import dsir_weights

    return dsir_weights(_docs(spark, sf_dir), F.col("lang") == "en").select(
        "doc_id", "dsir_weight", "n_features"
    )


def q_hybrid_retrieval(spark, sf_dir):
    """Hybrid retrieval: dense cosine top-10 over the embeddings table
    (query = vec 0, ids align 1:1 with doc_ids) fused with lexical BM25
    top-10 by reciprocal-rank fusion (Cormack et al. 2009, rrf_k=60).
    Both inputs are bounded top-ks, so the fusion aggregates ≤20 rows;
    rank assignment happens after each limit."""
    from pyspark.sql import Window

    from siddhi_io_cdc_spark.functions.retrieval import bm25_topk, rrf_fuse

    emb = _emb(spark, sf_dir)
    qv = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    dense = topk_cosine(emb, qv, k=10).withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("score").desc(), F.col("vec_id").asc())
        ),
    ).select(F.col("vec_id").alias("doc_id"), "rank")
    lex = bm25_topk(_docs(spark, sf_dir), ["spark", "shuffle", "vector"], k=10)
    return rrf_fuse([dense, lex.select("doc_id", "rank")], k=10)


def q_tokenize_pipeline(spark, sf_dir):
    """Composite flagship for the tokenizer family: train 6 BPE merges on
    the corpus, encode the corpus with the LEARNED merges, pack the true
    BPE token counts into 512-token training sequences (8 shards). One
    corpus-derived model applied corpus-wide — the oracle restates
    training via the chained merge CTEs and threads the learned pairs into
    the encode chain as scalar subqueries, so the whole pipeline is exact."""
    from siddhi_io_cdc_spark.functions.export import pack_sequences
    from siddhi_io_cdc_spark.functions.tokenizer import bpe_encode, bpe_train

    docs = _docs(spark, sf_dir)
    # bounded collect: the merge table (6 rows) is the trained model
    merges = [
        (r["left"], r["right"])
        for r in bpe_train(docs, n_merges=6).orderBy("merge_rank").collect()
    ]
    enc = bpe_encode(docs, merges)
    return pack_sequences(
        enc, ctx_len=512, num_shards=8, tokens_col="n_bpe_tokens"
    ).select("doc_id", "shard", "seq_id", "seq_offset", "n_tokens")


def q_pq_encode(spark, sf_dir):
    """Product quantization encode (Jégou et al. 2011): 8 subspaces x 16
    centroids over the 64-dim embeddings — 32x compression of a float32
    corpus. Map-only codegen folds over literal codebooks; the oracle
    restates the per-subspace argmin with list_dot_product."""
    from siddhi_io_cdc_spark.functions.similarity import pq_codebooks, pq_encode

    cb = pq_codebooks(64, m=8, k=16)
    return pq_encode(_emb(spark, sf_dir), cb).select(
        "vec_id",
        F.array_join(
            F.transform("pq_code", lambda x: x.cast("string")), " "
        ).alias("pq_code_str"),
    )


def q_pq_topk(spark, sf_dir):
    """ADC top-10 for a literal query vector: the corpus is scored through
    its 8-byte PQ codes via a literal m x k lookup table — the scan that
    stays memory-bandwidth-bound at 100 TB."""
    from siddhi_io_cdc_spark.functions.similarity import pq_codebooks, pq_topk

    cb = pq_codebooks(64, m=8, k=16)
    return pq_topk(_emb(spark, sf_dir), _pq_query_vec(), cb, k=10)


#: Fixed merge table for the encode contract query — common English merges,
#: literal in BOTH the Spark query and the oracle (the trained path is
#: exercised by llm_bpe_train + the pytest DataFrame round-trip).
BPE_FIXED_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("e", "r"), ("an", "d"), ("o", "n"), ("r", "e"),
]


def q_bpe_train(spark, sf_dir):
    """Full iterative BPE training (Sennrich et al. 2016), 6 merge rounds:
    corpus read once (word-count pass), then vocabulary-sized work per
    round. Exactly oracle-checkable — the SQL restates each round as one
    CTE (best-pair argmax + literal symbol-string replace)."""
    from siddhi_io_cdc_spark.functions.tokenizer import bpe_train

    return bpe_train(_docs(spark, sf_dir), n_merges=6)


def q_bpe_encode(spark, sf_dir):
    """BPE encoding with a fixed literal merge table: per word, wrap chars
    into delimited symbols, apply the merges in rank order as literal
    replaces, split back — map-only, whole-stage codegen, no Python."""
    from siddhi_io_cdc_spark.functions.tokenizer import bpe_encode

    enc = bpe_encode(_docs(spark, sf_dir), BPE_FIXED_MERGES)
    return enc.select(
        "doc_id",
        F.col("n_bpe_tokens").cast("bigint").alias("n_bpe_tokens"),
        F.array_join(F.slice("bpe_tokens", 1, 8), " ").alias("head_tokens"),
    )


def q_image_near_dup(spark, sf_dir):
    """Perceptual-hash image dedup: closed-form 18x16 P5 gradient payloads
    (attach_gradient_ppm_payload) -> real decode + 8x9 area-mean dHash (the
    plan's only Python node) -> pigeonhole 16-bit-chunk blocking + hamming
    verify, all JVM. Every dHash bit is an integer comparison over the
    fixture's cell grid, so the oracle is exact (naive all-pairs SQL)."""
    from siddhi_io_cdc_spark.functions.multimodal import (
        attach_gradient_ppm_payload,
        image_near_dup_pairs,
    )

    # Scale-honest fixture: 10% of the corpus decodes (work grows with sf),
    # and groups have CONSTANT size 5 (ids g*50, g*50+10, ..., g*50+40), so
    # the planted pair count grows LINEARLY with the corpus — a fixed group
    # COUNT would grow pairs quadratically and a fixed doc subset would not
    # grow at all.
    docs = _docs(spark, sf_dir).where(F.col("doc_id") % 10 == 0)
    imgs = attach_gradient_ppm_payload(docs, group=F.floor(F.col("doc_id") / 50))
    return image_near_dup_pairs(imgs, max_hamming=3)


def q_url_dedup(spark, sf_dir):
    """Canonical-URL dedup: three messy variants per page (scheme case,
    www., tracking params, fragment, explicit port, trailing slash) must
    collapse to one canonical key with an exact closed-form oracle."""
    from siddhi_io_cdc_spark.functions.text import url_dedup

    docs = _docs(spark, sf_dir)
    a = (F.col("doc_id") % 25).cast("string")
    b = (F.col("doc_id") % 7).cast("string")
    url = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("HTTPS://WWW.Example"), a, F.lit(".com/path/"), b,
                     F.lit("/?utm_source=x")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("https://example"), a, F.lit(".com/path/"), b, F.lit("#frag")),
        )
        .otherwise(
            F.concat(F.lit("http://www.example"), a, F.lit(".com:80/path/"), b, F.lit("/"))
        )
    )
    return url_dedup(docs.withColumn("url", url)).orderBy("canonical_url")


def q_c4_filters(spark, sf_dir):
    """C4-style structural line filters over a deterministic multi-line
    fixture (original text + a punctuated line + a doc_id-dependent third
    line), so every count has a closed SQL form."""
    from siddhi_io_cdc_spark.functions.text import c4_line_filters

    docs = _docs(spark, sf_dir).where(F.length(F.trim("text")) > 0)
    ml = F.concat(
        F.col("text"),
        F.lit("\nSecond line here."),
        F.when(F.col("doc_id") % 4 == 0, F.lit("\nshort one"))
        .otherwise(F.lit("\nThird line stays.")),
    )
    return c4_line_filters(docs.withColumn("text", ml)).select(
        "doc_id", "n_lines", "n_punct_lines", "n_short_lines", "c4_keep"
    )


def q_video_frames(spark, sf_dir):
    """Video end-to-end: attach_video_payload builds real multi-frame P5
    clips JVM-side; split_video_frames slices every 2nd frame out with a
    binary substring (no Python); each frame decodes through the REAL
    netpbm parser. Every feature has a closed SQL form → exact oracle."""
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 200)
    frames = split_video_frames(attach_video_payload(docs), every_n=2)
    return decode_image_features(
        frames.select(
            (F.col("doc_id") * 100 + F.col("frame_idx")).alias("fid"),
            F.col("frame_payload").alias("payload"),
        ),
        id_col="fid",
    ).orderBy("id")


def q_payload_embedding(spark, sf_dir):
    """extract_embedding (strided-fold byte featurizer, the documented
    model-swap seam for a real encoder) over real P5 payloads — the fold
    sums and L2 norm are integer-exact in float64, so the 16 components
    compare bit-equal against the SQL restatement."""
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 300)
    emb = extract_embedding(attach_ppm_payload(docs), dim=16)
    return emb.select(
        "id", *[F.col("embedding")[i].alias(f"e{i}") for i in range(16)]
    ).orderBy("id")


def q_audio_decode(spark, sf_dir):
    """Real mono 16-bit PCM WAV payloads (attach_wav_payload) parsed back by
    the real pure-numpy RIFF decoder — closed-form features, exact oracle."""
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 200)
    return decode_audio_features(attach_wav_payload(docs)).orderBy("id")


def q_ngram_pairs(spark, sf_dir):
    """Rows-only: char-3-gram Jaccard near-dups among planted variants."""
    from siddhi_io_cdc_spark.functions.dedup import ngram_jaccard_pairs

    docs = _docs(spark, sf_dir)
    nd = docs.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" xyz")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    return ngram_jaccard_pairs(docs.unionByName(nd), threshold=0.8).orderBy("id_a", "id_b")


def q_embedding_near_dup(spark, sf_dir):
    """Rows-only: embedding-cosine near-dup pairs among planted clones."""
    from siddhi_io_cdc_spark.functions.similarity import embedding_near_dup_pairs

    emb = _emb(spark, sf_dir)
    clone = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding", "label"
    )
    return embedding_near_dup_pairs(emb.unionByName(clone), threshold=0.99).orderBy(
        "id_a", "id_b"
    )


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): k-means-cell-blocked keep-one semantic
    dedup over the embeddings with 5 planted identical clones. End-state
    argument (same as llm_embedding_near_dup): identical vectors always
    share a cell, and the fixture's max NATURAL cosine is far below the
    0.99 threshold, so the cell blocking is lossless here and the end state
    is exactly 'drop the non-minimal member of every all-pairs cosine>=0.99
    component' — which the oracle restates with a recursive closure."""
    from siddhi_io_cdc_spark.functions.dedup import semantic_dedup
    from siddhi_io_cdc_spark.functions.similarity import ivf_centroids

    emb = _emb(spark, sf_dir)
    clone = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(clone)
    return (
        semantic_dedup(corpus, ivf_centroids(64, nlist=16), tau=0.99)
        .select("vec_id")
        .orderBy("vec_id")
    )


def q_semantic_dedup_numpy(spark, sf_dir):
    """The SAME SemDeDup end state computed by the vectorized pair engine
    (per-cell BLAS cosine matrices via applyInPandas — the measured
    >10M-pair production path, BASELINE.md round 8). The oracle is shared
    with llm_semantic_dedup: the kept-id set is engine-independent (clone
    cosines ~1.0, max natural cosine far below the 0.99 bar — no rounding
    boundary in range)."""
    from siddhi_io_cdc_spark.functions.dedup import semantic_dedup
    from siddhi_io_cdc_spark.functions.similarity import ivf_centroids

    emb = _emb(spark, sf_dir)
    clone = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(clone)
    return (
        semantic_dedup(corpus, ivf_centroids(64, nlist=16), tau=0.99,
                       engine="numpy")
        .select("vec_id")
        .orderBy("vec_id")
    )


# -- Temporal joins & window aggregations (custom operators) ----------------


def _dec(c: str) -> F.Column:
    return F.col(c).cast("decimal(18,2)")


def q_asof_join(spark, sf_dir):
    """As-of join: trades (even event_ids) pick up the latest preceding
    quote (odd event_ids) per user — union+window plan, no row explosion."""
    from siddhi_io_cdc_spark.operators.temporal import asof_join

    ev = _events(spark, sf_dir)
    trades = ev.where(F.col("event_id") % 2 == 0).select(
        "user_id", F.col("event_id").alias("trade_time"), F.col("value").alias("trade_value")
    )
    quotes = ev.where(F.col("event_id") % 2 == 1).select(
        "user_id", F.col("event_id").alias("quote_time"), F.col("value").alias("quote_value")
    )
    return asof_join(trades, quotes, on=["user_id"], left_time="trade_time", right_time="quote_time")


def q_range_join(spark, sf_dir):
    """Binned interval join: orders-per-14-day-window around sampled orders."""
    from siddhi_io_cdc_spark.operators.temporal import bucketed_range_join

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    epoch = F.lit("1970-01-01").cast("date")
    iv = orders.where(F.col("o_orderkey") % 997 == 0).select(
        F.col("o_orderkey").alias("iid"),
        F.datediff(F.col("o_orderdate"), epoch).alias("lo_day"),
        (F.datediff(F.col("o_orderdate"), epoch) + 13).alias("hi_day"),
    )
    pts = orders.select(
        F.col("o_orderkey").alias("pid"), F.datediff(F.col("o_orderdate"), epoch).alias("p_day")
    )
    joined = bucketed_range_join(pts, iv, "p_day", "lo_day", "hi_day", bucket_width=14, how="left_intervals")
    return joined.groupBy("iid").agg(F.count("pid").alias("n_orders"))


def q_tumbling_window(spark, sf_dir):
    from siddhi_io_cdc_spark.streaming.windows import tumbling_agg

    return tumbling_agg(
        _events(spark, sf_dir),
        F.timestamp_seconds(F.col("event_id")),
        100,
        {"n": F.count(F.lit(1)), "sum_value": F.sum(_dec("value")).cast("double")},
    )


def q_sliding_window(spark, sf_dir):
    from siddhi_io_cdc_spark.streaming.windows import sliding_agg

    return sliding_agg(
        _events(spark, sf_dir),
        F.timestamp_seconds(F.col("event_id")),
        100,
        40,
        {"n": F.count(F.lit(1)), "sum_value": F.sum(_dec("value")).cast("double")},
    )


def q_session_window(spark, sf_dir):
    from siddhi_io_cdc_spark.streaming.windows import session_agg

    return session_agg(
        _events(spark, sf_dir),
        F.timestamp_seconds(F.col("event_id")),
        30,
        {"n": F.count(F.lit(1))},
        keys=["user_id"],
    )


def _history_changelog(spark, sf_dir):
    """Changelog keyed by user_id (before-image keeps the key, so deletes
    re-key to the same user), flattened multi-op — the input to the SCD2
    history materialization."""
    ev = _events(spark, sf_dir)
    m = F.col("event_id") % 10
    op = F.when(m <= 6, F.lit("c")).when(m <= 8, F.lit("u")).otherwise(F.lit("d"))
    env = synthetic_changelog(
        ev,
        op_col=op,
        before_exprs={"value": F.col("value") + 1.5},
        source_ts_ms=F.col("event_id") * 2,
        ts_ms=F.col("event_id") * 3,
    )
    return flatten(env, operations=["insert", "update", "delete"])


def q_history_scd2(spark, sf_dir):
    """Changelog -> SCD2 history: one row per key version with a validity
    interval; deletes become tombstone versions. The 'other half' of the
    reference's update-on surface (latest state) — same events, full
    history."""
    from siddhi_io_cdc_spark.operators.history import changelog_history

    return changelog_history(
        _history_changelog(spark, sf_dir),
        key=["user_id"],
        value_cols=["event_type", "value"],
    )


def q_temporal_lookup(spark, sf_dir):
    """Point-in-time lookup: enrich a fact sample with each user's state AT
    the fact's timestamp (as-of machinery: one shuffle, no explosion)."""
    from siddhi_io_cdc_spark.operators.history import changelog_history, temporal_lookup

    hist = changelog_history(
        _history_changelog(spark, sf_dir), key=["user_id"], value_cols=["event_type", "value"]
    )
    facts = (
        _events(spark, sf_dir)
        .where(F.col("event_id") % 7 == 0)
        .select(
            F.col("event_id").alias("fid"),
            "user_id",
            (F.col("event_id") * 3 + 1).alias("t"),
        )
    )
    return temporal_lookup(facts, hist, on=["user_id"], fact_time="t")


def q_unique_window(spark, sf_dir):
    """Siddhi ``window.unique(key)``: final window content = latest event
    per unique key (here: per user x event_type, ordered by event_id)."""
    from siddhi_io_cdc_spark.streaming.windows import unique_window

    return unique_window(
        _events(spark, sf_dir).select("event_id", "user_id", "event_type", "value"),
        unique_keys=["user_id", "event_type"],
        order_col="event_id",
    )


def q_first_unique_window(spark, sf_dir):
    """Siddhi ``window.firstUnique(key)``: FIRST event per unique key."""
    from siddhi_io_cdc_spark.streaming.windows import first_unique_window

    return first_unique_window(
        _events(spark, sf_dir).select("event_id", "user_id", "event_type", "value"),
        unique_keys=["user_id", "event_type"],
        order_col="event_id",
    )


def q_sort_window(spark, sf_dir):
    """Siddhi ``window.sort(N, value, 'desc')`` partitioned per user: the 3
    highest-value events each user's window retains (ties by event_id)."""
    from siddhi_io_cdc_spark.streaming.windows import sort_window

    return sort_window(
        _events(spark, sf_dir).select("event_id", "user_id", "value"),
        sort_cols=[F.col("value").desc(), F.col("event_id").asc()],
        length=3,
        keys=["user_id"],
    )


def q_time_length_window(spark, sf_dir):
    """Siddhi ``window.timeLength(300, 5)`` per user: events within 300
    event-id units of the user's newest event, capped at the 5 most
    recent."""
    from siddhi_io_cdc_spark.streaming.windows import time_length_window

    return time_length_window(
        _events(spark, sf_dir).select("event_id", "user_id", "value"),
        keys=["user_id"],
        ts_col="event_id",
        horizon=300,
        length=5,
    )


def q_delay_window(spark, sf_dir):
    """Siddhi ``window.delay(500)`` per user: events released 500 event-id
    units after arrival, relative to each user's high-water mark."""
    from siddhi_io_cdc_spark.streaming.windows import delay_window

    return delay_window(
        _events(spark, sf_dir).select("event_id", "user_id", "value"),
        ts_col="event_id",
        delay=500,
        keys=["user_id"],
    )


def q_pattern_or(spark, sf_dir):
    """Siddhi logical-OR pattern ``e1=purchase or e2=error``: one firing per
    matching event, branch recorded (first branch wins on overlap)."""
    from siddhi_io_cdc_spark.operators.cep import or_pattern

    ev = _events(spark, sf_dir).select("event_id", "user_id", "event_type")
    return or_pattern(
        ev,
        first=F.col("event_type") == "purchase",
        second=F.col("event_type") == "error",
    )


def q_pattern_runs(spark, sf_dir):
    """Siddhi count quantifier ``click<2:4>``: maximal consecutive-click
    runs of length 2..4 per user (gaps-and-islands, one shuffle)."""
    from siddhi_io_cdc_spark.operators.cep import match_runs

    return match_runs(
        _events(spark, sf_dir),
        keys=["user_id"],
        order_col="event_id",
        flag=F.col("event_type") == "click",
        min_count=2,
        max_count=4,
    ).select("user_id", "run_start", "run_end", "run_len")


def q_knn_join(spark, sf_dir):
    """Exact k-NN similarity JOIN (broadcast queries + partition-local
    top-k prune): 5 neighbors for each of the vec_id%100==0 query rows."""
    from siddhi_io_cdc_spark.functions.similarity import knn_join

    emb = _emb(spark, sf_dir)
    return knn_join(emb, emb.where(F.col("vec_id") % 100 == 0), k=5)


def q_shard_for_training(spark, sf_dir):
    """Deterministic training-export sharding: the md5-based stable_hash
    was designed for engine portability, so shard AND within-shard shuffle
    position both have closed DuckDB forms."""
    from siddhi_io_cdc_spark.functions.export import shard_for_training

    return shard_for_training(_docs(spark, sf_dir), num_shards=16, seed=0).select(
        "doc_id", "shard", "shard_pos"
    )


def q_pack_sequences(spark, sf_dir):
    """GPT-style concat-and-chunk packing: per-shard cumulative token sums
    (never global) sliced into 512-token sequences."""
    from siddhi_io_cdc_spark.functions.export import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), ctx_len=512, num_shards=8, seed=0)


def q_chunk_documents(spark, sf_dir):
    """Fixed-width character chunking with overlap — map-only pass
    (sequence → transform(substring) → posexplode)."""
    from siddhi_io_cdc_spark.functions.export import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), chunk_chars=400, overlap=80)


def q_unigram_logprob(spark, sf_dir):
    """CCNet-style unigram-LM quality score, exact in two passes; the
    vocabulary-size probe decides broadcast vs shuffle join."""
    from siddhi_io_cdc_spark.functions.export import unigram_logprob

    return unigram_logprob(_docs(spark, sf_dir))


def q_cdc_pipeline(spark, sf_dir):
    """End-to-end flagship: CDC changelog apply → curation → training-data
    shard. The three stages are this repo's whole thesis in one plan —
    change capture (operators/mutate.apply_changelog), corpus curation
    (functions/dedup.curate_documents: lang → quality → exact dedup), and
    deterministic export sharding (functions/export.shard_for_training) —
    and the composed DuckDB oracle checks the entire pipeline hash-exactly,
    not just each stage in isolation."""
    from siddhi_io_cdc_spark.functions.dedup import curate_documents
    from siddhi_io_cdc_spark.functions.export import shard_for_training
    from siddhi_io_cdc_spark.operators.mutate import apply_changelog

    docs = _docs(spark, sf_dir)
    base = ["lang", "source", "n_chars"]
    updates = docs.where(F.col("doc_id") % 4 == 0).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" updated")).alias("text"),
        *base,
        F.lit("update").alias("operation"),
        F.lit(10).cast("long").alias("ts_ms"),
    )
    deletes = docs.where(F.col("doc_id") % 4 == 1).select(
        "doc_id", "text", *base,
        F.lit("delete").alias("operation"),
        F.lit(10).cast("long").alias("ts_ms"),
    )
    inserts = docs.where(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text", *base,
        F.lit("insert").alias("operation"),
        F.lit(10).cast("long").alias("ts_ms"),
    )
    events = updates.unionByName(deletes).unionByName(inserts)
    live = apply_changelog(docs, events, key=["doc_id"])
    curated = curate_documents(live, lang="en", min_quality=0.6).select("doc_id")
    return shard_for_training(curated, num_shards=8, seed=0).select(
        "doc_id", "shard", "shard_pos"
    )


def q_perplexity_buckets(spark, sf_dir):
    """CCNet head/middle/tail split: unigram-LM NLL terciles PER LANGUAGE
    (Wenzek et al. 2020 §4.3 bucket by per-language perplexity). Spark's
    exact percentile interpolation bit-matches DuckDB quantile_cont, so the
    bucket boundaries are oracle-checkable."""
    from siddhi_io_cdc_spark.functions.export import quantile_buckets, unigram_logprob

    docs = _docs(spark, sf_dir)
    scored = unigram_logprob(docs).join(docs.select("doc_id", "lang"), "doc_id")
    return quantile_buckets(scored, "nll", group_col="lang").select(
        "doc_id", "lang", "nll", "bucket"
    )


def q_bigram_logprob(spark, sf_dir):
    """Bigram-LM quality score (one n-gram step past unigram toward CCNet's
    5-gram): both aggregates and the per-position lookup restate exactly in
    SQL; round(...,6) absorbs summation-order noise in the mean."""
    from siddhi_io_cdc_spark.functions.export import bigram_logprob

    return bigram_logprob(_docs(spark, sf_dir))


def q_trigram_logprob(spark, sf_dir):
    """Trigram rung of the CCNet LM ladder (functions.export.ngram_logprob,
    n=3): exact corpus-trained MLE, no smoothing needed (every document
    trigram has count >= 1 by construction)."""
    from siddhi_io_cdc_spark.functions.export import ngram_logprob

    return ngram_logprob(_docs(spark, sf_dir), n=3)


def q_5gram_logprob(spark, sf_dir):
    """The 5-gram LM quality score CCNet actually filters with (Wenzek et
    al. 2020): same exact-MLE construction, n=5. The vocabulary approaches
    one entry per corpus position at this n, so the broadcast-vs-shuffle
    guard's shuffle path is the expected branch at scale (pinned by a plan
    test at a forced-low threshold)."""
    from siddhi_io_cdc_spark.functions.export import ngram_logprob

    return ngram_logprob(_docs(spark, sf_dir), n=5)


def q_knn_join_lsh(spark, sf_dir):
    """Sign-LSH-blocked kNN join (8 hyperplane bits, hamming-1 probe): the
    quasi-linear blocking family, hash-checked against a probe-aware oracle
    (bucket = sign bits of plane dots, candidates = bit_count(xor) <= 1)."""
    from siddhi_io_cdc_spark.functions.similarity import knn_join_lsh

    emb = _emb(spark, sf_dir)
    return knn_join_lsh(
        emb,
        emb.where(F.col("vec_id") % 100 == 0),
        k=5,
        nbits=8,
        probe_hamming=1,
        seed=42,
        dim=64,
    )


def q_chunk_documents_tokens(spark, sf_dir):
    """Token-window chunking (64 tokens, 16 overlap): the tokenizer, the
    window arithmetic, and the single-space rejoin all restate exactly in
    DuckDB list operations."""
    from siddhi_io_cdc_spark.functions.export import chunk_documents_tokens

    return chunk_documents_tokens(_docs(spark, sf_dir), chunk_tokens=64, overlap=16)


def q_mixture_sample(spark, sf_dir):
    """Domain-mixture downsampling (Pile/Dolma-style re-weighting): the
    md5 keep-hash and the per-domain rate arithmetic both restate exactly
    in DuckDB. src0 is the binding domain (kept in full); src1 keeps ~1/2,
    src2/src3 ~1/4; every unweighted source is dropped."""
    from siddhi_io_cdc_spark.functions.export import mixture_sample

    return mixture_sample(
        _docs(spark, sf_dir),
        weights={"src0": 0.5, "src1": 0.25, "src2": 0.125, "src3": 0.125},
        seed=0,
    ).select("doc_id", "source")


def q_knn_join_bucketed(spark, sf_dir):
    """Cell-blocked k-NN join (IVF blocking, pure JVM — no Arrow hop):
    nprobe == nlist probes every cell, so the result is EXACT and the
    brute-force oracle applies verbatim. The blocking machinery (cell
    equi-join + two-stage WindowGroupLimit prune) is exactly what runs at
    nprobe < nlist scale; only the probe set differs."""
    from siddhi_io_cdc_spark.functions.similarity import knn_join_ivf

    emb = _emb(spark, sf_dir)
    return knn_join_ivf(
        emb, emb.where(F.col("vec_id") % 100 == 0), k=5, nlist=32, nprobe=32, dim=64
    )


def q_knn_join_trained(spark, sf_dir):
    """Cell-blocked kNN join with TRAINED centroids (distributed k-means)
    and salt='auto' (per-cell salts from measured cell counts — the skew
    path for clustered real data). nprobe == nlist keeps it EXACT, so the
    brute-force oracle applies regardless of what k-means converged to;
    training cost is part of the timed plan build in bench.py."""
    from siddhi_io_cdc_spark.functions.similarity import (
        ivf_train_centroids,
        knn_join_ivf,
    )

    emb = _emb(spark, sf_dir)
    # init_mode="random": k-means|| init costs several driver-synchronous
    # jobs that dominate training at this input size. RESULT-IDENTICAL by
    # construction for THIS query: nprobe == nlist means every query probes
    # every cell, the candidate set is the whole corpus, and the final
    # top-k ranks on (score desc, neighbor_id) — no centroid value can
    # change a row (oracle-pinned at all SFs).
    cents = ivf_train_centroids(
        emb, nlist=32, seed=42, max_iter=5, init_mode="random"
    )
    return knn_join_ivf(
        emb,
        emb.where(F.col("vec_id") % 100 == 0),
        k=5,
        centroids=cents,
        nprobe=32,
        salt="auto",
    )


def q_knn_join_probed(spark, sf_dir):
    """The SCALE configuration of the cell-blocked kNN join: nprobe=8 of
    nlist=32 cells probed, so the candidate volume is ~1/4 of Q·N. The
    oracle restates the full IVF machinery (assignment argmax, per-query
    probe ranking, within-probe top-k) with centroid literals, so even the
    approximate path is hash-checked — not just the nprobe=nlist case."""
    from siddhi_io_cdc_spark.functions.similarity import knn_join_ivf

    emb = _emb(spark, sf_dir)
    return knn_join_ivf(
        emb, emb.where(F.col("vec_id") % 100 == 0), k=5, nlist=32, nprobe=8, dim=64
    )


def q_paragraph_dedup(spark, sf_dir):
    """Paragraph-level exact dedup. The fixture text has no newlines, so
    both engines synthesize identical paragraph breaks first (every
    ' table ' token becomes a separator — same trick as the pii-scrub
    oracle's synthesized dirty text)."""
    from siddhi_io_cdc_spark.functions.dedup import paragraph_dedup

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.regexp_replace("text", " table ", "\n\n").alias("text")
    )
    return paragraph_dedup(docs)


def q_distinctive_terms(spark, sf_dir):
    """TF-IDF-style per-doc keywords, integer-ranked (tf desc, df asc,
    term) so the ordering is bit-exact in any engine."""
    from siddhi_io_cdc_spark.functions.text import distinctive_terms

    return distinctive_terms(_docs(spark, sf_dir), k=3)


def q_decontaminate(spark, sf_dir):
    """Train/test overlap check: corpus docs sharing >= 2 distinct 3-token
    shingles with the doc_id%97==0 'benchmark' slice (broadcast probe)."""
    from siddhi_io_cdc_spark.functions.dedup import decontaminate

    docs = _docs(spark, sf_dir)
    return decontaminate(
        docs.where(F.col("doc_id") % 97 != 0),
        docs.where(F.col("doc_id") % 97 == 0),
        k=3,
        min_shared=2,
    )


def q_label_centroids(spark, sf_dir):
    from siddhi_io_cdc_spark.functions.similarity import label_centroids

    return label_centroids(_emb(spark, sf_dir), dim=16)


def q_top_ngrams(spark, sf_dir):
    from siddhi_io_cdc_spark.functions.text import top_ngrams

    return top_ngrams(_docs(spark, sf_dir), n=2, k=20)


def q_json_props(spark, sf_dir):
    """Scalar JSON surface (§2.5): extract a JSON field JVM-side and
    aggregate — get_json_object stays inside whole-stage codegen."""
    ev = _events(spark, sf_dir)
    return (
        ev.select(
            "event_type", F.get_json_object("props", "$.k").cast("long").alias("k")
        )
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count(F.lit(1)).alias("n"))
    )


def q_scalar_funcs(spark, sf_dir):
    """Scalar date/string surface (§2.5): year extraction + substring keys."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("yr"),
            F.substring("o_orderpriority", 1, 1).alias("pri"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total"),
        )
    )


def q_pattern_match(spark, sf_dir):
    """CEP-style sequence detection (A followed-by B within a horizon) as an
    as-of join with tolerance: for each 'purchase' event, the latest
    preceding 'click' by the same user no more than 50 event-ids earlier.
    Siddhi delegates patterns to siddhi-core; this is the Spark-first
    equivalent for the followed-by operator — one shuffle, no explosion."""
    from siddhi_io_cdc_spark.operators.temporal import asof_join

    ev = _events(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("value").alias("purchase_value")
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id")
    )
    return asof_join(
        purchases, clicks, on=["user_id"], left_time="purchase_id",
        right_time="click_id", tolerance=50,
    ).where(F.col("click_id").isNotNull())


def q_asof_forward(spark, sf_dir):
    """Forward as-of: each trade picks up the EARLIEST following quote."""
    from siddhi_io_cdc_spark.operators.temporal import asof_join

    ev = _events(spark, sf_dir)
    trades = ev.where(F.col("event_id") % 2 == 0).select(
        "user_id", F.col("event_id").alias("trade_time"), F.col("value").alias("trade_value")
    )
    quotes = ev.where(F.col("event_id") % 2 == 1).select(
        "user_id", F.col("event_id").alias("quote_time"), F.col("value").alias("quote_value")
    )
    return asof_join(
        trades, quotes, on=["user_id"], left_time="trade_time", right_time="quote_time",
        direction="forward",
    )


def q_salted_join(spark, sf_dir):
    """Skew-safe salted equi-join — result identical to the plain join."""
    from siddhi_io_cdc_spark.plans.skew import salted_join

    ev = _events(spark, sf_dir).select("event_id", "user_id")
    cust = _customer(spark, sf_dir).select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return salted_join(ev, cust, on=["user_id"], salt=8)


def q_curate(spark, sf_dir):
    """Flagship curation pipeline: lang filter → quality filter → exact dedup."""
    from siddhi_io_cdc_spark.functions.dedup import curate_documents

    return curate_documents(_docs(spark, sf_dir), lang="en", min_quality=0.6).select("doc_id")


def q_rollup_multi(spark, sf_dir):
    """Multi-granularity rollup (siddhi `define aggregation`): single-pass
    batch plan — one scan, one shuffle of map-side-collapsed partials (the
    cascading incremental variant lives in plans/rollup.py too)."""
    from siddhi_io_cdc_spark.plans.rollup import rollup_single_pass

    ev = _events(spark, sf_dir).select(
        F.col("event_id").alias("t"), "event_type", "value"
    )
    return rollup_single_pass(ev, "t", ["event_type"], "value", granularities=(60, 600, 3600))


def q_pattern_absent(spark, sf_dir):
    """CEP absence pattern (`click -> not purchase for 50`): clicks with no
    purchase by the same user strictly within the next 50 event-ids."""
    from siddhi_io_cdc_spark.operators.cep import absent_pattern

    ev = _events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id")
    )
    return absent_pattern(
        clicks, purchases, on=["user_id"], left_time="click_id",
        right_time="purchase_id", within=50,
    )


def q_pattern_sequence(spark, sf_dir):
    """CEP counting sequence (`error[3]`): rows completing 3 immediately-
    consecutive error events per user."""
    from siddhi_io_cdc_spark.operators.cep import consecutive_runs

    ev = _events(spark, sf_dir).select("user_id", "event_id", "event_type")
    return consecutive_runs(ev, ["user_id"], "event_id", F.col("event_type") == "error", k=3)


def q_pattern_both(spark, sf_dir):
    """CEP logical-AND pattern: signup and error by the same user within
    100 event-ids of each other (either order)."""
    from siddhi_io_cdc_spark.operators.cep import both_pattern

    ev = _events(spark, sf_dir)
    signups = ev.where(F.col("event_type") == "signup").select(
        "user_id", F.col("event_id").alias("signup_id")
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("error_id")
    )
    return both_pattern(
        signups, errors, on=["user_id"], left_time="signup_id",
        right_time="error_id", within=100,
    )


def q_pattern_immediate(spark, sf_dir):
    """CEP strict sequence (`view, purchase`): purchases whose immediately
    preceding event (same user, no events between) was a view."""
    from siddhi_io_cdc_spark.operators.cep import immediate_sequence

    ev = _events(spark, sf_dir).select("user_id", "event_id", "event_type")
    return immediate_sequence(
        ev, ["user_id"], "event_id",
        first=F.col("event_type") == "view",
        second=F.col("event_type") == "purchase",
    )


def q_frequent(spark, sf_dir):
    """Siddhi `window.frequent(2)`: two most frequent event types per user."""
    from siddhi_io_cdc_spark.operators.rate_limit import frequent_items

    ev = _events(spark, sf_dir).select("user_id", "event_type")
    return frequent_items(ev, ["user_id"], "event_type", k=2)


def q_lossy_frequent(spark, sf_dir):
    """Siddhi `window.lossyFrequent(0.22)`: event types covering >= 22% of a
    user's events (exact in the batch restatement)."""
    from siddhi_io_cdc_spark.operators.rate_limit import lossy_frequent_items

    ev = _events(spark, sf_dir).select("user_id", "event_type")
    return lossy_frequent_items(ev, ["user_id"], "event_type", support=0.22)


def q_length_window(spark, sf_dir):
    """Siddhi `window.length(5)`: trailing-5-events running sum/count per
    user (count-based sliding window)."""
    from siddhi_io_cdc_spark.streaming.windows import length_window_agg

    ev = _events(spark, sf_dir).select("user_id", "event_id", "value")
    out = length_window_agg(
        ev, ["user_id"], "event_id",
        # aggs must be bare aggregate functions (`.over` attaches to them);
        # the exact-decimal sum is cast to double AFTER the window.
        {"run_sum_dec": F.sum(F.col("value").cast("decimal(18,2)")),
         "run_n": F.count(F.lit(1))},
        length=5,
    )
    return out.select(
        "user_id", "event_id", "value",
        F.col("run_sum_dec").cast("double").alias("run_sum"), "run_n",
    )


def q_length_batch(spark, sf_dir):
    """Siddhi `window.lengthBatch(5)`: tumbling 5-event batches per user."""
    from siddhi_io_cdc_spark.streaming.windows import length_batch_agg

    ev = _events(spark, sf_dir).select("user_id", "event_id", "value")
    return length_batch_agg(
        ev, ["user_id"], "event_id",
        {"batch_sum": F.sum(F.col("value").cast("decimal(18,2)")).cast("double"),
         "batch_n": F.count(F.lit(1))},
        length=5,
    )


def q_output_every_nth(spark, sf_dir):
    """Output rate limiting (`output every 10 events` per user)."""
    from siddhi_io_cdc_spark.operators.rate_limit import every_nth_per_key

    ev = _events(spark, sf_dir).select("user_id", "event_id", "event_type", "value")
    return every_nth_per_key(ev, ["user_id"], "event_id", n=10)


def q_output_snapshot(spark, sf_dir):
    """Output rate limiting (`output snapshot every 500 sec` per user):
    latest event per user per 500-wide bucket of event_id."""
    from siddhi_io_cdc_spark.operators.rate_limit import snapshot_per_window

    ev = _events(spark, sf_dir).select("user_id", F.col("event_id").alias("t"), "value")
    return snapshot_per_window(ev, ["user_id"], "t", 500, order_col="t")


def q_pii_scrub(spark, sf_dir):
    """Training-data hygiene: markup strip then PII masking, over documents
    salted with deterministic synthetic markup/emails/phones/IPs (the raw
    fixture text has no PII, so the transforms must visibly fire)."""
    from siddhi_io_cdc_spark.util import fan_out

    docs = fan_out(_docs(spark, sf_dir))  # widen before the regex chain
    did = F.col("doc_id").cast("string")
    dirty = F.concat(
        F.lit('<p class="x">'), F.col("text"),
        F.lit("</p> contact: user"), did,
        F.lit("@example.com &amp; +1 (555) 000-"), did,
        F.lit(" ip 10.0.0."), (F.col("doc_id") % 256).cast("string"),
    )
    return docs.select("doc_id", scrub_pii(strip_markup(dirty)).alias("clean"))


def q_percentiles(spark, sf_dir):
    """Exact percentile aggregate (§2.5 sort-based agg surface). Exact
    `percentile` interpolates identically to DuckDB's quantile_cont, so it
    is hash-checkable; at 100 TB swap in approx_percentile (t-digest,
    mergeable partials — tolerance-tested in tests/test_rollup_cep_rate.py)."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("p50"),
        F.percentile("value", 0.9).alias("p90"),
        F.count(F.lit(1)).alias("n"),
    )


def q_repetition(spark, sf_dir):
    """Gopher-style within-document repetition signals."""
    from siddhi_io_cdc_spark.functions.text import repetition_stats

    return repetition_stats(_docs(spark, sf_dir)).select(
        "doc_id", "dup_word_frac", "dup_bigram_frac"
    )


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum sampling: 40% of 'en', all of 'de', other
    languages dropped — the reproducible training-mix rebalance."""
    from siddhi_io_cdc_spark.functions.text import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir), rates={"en": 0.4, "de": 1.0}, stratum_col="lang"
    ).select("doc_id", "lang")


def q_cube_orders(spark, sf_dir):
    """Grouping-sets surface (§2.5): CUBE over (order year, priority) with
    GROUPING flags so subtotal rows are unambiguous."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.year("o_orderdate").alias("yr"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice"),
    )
    return (
        orders.cube("yr", "pri")
        .agg(
            F.grouping("yr").cast("int").alias("g_yr"),
            F.grouping("pri").cast("int").alias("g_pri"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total"),
        )
    )


# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: multi-op CDC envelope flattening on sf0.001."""
    return q_flatten_multi_op(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering matters: the driver's correctness gate records only the FIRST
    # 50 entries. Round-15 rotation (VERDICT r14 ask #3): positions 1-49 are
    # the 49 keys whose latest driver evidence is round 12 (in sorted order);
    # slot 50 re-drives cdc_apply_changelog (round-13 evidence) through this
    # round's generational-GC / retention rework of the MOR commit path.
    # After this rotation no key's driver evidence is older than round 13.
    return {
        # --- ROUND-15 WINDOW (driver records the FIRST 50 entries). ---
        "cdc_decimal_compat": q_decimal_compat,
        "cdc_flatten_delete": q_flatten_delete,
        "cdc_flatten_insert": q_flatten_insert,
        "cdc_int_widening": q_int_widening,
        "cdc_lowercase_columns": q_lowercase_columns,
        "llm_5gram_logprob": q_5gram_logprob,
        "llm_ann_cosine": q_ann_cosine,
        "llm_audio_decode": q_audio_decode,
        "llm_bigram_logprob": q_bigram_logprob,
        "llm_bm25_probe": q_bm25_probe,
        "llm_bm25_probe_mor": q_bm25_probe_mor,
        "llm_bpe_pairs": q_bpe_pairs,
        "llm_chunk_documents": q_chunk_documents,
        "llm_chunk_tokens": q_chunk_documents_tokens,
        "llm_fingerprint": q_fingerprint,
        "llm_image_near_dup": q_image_near_dup,
        "llm_kneser_ney_5gram": q_kneser_ney_5gram,
        "llm_kneser_ney_mor": q_kneser_ney_mor,
        "llm_knn_join_lsh": q_knn_join_lsh,
        "llm_knn_join_probed": q_knn_join_probed,
        "llm_knn_join_trained": q_knn_join_trained,
        "llm_lang_detect": q_lang_detect,
        "llm_mixture_sample": q_mixture_sample,
        "llm_modified_kneser_ney": q_modified_kneser_ney,
        "llm_ngram_pairs": q_ngram_pairs,
        "llm_pack_sequences": q_pack_sequences,
        "llm_payload_embedding": q_payload_embedding,
        "llm_perplexity_buckets": q_perplexity_buckets,
        "llm_pii_scrub": q_pii_scrub,
        "llm_quality_score": q_quality_score,
        "llm_quantile_sketch": q_quantile_sketch,
        "llm_rag_pipeline": q_rag_pipeline,
        "llm_shard_for_training": q_shard_for_training,
        "llm_simhash_pairs": q_simhash_pairs,
        "llm_temperature_mixture": q_temperature_mixture,
        "llm_trigram_logprob": q_trigram_logprob,
        "llm_unigram_logprob": q_unigram_logprob,
        "llm_video_frames": q_video_frames,
        "rel_customers_without_orders": R.customers_without_orders,
        "rel_distinct_parts": lambda s, d: R.distinct_parts_per_flag(s, d).select(
            "l_returnflag", "n_parts"
        ),
        "rel_local_supplier_volume": R.local_supplier_volume,
        "rel_nations_except": R.nations_except,
        "rel_nations_intersect": R.nations_intersect,
        "rel_order_priority": R.order_priority_counts,
        "rel_returnflag_rollup": R.returnflag_rollup,
        "rel_scalar_funcs": q_scalar_funcs,
        "rel_supplier_counts_by_size": R.supplier_counts_by_size,
        "rel_top_orders_per_customer": R.top_orders_per_customer,
        "rel_top_revenue_suppliers": R.top_revenue_suppliers,
        # --- slot 50: r13-evidence key that runs the full MOR apply+serve
        # path reworked this round (retain_cycles generations, gc sweep)
        "cdc_apply_changelog": q_apply_changelog,
        # --- position 51+: driver-r13/r14-green remainder, covered every
        # session by the local typed gate (tools/check_contract.py) +
        # pytest. STANDING RULE (VERDICT r7 #6): a NEW contract query
        # enters ABOVE position 50 in the round it lands.
        "cdc_delete_on": q_delete_on,
        "cdc_flatten_insert_delete": q_flatten_insert_delete,
        "cdc_flatten_multi_op": q_flatten_multi_op,
        "cdc_flatten_snapshot": q_flatten_snapshot,
        "cdc_flatten_update": q_flatten_update,
        "cdc_gap_wait": q_gap_wait,
        "cdc_history_scd2": q_history_scd2,
        "cdc_incremental_scan": q_incremental_scan,
        "cdc_insert_into": q_insert_into,
        "cdc_keyvalue_mapping": q_keyvalue_mapping,
        "cdc_mongo_flatten": q_mongo_flatten,
        "cdc_offset_discovery": q_offset_discovery,
        "cdc_temporal_lookup": q_temporal_lookup,
        "cdc_update_on": q_update_on,
        "llm_bloom_screen": q_bloom_screen,
        "llm_bloom_screen_maintained": q_bloom_screen_maintained,
        "llm_bm25_topk": q_bm25_topk,
        "llm_bpe_encode": q_bpe_encode,
        "llm_bpe_train": q_bpe_train,
        "llm_c4_filters": q_c4_filters,
        "llm_cdc_pipeline": q_cdc_pipeline,
        "llm_cms_counts": q_cms_counts,
        "llm_curate": q_curate,
        "llm_decontaminate": q_decontaminate,
        "llm_decontaminate_spans": q_decontaminate_spans,
        "llm_dedup_exact": q_dedup_exact,
        "llm_dedup_substrings": q_dedup_substrings,
        "llm_distinctive_terms": q_distinctive_terms,
        "llm_dsir_select": q_dsir_select,
        "llm_dsir_weights": q_dsir_weights,
        "llm_duplicate_spans": q_duplicate_spans,
        "llm_duplicate_spans_maximal": q_duplicate_spans_maximal,
        "llm_embedding_near_dup": q_embedding_near_dup,
        "llm_gopher_quality": q_gopher_quality,
        "llm_hll_distinct": q_hll_distinct,
        "llm_hybrid_retrieval": q_hybrid_retrieval,
        "llm_ivf_ann": q_ivf_ann,
        "llm_ivf_probe_maintained_mut": q_ivf_probe_maintained_mut,
        "llm_ivf_probe_mor": q_ivf_probe_mor,
        "llm_kneser_ney": q_kneser_ney,
        "llm_kneser_ney_maintained": q_kneser_ney_maintained,
        "llm_kneser_ney_maintained_mut": q_kneser_ney_maintained_mut,
        "llm_knn_join": q_knn_join,
        "llm_knn_join_bucketed": q_knn_join_bucketed,
        "llm_label_centroids": q_label_centroids,
        "llm_minhash_pairs": q_minhash_pairs,
        "llm_multimodal_decode": q_multimodal_decode,
        "llm_near_dedup": q_near_dedup,
        "llm_paragraph_dedup": q_paragraph_dedup,
        "llm_pq_encode": q_pq_encode,
        "llm_pq_topk": q_pq_topk,
        "llm_quality_classifier": q_quality_classifier,
        "llm_repetition": q_repetition,
        "llm_semantic_dedup": q_semantic_dedup,
        "llm_semantic_dedup_numpy": q_semantic_dedup_numpy,
        "llm_span_corruption": q_span_corruption,
        "llm_stratified_sample": q_stratified_sample,
        "llm_text_stats": q_text_stats,
        "llm_tokenize_pipeline": q_tokenize_pipeline,
        "llm_top_ngrams": q_top_ngrams,
        "llm_topk_cosine": q_topk_cosine,
        "llm_ul2_denoisers": q_ul2_denoisers,
        "llm_unigram_encode": q_unigram_encode,
        "llm_unigram_lm": q_unigram_lm,
        "llm_url_dedup": q_url_dedup,
        "rel_asof_forward": q_asof_forward,
        "rel_asof_join": q_asof_join,
        "rel_cube": q_cube_orders,
        "rel_custdist": R.customer_order_distribution,
        "rel_json_props": q_json_props,
        "rel_output_every_nth": q_output_every_nth,
        "rel_output_snapshot": q_output_snapshot,
        "rel_pattern_absent": q_pattern_absent,
        "rel_pattern_both": q_pattern_both,
        "rel_pattern_immediate": q_pattern_immediate,
        "rel_pattern_match": q_pattern_match,
        "rel_pattern_or": q_pattern_or,
        "rel_pattern_runs": q_pattern_runs,
        "rel_pattern_sequence": q_pattern_sequence,
        "rel_percentiles": q_percentiles,
        "rel_pricing_summary": R.pricing_summary,
        "rel_range_join": q_range_join,
        "rel_rollup_multi": q_rollup_multi,
        "rel_salted_agg": q_salted_agg,
        "rel_salted_join": q_salted_join,
        "rel_shipping_priority": R.shipping_priority,
        "rel_small_qty_revenue": R.small_quantity_revenue,
        "win_delay": q_delay_window,
        "win_first_unique": q_first_unique_window,
        "win_frequent": q_frequent,
        "win_length": q_length_window,
        "win_length_batch": q_length_batch,
        "win_lossy_frequent": q_lossy_frequent,
        "win_session": q_session_window,
        "win_sliding": q_sliding_window,
        "win_sort": q_sort_window,
        "win_time_length": q_time_length_window,
        "win_tumbling": q_tumbling_window,
        "win_unique": q_unique_window,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles. Built from the same constants as the Spark expressions so
# they cannot drift (marker lists, token/punct regexes).
# ---------------------------------------------------------------------------

_NORM = r"regexp_replace(trim(lower(text)), '\s+', ' ', 'g')"
_M = "(event_id % 10)"

#: Span start inside block bi (0-based): portable md5 hash mod the legal
#: start range — restates export.span_corruption's per-block draw.
_SPAN_START = (
    "(CAST(('0x' || substr(md5('0' || chr(31) || CAST(doc_id AS VARCHAR) "
    "|| chr(31) || CAST(bi AS VARCHAR)), 1, 15)) AS BIGINT) "
    "% (len(toks[bi*20+1 : least((bi+1)*20, len(toks))]) - 3 + 1))"
)


def _span_sql(span: int, block: int) -> tuple[str, str]:
    """Parameterized DuckDB restatement of the span-corruption
    ``(input_text, target_text)`` expressions over a CTE exposing
    ``doc_id, toks`` — the generator behind the UL2 oracle's R and X
    branches (the 3/20 llm_span_corruption oracle is the same shape,
    written out literally)."""
    start = (
        f"(CAST(('0x' || substr(md5('0' || chr(31) || CAST(doc_id AS VARCHAR) "
        f"|| chr(31) || CAST(bi AS VARCHAR)), 1, 15)) AS BIGINT) "
        f"% (len(toks[bi*{block}+1 : least((bi+1)*{block}, len(toks))]) - {span} + 1))"
    )
    nb = (
        f"CASE WHEN len(toks) > 0 THEN CAST(ceil(len(toks) / {block}.0) AS INT) "
        f"ELSE 0 END"
    )
    blk = f"toks[bi*{block}+1 : least((bi+1)*{block}, len(toks))]"
    inp = (
        f"array_to_string(flatten(list_transform(range({nb}), bi -> "
        f"CASE WHEN len({blk}) >= {span} "
        f"THEN toks[bi*{block}+1 : bi*{block} + CAST({start} AS INT)] "
        f"|| ['<extra_id_' || CAST(bi AS VARCHAR) || '>'] "
        f"|| toks[bi*{block} + CAST({start} AS INT) + {span + 1} "
        f": least((bi+1)*{block}, len(toks))] "
        f"ELSE {blk} END)), ' ')"
    )
    tgt = (
        f"array_to_string(flatten(list_transform(range({nb}), bi -> "
        f"CASE WHEN len({blk}) >= {span} "
        f"THEN ['<extra_id_' || CAST(bi AS VARCHAR) || '>'] "
        f"|| toks[bi*{block} + CAST({start} AS INT) + 1 "
        f": bi*{block} + CAST({start} AS INT) + {span}] "
        f"ELSE [] END)), ' ')"
    )
    return inp, tgt

#: DuckDB restatement of functions.export.stable_hash(doc_id, seed=0):
#: 60-bit BIGINT from the first 15 hex digits of md5('0' || 0x1f || id).
_STABLE_HASH = (
    "CAST(('0x' || substr(md5('0' || chr(31) || CAST(doc_id AS VARCHAR)), 1, 15)) "
    "AS BIGINT)"
)


def _ann_cosine_oracle_sql() -> str:
    """DuckDB restatement of q_ann_cosine (sign-LSH ANN, nbits=8,
    probe_hamming=1, seed=42): the seeded hyperplanes become double
    literals, bucket bits come from the sign of the plane dot products, and
    the hamming-1 probe set is a bit_count(xor(...)) <= 1 filter."""
    from siddhi_io_cdc_spark.functions.similarity import hyperplanes

    planes = hyperplanes(64, 8, 42)

    def bucket(col: str) -> str:
        terms = []
        for i, p in enumerate(planes):
            lits = ", ".join(repr(float(x)) for x in p)
            terms.append(
                f"(CASE WHEN list_dot_product({col}, [{lits}]) > 0 "
                f"THEN {1 << i} ELSE 0 END)"
            )
        return "(" + " + ".join(terms) + ")"

    return f"""
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id = 0),
        bb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                      {bucket('CAST(embedding AS DOUBLE[])')} AS bucket
               FROM embeddings),
        qb AS (SELECT qv, {bucket('qv')} AS qbucket FROM q)
        SELECT vec_id FROM (
          SELECT bb.vec_id,
                 round(list_dot_product(bb.v, qb.qv)
                       / (sqrt(list_dot_product(bb.v, bb.v))
                          * sqrt(list_dot_product(qb.qv, qb.qv))), 6) AS score
          FROM bb, qb
          WHERE bit_count(xor(bb.bucket, qb.qbucket)) <= 1
          ORDER BY score DESC, vec_id LIMIT 10)"""


_ANN_COSINE_SQL = _ann_cosine_oracle_sql()


def _quality_classifier_oracle_sql(n_iters: int = 10, lr: float = 1.5) -> str:
    """Chained-CTE restatement of classifier.train_quality_classifier +
    apply: features -> moments -> standardization -> one gradient CTE and
    one weight CTE per iteration -> scoring. Per-row math is exact IEEE
    (rational fast sigmoid, no exp); every aggregate-derived scalar rounds
    to 9 decimals, so both engines start each iteration from identical
    weights and the ~1e-13 summation-order noise cannot compound."""
    from siddhi_io_cdc_spark.functions.text import GOPHER_STOPWORDS

    stops = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    feat_sql = f"""
      base AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS W,
               CAST(greatest(length(text), 1) AS DOUBLE) AS nc, text
        FROM documents),
      lab AS (
        SELECT doc_id, f1, f2, f3, f4, f5,
               CASE WHEN f1 >= 60 AND f3 >= 0.02 THEN 1.0 ELSE 0.0 END AS y
        FROM (
          SELECT doc_id,
            CAST(len(W) AS DOUBLE) AS f1,
            CASE WHEN len(W) > 0
                 THEN CAST(list_sum(list_transform(W, w -> length(w)))
                           AS DOUBLE) / CAST(len(W) AS DOUBLE)
                 ELSE 0.0 END AS f2,
            CAST(len(list_filter(W, w -> w IN ({stops}))) AS DOUBLE)
              / greatest(CAST(len(W) AS DOUBLE), 1.0) AS f3,
            CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / nc AS f4,
            CAST(len(regexp_extract_all(lower(text), '[a-z]')) AS DOUBLE) / nc
              AS f5
          FROM base)),
      nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM lab),
      mo AS (SELECT {', '.join(
        f'sum(f{i}) AS s{i}, sum(f{i}*f{i}) AS q{i}' for i in range(1, 6))}
        FROM lab),
      st AS (SELECT {', '.join(
        f'''round(s{i}/n, 9) AS m{i},
            CASE WHEN sd{i} = 0.0 THEN 1.0 ELSE sd{i} END AS sc{i}'''
        for i in range(1, 6))}
        FROM (SELECT *, {', '.join(
          f'''CASE WHEN q{i}/n - round(s{i}/n, 9)*round(s{i}/n, 9) > 0
               THEN round(sqrt(q{i}/n - round(s{i}/n, 9)*round(s{i}/n, 9)), 9)
               ELSE 0.0 END AS sd{i}''' for i in range(1, 6))}
          FROM mo, nn)),
      x AS MATERIALIZED (SELECT doc_id, y, {', '.join(
        f'(f{i} - m{i})/sc{i} AS x{i}' for i in range(1, 6))}
        FROM lab, st)"""
    z = "b + " + " + ".join(f"a{i}*x{i}" for i in range(1, 6))
    sig = "0.5 + z/(2.0*(1.0 + abs(z)))"
    iters = ["w0 AS (SELECT 0.0 AS b, " + ", ".join(
        f"0.0 AS a{i}" for i in range(1, 6)) + ")"]
    for t in range(1, n_iters + 1):
        iters.append(f"""
      g{t} AS MATERIALIZED (
        SELECT sum(p - y) AS g0, {', '.join(
          f'sum((p - y)*x{i}) AS g{i}' for i in range(1, 6))}
        FROM (SELECT y, {', '.join(f'x{i}' for i in range(1, 6))},
                     {sig} AS p
              FROM (SELECT *, {z} AS z FROM x, w{t - 1})))""")
        iters.append(f"""
      w{t} AS MATERIALIZED (SELECT round(b - {lr!r}*g0/n, 9) AS b, {', '.join(
          f'round(a{i} - {lr!r}*g{i}/n, 9) AS a{i}' for i in range(1, 6))}
        FROM w{t - 1}, g{t}, nn)""")
    return f"""
      WITH {feat_sql}, {', '.join(iters)}
      SELECT doc_id, round(p, 6) AS quality_prob, p >= 0.5 AS quality_keep
      FROM (SELECT doc_id, {sig} AS p
            FROM (SELECT doc_id, {z} AS z FROM x, w{n_iters}))"""


def _pq_oracle_ctes() -> str:
    """Shared CTEs for the PQ oracles: per-subspace distance arrays (the
    same shifted dot identity as similarity._pq_subspace_dists — ``||c||^2
    - s.c - s.c`` with the row-constant ``||s||^2`` dropped) and the
    argmin codes. Literal centroid norms repr-round-trip; the only cross-
    engine fp divergence is list_dot_product summation order (~1e-15)
    against measured sf0.01 argmin margins >= 5.2e-06."""
    from siddhi_io_cdc_spark.functions.similarity import pq_codebooks

    cb = pq_codebooks(64, m=8, k=16)
    m, _k, d = cb.shape
    dist_cols = []
    for j in range(m):
        sub = f"e[{j * d + 1}:{j * d + d}]"
        exprs = []
        for c in cb[j]:
            lits = ", ".join(repr(float(x)) for x in c)
            cc = repr(float(sum(float(x) * float(x) for x in c)))
            dot = f"list_dot_product({sub}, [{lits}]::DOUBLE[])"
            exprs.append(f"CAST({cc} AS DOUBLE) - {dot} - {dot}")
        dist_cols.append(f"[{', '.join(exprs)}] AS d{j}")
    code_cols = ", ".join(
        f"CAST(list_position(d{j}, list_min(d{j})) - 1 AS BIGINT) AS c{j}"
        for j in range(m)
    )
    return f"""
      v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      d AS (SELECT vec_id, {', '.join(dist_cols)} FROM v),
      codes AS (SELECT vec_id, {code_cols} FROM d)"""


def _pq_encode_oracle_sql() -> str:
    m = 8
    arr = ", ".join(f"c{j}" for j in range(m))
    return f"""
      WITH {_pq_oracle_ctes()}
      SELECT vec_id, array_to_string([{arr}], ' ') AS pq_code_str
      FROM codes"""


def _pq_topk_oracle_sql() -> str:
    """ADC score: the literal lookup table is computed with the SAME
    left-to-right Python sums as similarity.pq_topk, so every lut entry is
    literal-identical in both engines and the rounded sum is bit-exact."""
    from siddhi_io_cdc_spark.functions.similarity import pq_codebooks

    cb = pq_codebooks(64, m=8, k=16)
    m, _k, d = cb.shape
    q = _pq_query_vec()
    terms = []
    for j in range(m):
        lut = [
            repr(
                float(
                    sum(
                        (float(q[j * d + t]) - float(cb[j][c][t])) ** 2
                        for t in range(d)
                    )
                )
            )
            for c in range(len(cb[j]))
        ]
        terms.append(
            f"list_extract([{', '.join(lut)}]::DOUBLE[], CAST(c{j} + 1 AS INT))"
        )
    return f"""
      WITH {_pq_oracle_ctes()}
      SELECT vec_id, round({' + '.join(terms)}, 6) AS approx_dist
      FROM codes ORDER BY approx_dist, vec_id LIMIT 10"""


def _bpe_vocab_cte() -> str:
    """Word-frequency vocabulary as delimited symbol strings:
    ``hello`` -> ``(h)(e)(l)(l)(o)`` — the same universe as llm_bpe_pairs."""
    return r"""
      SELECT regexp_replace(w, '(.)', '(\1)', 'g') AS sym, freq FROM (
        SELECT w, count(*) AS freq FROM (
          SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
          FROM documents)
        GROUP BY w HAVING length(w) >= 2)"""


def _bpe_best_pair_cte(src: str) -> str:
    """Argmax adjacent symbol pair over vocabulary ``src`` (count desc,
    then lexicographic — the trainer's exact tie-break)."""
    return f"""
      SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        SELECT syms[CAST(u.i AS INT)] AS l,
               syms[CAST(u.i AS INT) + 1] AS r, freq FROM (
          SELECT string_split(trim(sym, '()'), ')(') AS syms, freq
          FROM {src}) t,
          unnest(generate_series(1, len(syms) - 1)) AS u(i))
      GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1"""


def _bpe_train_oracle_sql(n_merges: int) -> str:
    """Chained-CTE restatement of iterative BPE training: round ``i`` picks
    the best pair of vocabulary ``v(i-1)`` and rewrites it with one literal
    ``replace`` — identical semantics to tokenizer.bpe_train because the
    ``(sym)`` delimiters make adjacent matches disjoint in both engines."""
    # MATERIALIZED: v{i} is referenced by both b{i+1} and v{i+1}, so
    # DuckDB's default inlining re-expands the vocabulary subtree 2^n
    # times (measured 13.7 s -> ~2 s at n=6 when materialized)
    ctes = [f"v0 AS MATERIALIZED ({_bpe_vocab_cte()})"]
    for i in range(1, n_merges + 1):
        ctes.append(f"b{i} AS MATERIALIZED ({_bpe_best_pair_cte(f'v{i - 1}')})")
        if i < n_merges:
            ctes.append(
                f"""v{i} AS MATERIALIZED (
      SELECT replace(sym, '(' || b.l || ')(' || b.r || ')',
                     '(' || b.l || b.r || ')') AS sym, freq
      FROM v{i - 1}, b{i} b)"""
            )
    rows = "\nUNION ALL ".join(
        f"""SELECT CAST({i} AS BIGINT) AS merge_rank, l AS "left",
               r AS "right", cnt AS pair_count FROM b{i}"""
        for i in range(1, n_merges + 1)
    )
    return f"WITH {', '.join(ctes)}\n{rows}"


def _bpe_encode_oracle_sql(merges) -> str:
    """Encode with a literal merge table: the replace chain applied inside
    ``list_transform`` per word, then flattened — mirrors bpe_encode."""
    chain = r"regexp_replace(w, '(.)', '(\1)', 'g')"
    for left, right in merges:
        chain = f"replace({chain}, '({left})({right})', '({left}{right})')"
    return f"""
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_bpe_tokens,
             array_to_string(toks[1:8], ' ') AS head_tokens
      FROM (
        SELECT doc_id,
               flatten(list_transform(
                 regexp_extract_all(lower(text), '[a-z]+'),
                 w -> string_split(trim({chain}, '()'), ')('))) AS toks
        FROM documents)"""


def _tokenize_pipeline_oracle_sql(n_merges: int = 6) -> str:
    """bpe_train CTEs -> encode with the LEARNED merges threaded in as
    scalar subqueries -> pack_sequences cumulative-sum body. The learned
    pair of round ``i`` enters the replace chain as
    ``(SELECT l FROM b{i})`` — data-derived literals, exactly what the
    Spark side bakes in after its bounded merge-table collect."""
    train = _bpe_train_oracle_sql(n_merges)
    ctes = train[len("WITH ") : train.index("\nSELECT")]
    # train's final SELECT (the UNION of b-rows) is replaced by the
    # encode + pack body; keep only its CTE chain
    # DuckDB forbids subqueries inside lambdas, so the learned pairs are
    # cross-joined into the row as columns (m is a single row) and the
    # lambda captures them as plain outer-column references
    chain = r"regexp_replace(w, '(.)', '(\1)', 'g')"
    for i in range(1, n_merges + 1):
        chain = (
            f"replace({chain}, '(' || l{i} || ')(' || r{i} || ')', "
            f"'(' || l{i} || r{i} || ')')"
        )
    pairs = ", ".join(
        f"b{i}.l AS l{i}, b{i}.r AS r{i}" for i in range(1, n_merges + 1)
    )
    froms = ", ".join(f"b{i}" for i in range(1, n_merges + 1))
    return f"""
      WITH {ctes},
      m AS MATERIALIZED (SELECT {pairs} FROM {froms}),
      enc AS MATERIALIZED (
        SELECT doc_id,
               CAST(len(flatten(list_transform(
                 regexp_extract_all(lower(text), '[a-z]+'),
                 w -> string_split(trim({chain}, '()'), ')(')))) AS BIGINT)
                 AS n_tokens,
               {_STABLE_HASH} % 8 AS shard
        FROM documents, m),
      c AS (
        SELECT doc_id, shard, n_tokens,
               coalesce(sum(n_tokens) OVER (
                 PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        FROM enc)
      SELECT doc_id, shard,
             CAST(floor(cum / 512.0) AS BIGINT) AS seq_id,
             CAST(cum % 512 AS BIGINT) AS seq_offset, n_tokens
      FROM c"""


def _unigram_viterbi_ctes(
    tag: str, src: str, vocab: str, L: int, P: int
) -> tuple[list[str], str]:
    """Unrolled Viterbi DP over word positions as one MATERIALIZED CTE per
    level — mirrors unigram_lm.viterbi_segment: level ``i`` holds the best
    (score, delimited-symbol segmentation) of the first ``i`` characters;
    candidates scan LONGEST piece first and the strict-> fold keeps the
    earlier candidate on ties, the same rule as the Spark fold. Piece
    lookups are scalar subqueries against the (materialized, model-sized)
    vocab CTE; a missing piece scores -1e9 exactly like the Spark
    coalesce. Returns (ctes, final_level_name)."""
    ctes = [
        f"{tag}0 AS MATERIALIZED (SELECT *, CAST(0.0 AS DOUBLE) AS s0,"
        f" '' AS g0 FROM {src})"
    ]
    for i in range(1, L + 1):
        cands = []
        for l in range(min(i, P), 0, -1):
            sub = f"substr(word, {i - l + 1}, {l})"
            lp = (
                f"coalesce((SELECT logprob FROM {vocab} v WHERE v.piece = {sub}),"
                " -1000000000.0)"
            )
            cands.append(
                f"struct_pack(s := s{i - l} + {lp}, "
                f"g := g{i - l} || '(' || {sub} || ')')"
            )
        best = cands[0]
        for c in cands[1:]:
            best = f"CASE WHEN ({c}).s > ({best}).s THEN {c} ELSE {best} END"
        ctes.append(
            f"""{tag}{i} AS MATERIALIZED (
      SELECT * EXCLUDE (b), b.s AS s{i}, b.g AS g{i}
      FROM (SELECT *, {best} AS b FROM {tag}{i - 1}))"""
        )
    return ctes, f"{tag}{L}"


def _unigram_seg_case(L: int) -> str:
    """seg = the DP level matching the word's length (train words are
    always 1..L chars)."""
    whens = " ".join(f"WHEN {i} THEN g{i}" for i in range(1, L + 1))
    return f"CASE length(word) {whens} END"


def _unigram_train_ctes(
    vocab_size: int = 48, P: int = 3, L: int = 12, n_iters: int = 2
) -> tuple[list[str], str]:
    """CTE chain restating unigram_lm_train: word table -> substring seed
    vocabulary (all chars + top multis, ties lexicographic) -> ``n_iters``
    hard-EM rounds (Viterbi CTE ladder + piece recount + renormalize).
    Returns (ctes, final_vocab_cte)."""
    ctes = [
        f"""uwords AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
            FROM documents)
      WHERE length(word) <= {L} GROUP BY word)""",
        f"""ugrid AS (
      SELECT word, freq, i, unnest(generate_series(1, {P})) AS l
      FROM (SELECT word, freq,
                   unnest(generate_series(1, length(word))) AS i
            FROM uwords))""",
        """useed AS MATERIALIZED (
      SELECT substr(word, i, l) AS piece, CAST(sum(freq) AS BIGINT) AS piece_count
      FROM ugrid WHERE i + l - 1 <= length(word) GROUP BY 1)""",
        """uchars AS (SELECT piece, piece_count FROM useed WHERE length(piece) = 1)""",
        f"""umulti AS (
      SELECT piece, piece_count FROM (
        SELECT piece, piece_count,
               row_number() OVER (ORDER BY piece_count DESC, piece) AS rk
        FROM useed WHERE length(piece) > 1)
      WHERE rk <= greatest({vocab_size} - (SELECT count(*) FROM uchars), 0))""",
        """uv0c AS (SELECT * FROM uchars UNION ALL SELECT * FROM umulti)""",
        """uv0 AS MATERIALIZED (
      SELECT piece, piece_count,
             round(ln(CAST(piece_count AS DOUBLE) / CAST(tot AS DOUBLE)), 9)
               AS logprob
      FROM uv0c, (SELECT CAST(sum(piece_count) AS BIGINT) AS tot FROM uv0c))""",
    ]
    vocab = "uv0"
    for k in range(1, n_iters + 1):
        dp, last = _unigram_viterbi_ctes(f"ud{k}_", "uwords", vocab, L, P)
        ctes.extend(dp)
        ctes.append(
            f"""useg{k} AS (
      SELECT word, freq, {_unigram_seg_case(L)} AS seg FROM {last})"""
        )
        ctes.append(
            f"""ucnt{k} AS MATERIALIZED (
      SELECT piece, CAST(sum(freq) AS BIGINT) AS piece_count
      FROM (SELECT unnest(string_split(trim(seg, '()'), ')(')) AS piece, freq
            FROM useg{k})
      GROUP BY piece)"""
        )
        ctes.append(
            f"""uv{k} AS MATERIALIZED (
      SELECT piece, piece_count,
             round(ln(CAST(piece_count AS DOUBLE) / CAST(tot AS DOUBLE)), 9)
               AS logprob
      FROM ucnt{k},
           (SELECT CAST(sum(piece_count) AS BIGINT) AS tot FROM ucnt{k}))"""
        )
        vocab = f"uv{k}"
    return ctes, vocab


def _mkn_oracle_sql(n: int) -> str:
    """Generated oracle for llm_modified_kneser_ney: the adjusted-count
    hierarchy at order ``n`` plus, per order, a count-of-counts CTE and a
    discount CTE computing D1/D2/D3+ with EXACTLY the association order of
    functions/export.modified_kn_discounts (y = n1/(n1 + 2.0*n2);
    Dj = j - (j+1)*y*n_{j+1}/n_j), and context stats carrying the three
    per-count continuation-type totals. The per-gram discount is a CASE on
    the gram's own adjusted count."""
    from siddhi_io_cdc_spark.functions.text import TOKEN_RE as _TR

    W = [f"w{i}" for i in range(1, n + 1)]
    wsel = ",\n         ".join(
        f"toks[i{' + ' + str(i) if i else ''}] AS w{i + 1}" for i in range(n)
    )
    parts = ["t AS MATERIALIZED (\n  SELECT doc_id, regexp_extract_all(lower(text), '"
             + _TR + "') AS toks FROM documents)"]
    parts.append(
        "g AS MATERIALIZED (\n  SELECT doc_id, " + wsel + "\n"
        f"  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - {n - 1})) AS i\n"
        f"        FROM t WHERE len(toks) >= {n}))"
    )
    allw = ", ".join(W)
    parts.append(
        f"a{n} AS MATERIALIZED (SELECT {allw},"
        f" CAST(count(*) AS BIGINT) AS a{n} FROM g GROUP BY {allw})"
    )
    for k in range(n - 1, 0, -1):
        keys = ", ".join(W[n - k:])
        parts.append(
            f"a{k} AS MATERIALIZED (SELECT {keys}, CAST(count(*) AS BIGINT) AS a{k}"
            f" FROM a{k + 1} GROUP BY {keys})"
        )
    for k in range(2, n + 1):
        ccs = ", ".join(
            f"CAST(sum(CASE WHEN a{k} = {j} THEN 1 ELSE 0 END) AS DOUBLE) AS n{j}"
            for j in range(1, 5)
        )
        parts.append(f"cc{k} AS (SELECT {ccs} FROM a{k})")
        # Mirrors export.modified_kn_discounts INCLUDING the KenLM
        # --discount_fallback branch the query passes (0.5/1.0/1.5): a
        # degenerate order (any n_j = 0, which DuckDB surfaces as NULL
        # divisions, or any D_j outside KenLM's [0, j] range) takes the
        # fallback literals instead of dividing by zero — so a future
        # degenerate contract fixture fails loudly as "fallback fired on
        # both sides", never as an opaque hash mismatch.
        parts.append(
            f"dsc{k} AS (SELECT\n"
            f"    CASE WHEN bad{k} THEN 0.5 ELSE rd1 END AS d1_{k},\n"
            f"    CASE WHEN bad{k} THEN 1.0 ELSE rd2 END AS d2_{k},\n"
            f"    CASE WHEN bad{k} THEN 1.5 ELSE rd3 END AS d3_{k}\n"
            f"  FROM (SELECT rd1, rd2, rd3,\n"
            f"          (n1 <= 0 OR n2 <= 0 OR n3 <= 0 OR n4 <= 0\n"
            f"           OR rd1 < 0 OR rd1 > 1 OR rd2 < 0 OR rd2 > 2\n"
            f"           OR rd3 < 0 OR rd3 > 3) AS bad{k}\n"
            f"        FROM (SELECT n1, n2, n3, n4,\n"
            f"                1.0 - 2.0*y*n2/n1 AS rd1,\n"
            f"                2.0 - 3.0*y*n3/n2 AS rd2,\n"
            f"                3.0 - 4.0*y*n4/n3 AS rd3\n"
            f"              FROM (SELECT n1, n2, n3, n4,"
            f" n1/(n1 + 2.0*n2) AS y FROM cc{k}))))"
        )
    for k in range(n, 1, -1):
        keys = ", ".join(W[n - k:-1])
        parts.append(
            f"c{k} AS MATERIALIZED (SELECT {keys}, CAST(sum(a{k}) AS BIGINT) AS s{k},\n"
            f"  CAST(sum(CASE WHEN a{k} = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t1_{k},\n"
            f"  CAST(sum(CASE WHEN a{k} = 2 THEN 1 ELSE 0 END) AS BIGINT) AS t2_{k},\n"
            f"  CAST(sum(CASE WHEN a{k} >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS t3_{k}\n"
            f"  FROM a{k} GROUP BY {keys})"
        )
    parts.append("s1 AS (SELECT CAST(sum(a1) AS BIGINT) AS S1 FROM a1)")
    p_expr = "(CAST(a1 AS DOUBLE) / CAST(S1 AS DOUBLE))"
    for k in range(2, n + 1):
        dk = (f"(CASE WHEN a{k} = 1 THEN d1_{k} WHEN a{k} = 2 THEN d2_{k}"
              f" ELSE d3_{k} END)")
        gamma = (f"(d1_{k} * CAST(t1_{k} AS DOUBLE) + d2_{k} * CAST(t2_{k} AS DOUBLE)"
                 f" + d3_{k} * CAST(t3_{k} AS DOUBLE))")
        p_expr = (
            f"((greatest(CAST(a{k} AS DOUBLE) - {dk}, 0.0) / CAST(s{k} AS DOUBLE))\n"
            f"   + ({gamma} / CAST(s{k} AS DOUBLE)) * {p_expr})"
        )
    joins = [f"a{n}"]
    for k in range(n, 1, -1):
        if k < n:
            joins.append(f"JOIN a{k} USING ({', '.join(W[n - k:])})")
        joins.append(f"JOIN c{k} USING ({', '.join(W[n - k:-1])})")
    joins.append(f"JOIN a1 USING ({W[-1]})")
    joins += [f"CROSS JOIN dsc{k}" for k in range(2, n + 1)]
    joins.append("CROSS JOIN s1")
    parts.append(
        f"lm AS MATERIALIZED (\n  SELECT {allw},\n  "
        + p_expr + " AS p\n  FROM " + "\n       ".join(joins) + ")"
    )
    parts.append(
        "scored AS (\n  SELECT doc_id, round(avg(-ln(p)), 6) AS mkn_nll,\n"
        "         CAST(count(*) AS BIGINT) AS n_ngrams\n"
        f"  FROM g JOIN lm USING ({allw}) GROUP BY doc_id)"
    )
    return (
        "WITH " + ",\n".join(parts) + "\n"
        "SELECT d.doc_id, s.mkn_nll, s.n_ngrams\n"
        "FROM (SELECT DISTINCT doc_id FROM documents) d\n"
        "LEFT JOIN scored s USING (doc_id)"
    )


def _unigram_train_oracle_sql() -> str:
    ctes, vocab = _unigram_train_ctes()
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT piece, piece_count, logprob FROM {vocab}"
    )


def _unigram_encode_oracle_sql(L: int = 12, P: int = 3) -> str:
    """Train (full CTE chain) then encode the corpus with the LEARNED
    pieces: DP once per DISTINCT document word, position-ordered regroup,
    >L-char words passed through as single OOV pieces, wordless documents
    kept with NULL output — mirrors unigram_lm_encode."""
    ctes, vocab = _unigram_train_ctes()
    ctes.append(
        """epos AS MATERIALIZED (
      SELECT doc_id, i AS pos, toks[i] AS word
      FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
            FROM (SELECT doc_id,
                         regexp_extract_all(lower(text), '[a-z]+') AS toks
                  FROM documents)))"""
    )
    ctes.append(
        f"""ewords AS MATERIALIZED (
      SELECT DISTINCT word FROM epos WHERE length(word) <= {L})"""
    )
    dp, last = _unigram_viterbi_ctes("ue_", "ewords", vocab, L, P)
    ctes.extend(dp)
    ctes.append(
        f"""eseg AS (
      SELECT word, {_unigram_seg_case(L)} AS seg FROM {last}
      UNION ALL
      SELECT word, '(' || word || ')' AS seg
      FROM (SELECT DISTINCT word FROM epos WHERE length(word) > {L}))"""
    )
    ctes.append(
        """ewp AS (
      SELECT word,
             array_to_string(string_split(trim(seg, '()'), ')('), ' ') AS wp,
             CAST(len(string_split(trim(seg, '()'), ')(')) AS BIGINT) AS wn
      FROM eseg)"""
    )
    ctes.append(
        """eagg AS (
      SELECT doc_id, string_agg(wp, ' ' ORDER BY pos) AS pieces,
             CAST(sum(wn) AS BIGINT) AS n_pieces
      FROM epos JOIN ewp USING (word) GROUP BY doc_id)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
    SELECT d.doc_id, e.pieces, e.n_pieces
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN eagg e USING (doc_id)"""
    )


def _rag_pipeline_oracle_sql() -> str:
    """DuckDB restatement of q_rag_pipeline: token-chunk CTE (same as
    llm_chunk_tokens), strided byte fold per chunk (ASCII corpus: ord ==
    byte), L2-normalize + round 6 (the operator's contract), cosine top-20
    against the fixed query vector with (score desc, cid) tiebreak."""
    q = ", ".join(repr(x) for x in _RAG_QUERY_VEC)
    return f"""
        WITH t AS (
          SELECT doc_id, regexp_extract_all(text, '{TOKEN_RE}') AS toks
          FROM documents),
        n AS (
          SELECT doc_id, toks,
                 CAST(greatest(ceil((len(toks) - 16) / 48.0), 1) AS INT)
                   AS n_chunks
          FROM t),
        chunks AS (
          SELECT doc_id * 10000 + u.i AS cid,
                 array_to_string(toks[u.i * 48 + 1 : u.i * 48 + 64], ' ') AS s
          FROM n, unnest(generate_series(0, n_chunks - 1)) AS u(i)
          WHERE len(toks[u.i * 48 + 1 : u.i * 48 + 64]) > 0),
        bytes AS (
          SELECT cid, (p - 1) % 16 AS i, ord(substr(s, CAST(p AS INT), 1)) AS v
          FROM (SELECT cid, s, unnest(generate_series(1, length(s))) AS p
                FROM chunks)),
        sums AS (SELECT cid, i, sum(v) AS sv FROM bytes GROUP BY 1, 2),
        norms AS (SELECT cid, sqrt(sum(sv * sv)) AS nr FROM sums GROUP BY 1),
        vecs AS (
          SELECT s.cid,
                 list(round(s.sv / (CASE WHEN n.nr = 0 THEN 1 ELSE n.nr END), 6)
                      ORDER BY s.i) AS v
          FROM sums s JOIN norms n ON s.cid = n.cid GROUP BY s.cid)
        SELECT cid, score FROM (
          SELECT cid,
                 round(list_dot_product(v, [{q}])
                       / (sqrt(list_dot_product(v, v))
                          * sqrt(list_dot_product([{q}], [{q}]))), 6) AS score
          FROM vecs
          ORDER BY score DESC, cid LIMIT 20)"""


def _ngram_logprob_oracle_sql(n: int) -> str:
    """DuckDB restatement of functions.export.ngram_logprob(n): the
    corpus-trained n-gram LM has no unseen document n-grams (count >= 1 by
    construction), so the exact MLE restates without smoothing; the context
    count is the sum of n-gram counts per (n-1)-prefix in BOTH engines.
    Same shape as the hand-written bigram oracle, generated for any n."""
    ws = [f"w{i + 1}" for i in range(n)]
    sel = ", ".join(f"toks[i + {i}] AS {w}" for i, w in enumerate(ws))
    allw = ", ".join(ws)
    prefix = ", ".join(ws[:-1])
    return f"""
        WITH t AS (
          SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
          FROM documents),
        g AS (
          SELECT doc_id, {sel}
          FROM (SELECT doc_id, toks,
                       unnest(generate_series(1, len(toks) - {n - 1})) AS i
                FROM t WHERE len(toks) >= {n})),
        vocab AS (SELECT {allw}, count(*) AS cn FROM g GROUP BY {allw}),
        ctx AS (SELECT {prefix}, sum(cn) AS cc FROM vocab GROUP BY {prefix}),
        scored AS (
          SELECT doc_id, round(avg(-ln(cn / cc)), 6) AS ngram_nll,
                 count(*) AS n_ngrams
          FROM g JOIN vocab USING ({allw}) JOIN ctx USING ({prefix})
          GROUP BY doc_id)
        SELECT d.doc_id, s.ngram_nll, s.n_ngrams
        FROM (SELECT DISTINCT doc_id FROM documents) d
        LEFT JOIN scored s USING (doc_id)"""


def _knn_probed_oracle_sql() -> str:
    """DuckDB restatement of q_knn_join_probed (knn_join_ivf, nlist=32,
    nprobe=8, seed=42, dim=64): the deterministic pseudo-centroids become a
    32-row VALUES table of double-literal vectors; cell assignment is the
    argmax-dot with lowest-index ties (row_number over dot DESC, idx), each
    query ranks its 8 nearest cells the same way, and candidates are the
    cell equi-join — exactly the Spark plan's semantics. Orderings compare
    dot products whose gaps are O(0.1), far above any fold-vs-
    list_dot_product summation difference, so the probe sets are stable."""
    from siddhi_io_cdc_spark.functions.similarity import ivf_centroids

    cents = ivf_centroids(64, 32, 42)
    rows = ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    return f"""
        WITH cents(idx, c) AS (VALUES {rows}),
        corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        assign AS (
          SELECT vec_id, v, idx AS cell FROM (
            SELECT vec_id, v, idx,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY list_dot_product(v, c) DESC,
                                               idx) AS rn
            FROM corpus CROSS JOIN cents) WHERE rn = 1),
        queries AS (SELECT vec_id AS query_id, v AS qv
                    FROM corpus WHERE vec_id % 100 = 0),
        qprobe AS (
          SELECT query_id, qv, cell FROM (
            SELECT query_id, qv, idx AS cell,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY list_dot_product(qv, c) DESC,
                                               idx) AS rn
            FROM queries CROSS JOIN cents) WHERE rn <= 8),
        cand AS (
          SELECT q.query_id, a.vec_id AS neighbor_id,
                 round(list_dot_product(a.v, q.qv)
                       / (sqrt(list_dot_product(a.v, a.v))
                          * sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
          FROM qprobe q JOIN assign a ON a.cell = q.cell)
        SELECT query_id, neighbor_id, score, rank FROM (
          SELECT query_id, neighbor_id, score,
                 CAST(row_number() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank
          FROM cand)
        WHERE rank <= 5"""


_KNN_PROBED_SQL = _knn_probed_oracle_sql()


def _ivf_mut_oracle_sql() -> str:
    """DuckDB restatement of q_ivf_probe_maintained_mut: the post-changelog
    corpus as a CASE/WHERE CTE (negate vec_id%7==0, drop vec_id%11==0 with
    %7!=0 — cast-then-negate equals negate-then-cast exactly, so the
    mutated vectors are bit-identical in both engines), cell assignment by
    argmax-dot over the SAME 8 centroid literals the index stored, and the
    probe restricted to the SAME stable-argsort 4-cell list
    probe_ivf_index derives (computed here with the identical numpy
    stable sort, inlined as literals — centroids and the query vector are
    data-independent). The maintained index's apply path is thereby
    oracle-checked: a stale row surviving in its pre-update cell, a
    deleted row not excised, or an upsert landing in the wrong cell all
    change the probed candidate set and break the value hash."""
    import numpy as np

    from siddhi_io_cdc_spark.functions.similarity import ivf_centroids

    cents = np.asarray(ivf_centroids(64, 8, 42), dtype=float)
    qv = np.asarray(_IVF_MUT_QUERY, dtype=float)
    probe = np.argsort(-(cents @ qv), kind="stable")[:4].tolist()
    rows = ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    qlits = ", ".join(repr(float(x)) for x in qv)
    probe_in = ", ".join(str(int(c)) for c in probe)
    return f"""
        WITH cents(idx, c) AS (VALUES {rows}),
        post AS (
          SELECT vec_id,
                 CASE WHEN vec_id % 7 = 0
                      THEN list_transform(CAST(embedding AS DOUBLE[]), x -> -x)
                      ELSE CAST(embedding AS DOUBLE[]) END AS v
          FROM embeddings
          WHERE NOT (vec_id % 11 = 0 AND vec_id % 7 <> 0)),
        assign AS (
          SELECT vec_id, v, idx AS cell FROM (
            SELECT vec_id, v, idx,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY list_dot_product(v, c) DESC,
                                               idx) AS rn
            FROM post CROSS JOIN cents) WHERE rn = 1)
        SELECT vec_id,
               round(list_dot_product(v, [{qlits}])
                     / (sqrt(list_dot_product(v, v))
                        * sqrt(list_dot_product([{qlits}], [{qlits}]))), 6) AS score
        FROM assign WHERE cell IN ({probe_in})
        ORDER BY score DESC, vec_id LIMIT 10"""


def _knn_lsh_oracle_sql() -> str:
    """DuckDB restatement of q_knn_join_lsh (knn_join_lsh, nbits=8,
    probe_hamming=1, seed=42): buckets from the sign of the 8 plane dots
    (same literal-generation as the ann_cosine oracle), candidate pairs are
    corpus/query rows whose buckets differ in at most one bit, ranked per
    query. Sign margins on this fixture are far above fold-summation
    differences, so the bucket bits are stable across engines."""
    from siddhi_io_cdc_spark.functions.similarity import hyperplanes

    planes = hyperplanes(64, 8, 42)

    def bucket(col: str) -> str:
        terms = []
        for i, p in enumerate(planes):
            lits = ", ".join(repr(float(x)) for x in p)
            terms.append(
                f"(CASE WHEN list_dot_product({col}, [{lits}]) > 0 "
                f"THEN {1 << i} ELSE 0 END)"
            )
        return "(" + " + ".join(terms) + ")"

    return f"""
        WITH corpus AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                 {bucket('CAST(embedding AS DOUBLE[])')} AS b
          FROM embeddings),
        queries AS (
          SELECT vec_id AS query_id, v AS qv, b AS qb
          FROM corpus WHERE vec_id % 100 = 0),
        cand AS (
          SELECT q.query_id, c.vec_id AS neighbor_id,
                 round(list_dot_product(c.v, q.qv)
                       / (sqrt(list_dot_product(c.v, c.v))
                          * sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
          FROM queries q JOIN corpus c
            ON bit_count(xor(c.b, q.qb)) <= 1)
        SELECT query_id, neighbor_id, score, rank FROM (
          SELECT query_id, neighbor_id, score,
                 CAST(row_number() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank
          FROM cand)
        WHERE rank <= 5"""


_KNN_LSH_SQL = _knn_lsh_oracle_sql()

# Shared CTE prefix for the minhash-family oracles: the planted-clone corpus
# (q_minhash_pairs / q_near_dedup construction), exact distinct 5-token
# shingles of the normalized text (token_shingles semantics, including the
# whole-text shingle for documents shorter than k tokens), and the exact
# all-pairs Jaccard >= 0.7 set. Verified equal to the Spark LSH output at
# sf0.001 and sf0.01 (100% banding recall on this corpus; the exact verify
# removes all false positives).
# BM25 restatement shared by llm_bm25_topk and llm_hybrid_retrieval: the
# same expression tree as functions/retrieval.bm25_score — map-only per-term
# frequencies from the word array (no token explode), ONE 1-row corpus
# aggregate for (N, total tokens, per-term df), per-doc score summed in
# FIXED term order with absent terms contributing an exact 0.0, identical
# literal values and association order. Every float literal is cast to
# DOUBLE because bare decimals parse as DECIMAL in DuckDB. k1=1.2, b=0.75
# -> k1+1 = 2.2, 1-b = 0.25; norm_len = dl * n_docs / tot.
_BM25_TERMS = ["spark", "shuffle", "vector"]


def _bm25_top10_cte() -> str:
    tf_cols = ",\n                     ".join(
        f"len(list_filter(ws, w -> w = '{t}'))::BIGINT AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ",\n                     ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)::BIGINT AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    term_scores = "\n                   + ".join(
        f"""CASE WHEN tf{i} > 0 THEN
                       ln(CAST(1.0 AS DOUBLE)
                          + (n_docs - df{i} + CAST(0.5 AS DOUBLE))
                            / (df{i} + CAST(0.5 AS DOUBLE)))
                       * (tf{i} * CAST(2.2 AS DOUBLE)
                          / (tf{i} + CAST(1.2 AS DOUBLE)
                                 * (CAST(0.25 AS DOUBLE)
                                    + CAST(0.75 AS DOUBLE)
                                      * (dl * n_docs / tot))))
                     ELSE CAST(0.0 AS DOUBLE) END"""
        for i in range(len(_BM25_TERMS))
    )
    matched = " OR ".join(f"tf{i} > 0" for i in range(len(_BM25_TERMS)))
    return f"""
            bm25_staged AS (
              SELECT doc_id, len(ws)::BIGINT AS dl,
                     {tf_cols}
              FROM (SELECT doc_id,
                           list_filter(string_split({_NORM}, ' '),
                                       w -> w != '') AS ws
                    FROM documents)),
            bm25_stats AS (
              SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS tot,
                     {df_cols}
              FROM bm25_staged),
            bm25_top AS (
              SELECT doc_id,
                     CAST(round(
                     {term_scores}, 6) AS DOUBLE) AS bm25
              FROM bm25_staged CROSS JOIN bm25_stats
              WHERE {matched}
              ORDER BY bm25 DESC, doc_id LIMIT 10)"""


_BM25_TOP10_CTE = _bm25_top10_cte()

# DSIR restatement shared by llm_dsir_weights and llm_dsir_select:
# unigram+bigram features hashed into 1024 md5 buckets, add-one smoothed
# target (lang='en') vs raw LMs, per-doc log-ratio sum. Ends at `scored`.
_DSIR_SCORED_CTE = f"""d AS (
              SELECT doc_id, (lang = 'en') AS tgt,
                     list_filter(string_split({_NORM}, ' '),
                                 w -> w != '') AS ws
              FROM documents),
            grams AS (
              SELECT doc_id, tgt, unnest(ws) AS g FROM d
              UNION ALL
              SELECT doc_id, tgt,
                     unnest(CASE WHEN len(ws) >= 2
                            THEN list_transform(
                                   generate_series(1, len(ws) - 1),
                                   i -> ws[i] || ' ' || ws[i + 1])
                            ELSE [] END) AS g
              FROM d),
            hashed AS (
              SELECT doc_id, tgt,
                     CAST(('0x' || substr(md5('0' || chr(31) || g), 1, 15))
                          AS BIGINT) % 1024 AS b
              FROM grams),
            raw_lm AS (SELECT b, count(*)::BIGINT AS cr
                       FROM hashed GROUP BY b),
            tgt_lm AS (SELECT b, count(*)::BIGINT AS ct
                       FROM hashed WHERE tgt GROUP BY b),
            totals AS (
              SELECT count(*)::BIGINT AS nr,
                     sum(CASE WHEN tgt THEN 1 ELSE 0 END)::BIGINT AS nt
              FROM hashed),
            scored AS (
              SELECT doc_id,
                     CAST(round(sum(
                       ln((COALESCE(ct, 0) + CAST(1.0 AS DOUBLE))
                          / (nt + CAST(1024.0 AS DOUBLE)))
                       - ln((cr + CAST(1.0 AS DOUBLE))
                            / (nr + CAST(1024.0 AS DOUBLE)))), 6)
                        AS DOUBLE) AS dsir_weight,
                     count(*)::BIGINT AS n_features
              FROM hashed
              JOIN raw_lm USING (b)
              LEFT JOIN tgt_lm USING (b)
              CROSS JOIN totals
              GROUP BY doc_id)"""


_MINHASH_PAIRS_CTE = f"""
            WITH RECURSIVE corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 10000000, text || ' tailmarker'
              FROM documents WHERE doc_id < 5),
            toks AS (
              SELECT doc_id, string_split({_NORM}, ' ') AS t FROM corpus),
            sh AS (
              SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS s
              FROM (SELECT doc_id, t,
                           unnest(generate_series(1, greatest(len(t)-4, 1))) AS i
                    FROM toks)),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS pid_a, b.doc_id AS pid_b, count(*) AS i
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            pairs AS (
              SELECT pid_a AS id_a, pid_b AS id_b,
                     round(i * 1.0 / (na.n + nb.n - i), 6) AS jaccard
              FROM inter
              JOIN sizes na ON pid_a = na.doc_id
              JOIN sizes nb ON pid_b = nb.doc_id
              WHERE i * 1.0 / (na.n + nb.n - i) >= 0.7)"""

# Same construction for the char-3-gram family (q_ngram_pairs: clones are
# ``text || ' xyz'``): exact distinct 3-grams of the normalized text
# (ngram_jaccard_pairs extracts grams at positions 1..max(len-2, 1), so a
# sub-3-char document contributes its whole text as one gram), and the exact
# all-pairs Jaccard >= 0.8 set.
_NGRAM_PAIRS_CTE = f"""
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 10000000, text || ' xyz'
              FROM documents WHERE doc_id < 5),
            normed AS (SELECT doc_id, {_NORM} AS nt FROM corpus),
            grams AS (
              SELECT DISTINCT doc_id, substr(nt, i, 3) AS g
              FROM (SELECT doc_id, nt,
                           unnest(generate_series(1, greatest(length(nt) - 2, 1))) AS i
                    FROM normed)),
            sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS pid_a, b.doc_id AS pid_b, count(*) AS i
              FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            pairs AS (
              SELECT pid_a AS id_a, pid_b AS id_b,
                     round(i * 1.0 / (na.n + nb.n - i), 6) AS jaccard
              FROM inter
              JOIN sizes na ON pid_a = na.doc_id
              JOIN sizes nb ON pid_b = nb.doc_id
              WHERE i * 1.0 / (na.n + nb.n - i) >= 0.8)"""

_BEFORE = {
    "event_id": "event_id",
    "user_id": "user_id + 1000",
    "event_type": "'prev_' || event_type",
    "value": "value + 1.5",
    "props": "props",
}
_DEFAULT = {
    # typed literals: a bare 0 is INT32 and 0.0 is DECIMAL(2,1) in DuckDB,
    # which leaks into before_<col> types wherever no real column unifies
    # the CASE (the snapshot oracle) - the driver's value hash is typed.
    "event_id": "CAST(0 AS BIGINT)",
    "user_id": "CAST(0 AS BIGINT)",
    "event_type": "''",
    "value": "CAST(0.0 AS DOUBLE)",
    "props": "''",
}


def _marker_sql(words: list[str], target: str = "lower(text)") -> str:
    ascii_words = [w for w in words if w.isascii()]
    parts = []
    if ascii_words:
        alt = "|".join(ascii_words)
        parts.append(f"len(regexp_extract_all({target}, '\\b({alt})\\b'))")
    for w in words:
        if not w.isascii():
            parts.append(f"len(regexp_extract_all(text, '{w}'))")
    return " + ".join(parts)


def _lang_case_parts() -> tuple[str, str]:
    """(score_cols, case_expr) — shared by the lang-detect and curate oracles."""
    score_cols = ", ".join(
        f"{_marker_sql(words)} AS s_{lang}" for lang, words in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS)
    mx = f"greatest({', '.join('s_' + lg for lg in langs)})"
    case = f"CASE WHEN {mx} = 0 THEN 'und' " + " ".join(
        f"WHEN s_{lg} = {mx} THEN '{lg}'" for lg in langs
    ) + " END"
    return score_cols, case


def _lang_detect_sql() -> str:
    score_cols, case = _lang_case_parts()
    return (
        f"SELECT doc_id, {case} AS lang_pred FROM "
        f"(SELECT doc_id, text, {score_cols} FROM documents)"
    )


_WORDS = "CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END"
_STOPS = _marker_sql(STOPWORDS_EN)
_TEXT_STATS_SQL = f"""
SELECT doc_id,
       CAST(length(text) AS INTEGER) AS n_chars_calc,
       CAST({_WORDS} AS INTEGER) AS n_words,
       CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS INTEGER) AS n_tokens,
       round(len(regexp_extract_all(text, '{PUNCT_RE.replace("'", "''")}')) / greatest(length(text), 1), 6) AS punct_ratio,
       round(({_STOPS}) / greatest({_WORDS}, 1), 6) AS stopword_ratio
FROM documents
"""

_QUALITY_EXPR = f"""round(
         (CASE WHEN length(text) BETWEEN 100 AND 20000 THEN 0.4 ELSE 0.0 END)
         + (CASE WHEN round(({_STOPS}) / greatest({_WORDS}, 1), 6) > 0.05 THEN 0.4 ELSE 0.0 END)
         + (CASE WHEN round(len(regexp_extract_all(text, '{PUNCT_RE.replace("'", "''")}')) / greatest(length(text), 1), 6) < 0.2 THEN 0.2 ELSE 0.0 END)
       , 2)"""

_QUALITY_SQL = (
    f"SELECT doc_id, CAST({_QUALITY_EXPR} AS DOUBLE) AS quality_score"
    "\nFROM documents"
)


def _curate_sql(lang: str = "en", min_quality: float = 0.6, source: str = "documents") -> str:
    score_cols, case = _lang_case_parts()
    return f"""
        SELECT MIN(doc_id) AS doc_id FROM (
          SELECT doc_id, text, {case} AS lang_pred, {_QUALITY_EXPR} AS quality_score
          FROM (SELECT doc_id, text, {score_cols} FROM {source}))
        WHERE lang_pred = '{lang}' AND quality_score >= {min_quality}
        GROUP BY {_NORM}"""


#: Shared by llm_semantic_dedup and llm_semantic_dedup_numpy (the two
#: engines are pinned to the same end state).
_SEMANTIC_DEDUP_SQL = """
            WITH RECURSIVE corpus AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
              FROM embeddings
              UNION ALL
              SELECT vec_id + 10000000, CAST(embedding AS DOUBLE[]) AS embedding
              FROM embeddings WHERE vec_id < 5),
            pairs AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
              WHERE round(list_cosine_similarity(a.embedding, b.embedding), 6)
                      >= 0.99),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION
              SELECT id_b, id_a FROM pairs),
            reach(node, other) AS (
              SELECT src, dst FROM edges
              UNION
              SELECT r.node, e.dst FROM reach r
              JOIN edges e ON r.other = e.src AND e.dst <> r.node)
            SELECT vec_id FROM corpus
            WHERE vec_id NOT IN (
                SELECT node FROM reach GROUP BY node HAVING min(other) < node)
            ORDER BY vec_id"""


def oracle_sql() -> dict[str, str]:
    d = _oracle_sql_dict()
    # Trained-centroid kNN probes every cell (nprobe == nlist), so it is
    # EXACT whatever k-means converged to — the brute-force oracle of the
    # bucketed variant applies verbatim.
    d["llm_knn_join_trained"] = d["llm_knn_join_bucketed"]
    # Maintained 5-gram KN LM: the query splits documents 80/20, initializes
    # the gram state from the 80%, CDC-inserts the 20%, and serves — the
    # post-changelog corpus is the FULL table, so the batch 5-gram KN
    # hierarchy restatement applies verbatim (its hash equality is the
    # maintained==rebuild AND serve==batch-scorer claim at once).
    d["llm_kneser_ney_maintained"] = d["llm_kneser_ney_5gram"]
    # Maintained Bloom screen: init on 80%, CDC-insert the 20%, probe —
    # the post-changelog corpus is the full table, so the fresh-build
    # screen oracle applies verbatim.
    d["llm_bloom_screen_maintained"] = d["llm_bloom_screen"]
    # Maintained LM, update/delete path: the same hierarchy over the
    # POST-CHANGELOG corpus (every doc_id%7==0 text appended ' zz qq',
    # every doc_id%11==0-and-%7!=0 doc deleted) — a CASE/WHERE CTE swapped
    # in for the documents scan.
    _eff = (
        "documents_eff AS MATERIALIZED (\n"
        "              SELECT doc_id,\n"
        "                     CASE WHEN doc_id % 7 = 0 THEN text || ' zz qq'\n"
        "                          ELSE text END AS text\n"
        "              FROM documents\n"
        "              WHERE NOT (doc_id % 11 = 0 AND doc_id % 7 <> 0)),\n"
        "            t AS MATERIALIZED"
    )
    d["llm_kneser_ney_maintained_mut"] = (
        d["llm_kneser_ney_5gram"]
        .replace("WITH t AS MATERIALIZED", "WITH " + _eff, 1)
        .replace("FROM documents)", "FROM documents_eff)")
    )
    # Merge-on-read twins (round 12): each MOR row engineers the SAME
    # post-changelog corpus as an existing oracle-checked row, so the
    # oracle applies verbatim while the Spark side also exercises
    # compaction, minor folds and mixed ad-hoc/streamed applies.
    # - llm_kneser_ney_mor: update %7 (+' zz qq'), delete %11&%7!=0 — the
    #   _mut corpus, reached via no-before-image batches + a compaction.
    d["llm_kneser_ney_mor"] = d["llm_kneser_ney_maintained_mut"]
    # - llm_bm25_probe_mor: the changelog RESTORES the real corpus from a
    #   perturbed init (ghost deletes, text restores, held-out inserts), so
    #   the post-changelog corpus is exactly `documents`.
    d["llm_bm25_probe_mor"] = d["llm_bm25_probe"]
    # - llm_ivf_probe_mor: negate %7, delete %11&%7!=0 — the maintained-mut
    #   corpus, reached without before images + a compaction mid-stream.
    d["llm_ivf_probe_mor"] = d["llm_ivf_probe_maintained_mut"]
    return d


#: HyperLogLog oracle fragments (p=8, m=256) — must mirror
#: functions/sketch.py exactly. The rho chain is pure integer compares
#: (no log2 float hazard); the numerator is ONE Python float embedded as
#: the identical literal in both engines.
_HLL_RHO_SQL = (
    "CASE "
    + " ".join(f"WHEN v >= {1 << (32 - k)} THEN {k}" for k in range(1, 33))
    + " ELSE 33 END"
)
_HLL_NUM = (0.7213 / (1 + 1.079 / 256)) * 256 * 256 * float(1 << 33)


def _oracle_sql_dict() -> dict[str, str]:
    after_cols = ", ".join(EVENT_COLS)
    before_cols = ", ".join(f"{_BEFORE[c]} AS before_{c}" for c in EVENT_COLS)
    multi_after = ", ".join(
        f"CASE WHEN {_M} = 9 THEN {_DEFAULT[c]} ELSE {c} END AS {c}" for c in EVENT_COLS
    )
    multi_before = ", ".join(
        f"CASE WHEN {_M} <= 6 THEN {_DEFAULT[c]} ELSE {_BEFORE[c]} END AS before_{c}"
        for c in EVENT_COLS
    )
    id_after = ", ".join(
        f"CASE WHEN {_M} = 9 THEN {_DEFAULT[c]} ELSE {c} END AS {c}" for c in EVENT_COLS
    )
    id_before = ", ".join(
        f"CASE WHEN {_M} <= 6 THEN {_DEFAULT[c]} ELSE {_BEFORE[c]} END AS before_{c}"
        for c in EVENT_COLS
    )
    rev = "sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,6)))"
    return {
        "cdc_flatten_insert": f"SELECT {after_cols} FROM events WHERE {_M} <= 6",
        "cdc_flatten_snapshot": f"""
            SELECT {after_cols},
                   {", ".join(f"{_DEFAULT[c]} AS before_{c}" for c in EVENT_COLS)},
                   CASE WHEN {_M} <= 2 THEN 'snapshot' ELSE 'insert' END AS operation,
                   event_id * 2 AS source_ts_ms, event_id * 3 AS ts_ms
            FROM events WHERE {_M} <= 6""",
        "cdc_flatten_update": f"SELECT {after_cols}, {before_cols} FROM events WHERE {_M} IN (7, 8)",
        "cdc_flatten_delete": f"SELECT {before_cols} FROM events WHERE {_M} = 9",
        "cdc_flatten_multi_op": f"""
            SELECT {multi_after}, {multi_before},
                   CASE WHEN {_M} <= 6 THEN 'insert' WHEN {_M} <= 8 THEN 'update' ELSE 'delete' END AS operation,
                   event_id * 2 AS source_ts_ms, event_id * 3 AS ts_ms
            FROM events""",
        "cdc_flatten_insert_delete": f"""
            SELECT {id_after}, {id_before},
                   CASE WHEN {_M} <= 6 THEN 'insert' ELSE 'delete' END AS operation,
                   event_id * 2 AS source_ts_ms, event_id * 3 AS ts_ms
            FROM events WHERE {_M} <= 6 OR {_M} = 9""",
        "cdc_keyvalue_mapping": f"SELECT event_id AS id, event_type AS etype FROM events WHERE {_M} <= 6",
        "cdc_lowercase_columns": "SELECT * FROM customer",
        "cdc_int_widening": "SELECT c_custkey, CAST(c_nationkey AS INTEGER) AS c_nationkey FROM customer",
        "cdc_decimal_compat": "SELECT c_custkey, CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS c_acctbal FROM customer",
        "cdc_mongo_flatten": f"""
            SELECT 'oid' || CAST(event_id AS VARCHAR) AS id,
                   CASE WHEN {_M} <= 6 THEN 'n' || CAST(user_id AS VARCHAR)
                        WHEN {_M} <= 8 THEN 'upd' || CAST(user_id AS VARCHAR)
                        ELSE NULL END AS name,
                   CASE WHEN {_M} <= 6 THEN user_id * 7 ELSE NULL END AS volume,
                   CASE WHEN {_M} <= 6 THEN (user_id % 2 = 0) ELSE NULL END AS active,
                   CASE WHEN {_M} <= 6 THEN 'insert' WHEN {_M} <= 8 THEN 'update' ELSE 'delete' END AS operation,
                   event_id * 2 AS source_ts_ms, event_id * 3 AS ts_ms
            FROM events""",
        "cdc_offset_discovery": "SELECT COALESCE(MAX(event_id), -1) AS last_offset FROM events",
        "cdc_incremental_scan": "SELECT event_id, user_id, value FROM events WHERE event_id > 9000",
        "cdc_gap_wait": """
            WITH present AS (
                SELECT event_id, user_id, value FROM events
                WHERE event_id % 509 <> 17
            ),
            islands AS (
                SELECT event_id, user_id, value,
                       event_id - ROW_NUMBER() OVER (ORDER BY event_id)
                           AS island
                FROM present
            )
            SELECT event_id, user_id, value,
                   CAST(DENSE_RANK() OVER (ORDER BY island) AS INTEGER)
                       AS phase
            FROM islands
        """,
        "cdc_insert_into": """
            SELECT * FROM customer
            UNION ALL
            SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal, c_mktsegment
            FROM customer WHERE c_custkey <= 100""",
        "cdc_update_on": """
            SELECT c_custkey, c_name, c_nationkey,
                   CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS c_acctbal,
                   CASE WHEN c_custkey % 7 = 0 THEN 'UPDATED' ELSE c_mktsegment END AS c_mktsegment
            FROM customer""",
        "cdc_delete_on": "SELECT * FROM customer WHERE c_custkey % 5 <> 0",
        "cdc_apply_changelog": """
            SELECT c_custkey,
                   CASE WHEN c_custkey % 4 = 0 THEN 'upd_' || c_name ELSE c_name END AS c_name,
                   c_nationkey, c_acctbal, c_mktsegment
            FROM customer WHERE c_custkey % 4 <> 1
            UNION ALL
            SELECT c_custkey + 2000000, c_name, c_nationkey, c_acctbal, c_mktsegment
            FROM customer WHERE c_custkey <= 50""",
        "cdc_history_scd2": """
            SELECT user_id,
                   CASE WHEN op = 'delete' THEN NULL ELSE event_type END AS event_type,
                   CASE WHEN op = 'delete' THEN NULL ELSE value END AS value,
                   op = 'delete' AS is_deleted,
                   valid_from,
                   lead(valid_from) OVER w AS valid_to,
                   (lead(valid_from) OVER w IS NULL AND op <> 'delete') AS is_current
            FROM (SELECT user_id, event_type, value, event_id * 3 AS valid_from,
                         CASE WHEN event_id % 10 <= 6 THEN 'insert'
                              WHEN event_id % 10 <= 8 THEN 'update'
                              ELSE 'delete' END AS op
                  FROM events)
            WINDOW w AS (PARTITION BY user_id ORDER BY valid_from)""",
        "cdc_temporal_lookup": """
            WITH hist AS (
              SELECT user_id,
                     CASE WHEN op = 'delete' THEN NULL ELSE event_type END AS event_type,
                     CASE WHEN op = 'delete' THEN NULL ELSE value END AS value,
                     op = 'delete' AS is_deleted,
                     valid_from, lead(valid_from) OVER w AS valid_to
              FROM (SELECT user_id, event_type, value, event_id * 3 AS valid_from,
                           CASE WHEN event_id % 10 <= 6 THEN 'insert'
                                WHEN event_id % 10 <= 8 THEN 'update'
                                ELSE 'delete' END AS op
                    FROM events)
              WINDOW w AS (PARTITION BY user_id ORDER BY valid_from)),
            facts AS (
              SELECT event_id AS fid, user_id, event_id * 3 + 1 AS t
              FROM events WHERE event_id % 7 = 0)
            SELECT f.fid, f.user_id, f.t,
                   CASE WHEN h.is_deleted THEN NULL ELSE h.event_type END AS event_type,
                   CASE WHEN h.is_deleted THEN NULL ELSE h.value END AS value
            FROM facts f
            LEFT JOIN hist h
              ON h.user_id = f.user_id AND h.valid_from <= f.t
                 AND (h.valid_to > f.t OR h.valid_to IS NULL)""",
        "rel_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   CAST(""" + rev + """ AS DOUBLE) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus""",
        "rel_shipping_priority": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   CAST(""" + rev + """ AS DOUBLE) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey LIMIT 10""",
        "rel_local_supplier_volume": """
            SELECT n_name, CAST(""" + rev + """ AS DOUBLE) AS revenue
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
            GROUP BY n_name""",
        "rel_top_orders_per_customer": """
            SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
              FROM orders) WHERE rn <= 2""",
        "rel_returnflag_rollup": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
        "rel_distinct_parts": """
            SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts
            FROM lineitem GROUP BY l_returnflag""",
        "rel_nations_except": """
            SELECT DISTINCT c_nationkey AS nationkey FROM customer
            EXCEPT
            SELECT DISTINCT s_nationkey AS nationkey FROM supplier""",
        "rel_nations_intersect": """
            SELECT DISTINCT c_nationkey AS nationkey FROM customer
            INTERSECT
            SELECT DISTINCT s_nationkey AS nationkey FROM supplier""",
        "rel_order_priority": """
            SELECT o_orderpriority, count(*) AS n_orders FROM orders
            WHERE EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey AND l_shipdate > DATE '1995-06-01')
            GROUP BY o_orderpriority""",
        "rel_salted_agg": """
            SELECT user_id, count(*) AS n,
                   CAST(sum(event_id) AS BIGINT) AS sum_eid
            FROM events GROUP BY user_id""",
        "rel_custdist": """
            SELECT c_count, count(*) AS custdist FROM (
              SELECT c.c_custkey, count(o.o_orderkey) AS c_count
              FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
              GROUP BY c.c_custkey)
            GROUP BY c_count""",
        "rel_small_qty_revenue": """
            SELECT p_brand,
                   CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem l
            JOIN (SELECT l_partkey AS pk,
                         sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
                         count(*) AS cnt
                  FROM lineitem GROUP BY l_partkey) a ON l.l_partkey = a.pk
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE CAST(l.l_quantity AS DECIMAL(18,2)) * 2 * a.cnt < a.sum_qty
            GROUP BY p_brand""",
        "rel_customers_without_orders": """
            SELECT c_mktsegment, count(*) AS n_customers,
                   CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
            FROM customer WHERE c_custkey NOT IN
                 (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
            GROUP BY c_mktsegment""",
        "rel_asof_join": f"""
            SELECT t.user_id, t.trade_time, t.trade_value, q.quote_time, q.quote_value
            FROM (SELECT user_id, event_id AS trade_time, value AS trade_value
                  FROM events WHERE event_id % 2 = 0) t
            ASOF LEFT JOIN
                 (SELECT user_id, event_id AS quote_time, value AS quote_value
                  FROM events WHERE event_id % 2 = 1) q
            ON t.user_id = q.user_id AND q.quote_time <= t.trade_time""",
        "rel_asof_forward": """
            SELECT t.user_id, t.trade_time, t.trade_value, q.quote_time, q.quote_value
            FROM (SELECT user_id, event_id AS trade_time, value AS trade_value
                  FROM events WHERE event_id % 2 = 0) t
            ASOF LEFT JOIN
                 (SELECT user_id, event_id AS quote_time, value AS quote_value
                  FROM events WHERE event_id % 2 = 1) q
            ON t.user_id = q.user_id AND q.quote_time >= t.trade_time""",
        "rel_salted_join": """
            SELECT e.event_id, e.user_id, c.c_mktsegment
            FROM events e JOIN customer c ON e.user_id = c.c_custkey""",
        "rel_json_props": """
            SELECT event_type,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                        AS BIGINT) AS sum_k,
                   count(*) AS n
            FROM events GROUP BY event_type""",
        "rel_scalar_funcs": """
            SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
                   substr(o_orderpriority, 1, 1) AS pri,
                   count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
            FROM orders GROUP BY 1, 2""",
        "rel_pattern_match": """
            SELECT user_id, purchase_id, purchase_value, click_id
            FROM (SELECT p.user_id, p.purchase_id, p.purchase_value, c.click_id
                  FROM (SELECT user_id, event_id AS purchase_id, value AS purchase_value
                        FROM events WHERE event_type = 'purchase') p
                  ASOF LEFT JOIN
                       (SELECT user_id, event_id AS click_id
                        FROM events WHERE event_type = 'click') c
                  ON p.user_id = c.user_id AND c.click_id <= p.purchase_id)
            WHERE click_id IS NOT NULL AND purchase_id - click_id <= 50""",
        "rel_percentiles": """
            SELECT event_type, quantile_cont(value, 0.5) AS p50,
                   quantile_cont(value, 0.9) AS p90, count(*) AS n
            FROM events GROUP BY event_type""",
        "rel_pattern_absent": """
            SELECT c.user_id, c.event_id AS click_id
            FROM events c
            WHERE c.event_type = 'click' AND NOT EXISTS (
                SELECT 1 FROM events p
                WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
                  AND p.event_id > c.event_id AND p.event_id <= c.event_id + 50)""",
        "rel_pattern_sequence": """
            SELECT user_id, event_id, event_type FROM (
                SELECT user_id, event_id, event_type,
                       sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                           OVER (PARTITION BY user_id ORDER BY event_id
                                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS run
                FROM events)
            WHERE run = 3""",
        "rel_pattern_both": """
            SELECT s.user_id, s.event_id AS signup_id, e.event_id AS error_id
            FROM events s JOIN events e
              ON e.user_id = s.user_id AND e.event_type = 'error'
             AND abs(e.event_id - s.event_id) <= 100
            WHERE s.event_type = 'signup'""",
        "rel_pattern_immediate": """
            SELECT user_id, event_id, event_type FROM (
                SELECT user_id, event_id, event_type,
                       lag(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                           OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ok
                FROM events)
            WHERE prev_ok = 1 AND event_type = 'purchase'""",
        "rel_rollup_multi": """
            SELECT event_type, CAST(g AS INT) AS granularity_sec,
                   (event_id // g) * g AS bucket_start,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
                   count(*) AS n_events,
                   min(value) AS min_value, max(value) AS max_value
            FROM events, (SELECT unnest([60, 600, 3600]) AS g)
            GROUP BY 1, 2, 3""",
        "rel_output_every_nth": """
            SELECT user_id, event_id, event_type, value FROM (
                SELECT user_id, event_id, event_type, value,
                       row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
                FROM events)
            WHERE rn % 10 = 0""",
        "rel_output_snapshot": """
            SELECT user_id, t, value, window_start FROM (
                SELECT user_id, event_id AS t, value,
                       (event_id // 500) * 500 AS window_start,
                       row_number() OVER (PARTITION BY user_id, event_id // 500
                                          ORDER BY event_id DESC) AS rn
                FROM events)
            WHERE rn = 1""",
        "rel_cube": """
            SELECT yr, o_orderpriority AS pri,
                   CAST(GROUPING(yr) AS INT) AS g_yr,
                   CAST(GROUPING(o_orderpriority) AS INT) AS g_pri,
                   count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
            FROM (SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
                         o_orderpriority, o_totalprice
                  FROM orders)
            GROUP BY CUBE (yr, o_orderpriority)""",
        "rel_range_join": """
            SELECT i.iid, count(p.o_orderkey) AS n_orders
            FROM (SELECT o_orderkey AS iid, o_orderdate AS lo,
                         o_orderdate + INTERVAL 13 DAY AS hi
                  FROM orders WHERE o_orderkey % 997 = 0) i
            LEFT JOIN orders p ON p.o_orderdate BETWEEN i.lo AND i.hi
            GROUP BY i.iid""",
        "rel_top_revenue_suppliers": """
            SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
            FROM (
              SELECT l_suppkey, """ + rev + """ AS total_revenue
              FROM lineitem GROUP BY l_suppkey)
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_revenue = (
              SELECT max(r) FROM (SELECT """ + rev + """ AS r FROM lineitem GROUP BY l_suppkey))""",
        "rel_supplier_counts_by_size": """
            SELECT p_size, count(DISTINCT l_suppkey) AS n_suppliers
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_suppkey NOT IN
                  (SELECT l_suppkey FROM lineitem WHERE l_orderkey % 4999 = 0)
            GROUP BY p_size""",
        "win_frequent": """
            SELECT user_id, event_type, n_occurrences FROM (
                SELECT user_id, event_type, count(*) AS n_occurrences,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY count(*) DESC, event_type ASC) AS rk
                FROM events GROUP BY user_id, event_type)
            WHERE rk <= 2""",
        "win_lossy_frequent": """
            WITH c AS (SELECT user_id, event_type, count(*) AS n_occurrences
                       FROM events GROUP BY 1, 2),
                 t AS (SELECT user_id, count(*) AS total FROM events GROUP BY 1)
            SELECT c.user_id, c.event_type, c.n_occurrences,
                   ROUND(CAST(c.n_occurrences AS DOUBLE) / t.total, 6)
                       AS support_frac
            FROM c JOIN t USING (user_id)
            WHERE c.n_occurrences >= t.total * 0.22""",
        "win_length": """
            SELECT user_id, event_id, value,
                   CAST(sum(CAST(value AS DECIMAL(18,2)))
                        OVER (PARTITION BY user_id ORDER BY event_id
                              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_sum,
                   count(*) OVER (PARTITION BY user_id ORDER BY event_id
                                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS run_n
            FROM events""",
        "win_length_batch": """
            SELECT user_id, batch_no,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS batch_sum,
                   count(*) AS batch_n
            FROM (SELECT user_id, value,
                         (row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1) // 5
                             AS batch_no
                  FROM events)
            GROUP BY user_id, batch_no""",
        "win_tumbling": """
            SELECT (event_id // 100) * 100 AS window_start, count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1""",
        "win_sliding": """
            SELECT ws AS window_start, count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM (SELECT ((event_id // 40) - unnest(generate_series(0, 2))) * 40 AS ws,
                         event_id, value
                  FROM events)
            WHERE event_id < ws + 100
            GROUP BY ws""",
        # Session semantics pinned by test: events exactly gap seconds apart
        # MERGE (inclusive); a strictly larger gap breaks the session.
        "win_session": """
            WITH s AS (
              SELECT user_id, event_id AS t,
                     CASE WHEN lag(event_id) OVER w IS NULL
                               OR event_id - lag(event_id) OVER w > 30
                          THEN 1 ELSE 0 END AS brk
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
            g AS (
              SELECT user_id, t,
                     sum(brk) OVER (PARTITION BY user_id ORDER BY t
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM s)
            SELECT user_id, min(t) AS session_start, count(*) AS n
            FROM g GROUP BY user_id, sid""",
        "win_unique": """
            SELECT event_id, user_id, event_type, value FROM (
                SELECT event_id, user_id, event_type, value,
                       row_number() OVER (PARTITION BY user_id, event_type
                                          ORDER BY event_id DESC) AS rn
                FROM events)
            WHERE rn = 1""",
        "win_first_unique": """
            SELECT event_id, user_id, event_type, value FROM (
                SELECT event_id, user_id, event_type, value,
                       row_number() OVER (PARTITION BY user_id, event_type
                                          ORDER BY event_id ASC) AS rn
                FROM events)
            WHERE rn = 1""",
        "win_sort": """
            SELECT event_id, user_id, value FROM (
                SELECT event_id, user_id, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY value DESC, event_id) AS rn
                FROM events)
            WHERE rn <= 3""",
        "win_delay": """
            SELECT event_id, user_id, value, event_id + 500 AS release_ts FROM (
                SELECT event_id, user_id, value,
                       max(event_id) OVER (PARTITION BY user_id) AS mx
                FROM events)
            WHERE event_id <= mx - 500""",
        "win_time_length": """
            SELECT event_id, user_id, value FROM (
                SELECT event_id, user_id, value,
                       max(event_id) OVER (PARTITION BY user_id) AS mx,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY event_id DESC) AS rn
                FROM events)
            WHERE event_id > mx - 300 AND rn <= 5""",
        "rel_pattern_or": """
            SELECT event_id, user_id, event_type,
                   CASE WHEN event_type = 'purchase' THEN 'first' ELSE 'second' END
                       AS matched_branch
            FROM events WHERE event_type IN ('purchase', 'error')""",
        "rel_pattern_runs": """
            WITH s AS (
              SELECT user_id, event_id, event_type,
                     row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
              FROM events),
            m AS (
              SELECT user_id, event_id,
                     rn - row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS isl
              FROM s WHERE event_type = 'click')
            SELECT user_id, min(event_id) AS run_start, max(event_id) AS run_end,
                   count(*) AS run_len
            FROM m GROUP BY user_id, isl
            HAVING count(*) BETWEEN 2 AND 4""",
        "llm_dedup_exact": f"SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY {_NORM}",
        "llm_curate": _curate_sql(),
        "llm_text_stats": _TEXT_STATS_SQL,
        "llm_lang_detect": _lang_detect_sql(),
        "llm_quality_score": _QUALITY_SQL,
        "llm_fingerprint": f"SELECT doc_id, md5({_NORM}) AS fp FROM documents",
        "llm_repetition": f"""
            SELECT doc_id,
                   round(1 - len(list_distinct(w))::DOUBLE / len(w), 6) AS dup_word_frac,
                   CASE WHEN len(w) >= 2
                        THEN round(1 - len(list_distinct(g))::DOUBLE / len(g), 6)
                        ELSE 0.0 END AS dup_bigram_frac
            FROM (
              SELECT doc_id, w,
                     list_transform(generate_series(1, len(w) - 1),
                                    j -> w[j] || ' ' || w[j + 1]) AS g
              FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents))""",
        "llm_stratified_sample": f"""
            SELECT doc_id, lang FROM documents
            WHERE (lang = 'de')
               OR (lang = 'en' AND substr(md5(doc_id::VARCHAR), 1, 8) < '{format(int(0.4 * 16**8), "08x")}')""",
        "llm_pii_scrub": r"""
            WITH dirty AS (
              SELECT doc_id,
                     '<p class="x">' || text || '</p> contact: user' || doc_id ||
                     '@example.com &amp; +1 (555) 000-' || doc_id ||
                     ' ip 10.0.0.' || (doc_id % 256) AS t
              FROM documents),
            stripped AS (
              SELECT doc_id,
                     trim(regexp_replace(regexp_replace(regexp_replace(t,
                       '<[^>]+>', ' ', 'g'),
                       '&[A-Za-z]+;|&#[0-9]+;', ' ', 'g'),
                       '\s+', ' ', 'g')) AS t
              FROM dirty)
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(t,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
                     '\+?\d[\d ().-]{6,}\d', '[PHONE]', 'g') AS clean
            FROM stripped""",
        "llm_top_ngrams": f"""
            SELECT ngram, count(*) AS n_occurrences FROM (
              SELECT w[j] || ' ' || w[j+1] AS ngram FROM (
                SELECT unnest(generate_series(1, len(w) - 1)) AS j, w FROM (
                  SELECT string_split({_NORM}, ' ') AS w FROM documents)))
            GROUP BY ngram ORDER BY n_occurrences DESC, ngram LIMIT 20""",
        "llm_label_centroids": (
            "SELECT label, count(*) AS n_vectors, "
            + ", ".join(
                f"round(CAST(sum(CAST(CAST(embedding[{i + 1}] AS DOUBLE) AS DECIMAL(28,9))) AS DOUBLE)"
                f" / count(*), 6) AS d{i}"
                for i in range(16)
            )
            + " FROM embeddings GROUP BY label"
        ),
        "llm_topk_cosine": """
            SELECT vec_id FROM (
              SELECT e.vec_id,
                     round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
                           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                              * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))), 6) AS score
              FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
              ORDER BY score DESC, e.vec_id LIMIT 10)""",
        "llm_bm25_topk": f"""
            WITH {_BM25_TOP10_CTE}
            SELECT doc_id, bm25,
                   CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                        AS INTEGER) AS rank
            FROM bm25_top ORDER BY rank""",
        # llm_bm25_probe: the maintained-index serving path is bit-identical
        # to the scan by construction, so its oracle IS the scan
        # restatement — the driver's value-hash equality is exactly the
        # probe==scan claim.
        "llm_bm25_probe": f"""
            WITH {_BM25_TOP10_CTE}
            SELECT doc_id, bm25,
                   CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                        AS INTEGER) AS rank
            FROM bm25_top ORDER BY rank""",
        # Hybrid RRF: dense top-10 (the llm_topk_cosine restatement, plus a
        # rank) fused with the BM25 top-10 by sum(1/(60+rank)) rounded to 9.
        "llm_hybrid_retrieval": f"""
            WITH {_BM25_TOP10_CTE},
            dense AS (
              SELECT vec_id AS doc_id,
                     CAST(row_number() OVER (ORDER BY score DESC, vec_id)
                          AS INTEGER) AS rank
              FROM (
                SELECT e.vec_id,
                       round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
                             / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                                * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))), 6) AS score
                FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
                ORDER BY score DESC, e.vec_id LIMIT 10)),
            lex AS (
              SELECT doc_id,
                     CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                          AS INTEGER) AS rank
              FROM bm25_top),
            uni AS (
              SELECT doc_id,
                     CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + rank) AS rr
              FROM dense
              UNION ALL
              SELECT doc_id,
                     CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + rank)
              FROM lex),
            fused AS (
              SELECT doc_id, CAST(round(sum(rr), 9) AS DOUBLE) AS rrf
              FROM uni GROUP BY doc_id
              ORDER BY rrf DESC, doc_id LIMIT 10)
            SELECT doc_id, rrf,
                   CAST(row_number() OVER (ORDER BY rrf DESC, doc_id)
                        AS INTEGER) AS rank
            FROM fused ORDER BY rank""",
        # DSIR: unigram+bigram features hashed into 1024 md5 buckets, add-one
        # smoothed target (lang='en') vs raw LMs, per-doc log-ratio sum.
        "llm_dsir_weights": f"""
            WITH {_DSIR_SCORED_CTE}
            SELECT ids.doc_id, s.dsir_weight, s.n_features
            FROM (SELECT DISTINCT doc_id FROM documents) ids
            LEFT JOIN scored s USING (doc_id)""",
        # Top-n resampling selection over the same weights (TakeOrdered;
        # featureless NULL-weight docs never selected).
        "llm_dsir_select": f"""
            WITH {_DSIR_SCORED_CTE}
            SELECT doc_id, dsir_weight, n_features
            FROM scored
            WHERE dsir_weight IS NOT NULL
            ORDER BY dsir_weight DESC, doc_id LIMIT 60""",
        # llm_hll_distinct: the oracle REBUILDS the HyperLogLog sketch —
        # same md5 preimage, same 12-bit bucket / 32-bit rho split, same
        # exact-integer harmonic sum (sum(2^(33-rho)) scaled by 2^33, so
        # the raw estimate is one division of exact operands) — and only
        # then the estimator. Register state is the contract, not just the
        # final number. (sketch.py:hll_registers / hll_estimate)
        "llm_hll_distinct": f"""
            WITH toks AS (
              SELECT lang,
                     unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS tok
              FROM documents),
            br AS (
              SELECT lang,
                     CAST(('0x' || substr(hx, 1, 3)) AS BIGINT) % 256 AS bucket,
                     CAST(('0x' || substr(hx, 4, 8)) AS BIGINT) AS v
              FROM (SELECT lang, md5('0' || chr(31) || tok) AS hx FROM toks)),
            regs AS (
              SELECT lang, bucket, max({_HLL_RHO_SQL}) AS max_rho
              FROM br GROUP BY lang, bucket),
            agg AS (
              SELECT lang, CAST(count(*) AS BIGINT) AS n_buckets_set,
                     CAST(sum(CAST(1 AS BIGINT) << (33 - max_rho)) AS BIGINT)
                       AS s_present
              FROM regs GROUP BY lang),
            est AS (
              SELECT lang, n_buckets_set,
                     {_HLL_NUM!r} / CAST(s_present
                         + (256 - n_buckets_set) * 8589934592 AS DOUBLE) AS raw,
                     256 - n_buckets_set AS zeros
              FROM agg)
            SELECT lang, n_buckets_set,
                   round(CASE WHEN raw <= 640.0 AND zeros > 0
                              THEN 256.0 * ln(256.0 / CAST(zeros AS DOUBLE))
                              ELSE raw END, 6) AS n_distinct_est
            FROM est""",
        # llm_cms_counts: rebuild the 512x4 count-min sketch (per-row md5
        # seed '0.d', 60-bit prefix mod width) and point-query it for the
        # top-8 exact tokens; min over the 4 rows, absent cells count 0.
        # llm_bloom_screen: bit set + probe through the same house
        # per-j-seed md5 family as the CMS oracle; bloom_hit = all k bits set.
        "llm_bloom_screen": f"""
            WITH toks AS (
              SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS tok
              FROM documents),
            kk AS (SELECT unnest([0, 1, 2]) AS j),
            bits AS (
              SELECT DISTINCT
                     CAST(('0x' || substr(md5('0.' || CAST(j AS VARCHAR)
                         || chr(31) || tok), 1, 15)) AS BIGINT) % 4096 AS bit
              FROM toks CROSS JOIN kk),
            top AS (
              SELECT tok FROM (
                SELECT tok, count(*) AS c FROM toks
                GROUP BY tok ORDER BY c DESC, tok LIMIT 8)),
            probes AS (
              SELECT tok FROM top
              UNION ALL
              SELECT unnest(['zz-never-ingested-a', 'zz-never-ingested-b']) AS tok),
            pb AS (
              SELECT p.tok, kk.j,
                     CAST(('0x' || substr(md5('0.' || CAST(kk.j AS VARCHAR)
                         || chr(31) || p.tok), 1, 15)) AS BIGINT) % 4096 AS bit
              FROM probes p CROSS JOIN kk)
            SELECT pb.tok,
                   (count(CASE WHEN b.bit IS NOT NULL THEN 1 END) = 3) AS bloom_hit
            FROM pb LEFT JOIN bits b USING (bit)
            GROUP BY pb.tok""",
        "llm_cms_counts": f"""
            WITH toks AS (
              SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS tok
              FROM documents),
            exact AS (
              SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt
              FROM toks GROUP BY tok),
            top AS (
              SELECT tok, exact_cnt FROM exact
              ORDER BY exact_cnt DESC, tok LIMIT 8),
            dd AS (SELECT unnest([0, 1, 2, 3]) AS d),
            sk AS (
              SELECT d,
                     CAST(('0x' || substr(md5('0.' || CAST(d AS VARCHAR)
                         || chr(31) || tok), 1, 15)) AS BIGINT) % 512 AS bucket,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM toks CROSS JOIN dd GROUP BY 1, 2),
            probes AS (
              SELECT t.tok, t.exact_cnt, dd.d,
                     CAST(('0x' || substr(md5('0.' || CAST(dd.d AS VARCHAR)
                         || chr(31) || t.tok), 1, 15)) AS BIGINT) % 512 AS bucket
              FROM top t CROSS JOIN dd)
            SELECT p.tok, p.exact_cnt,
                   CAST(min(coalesce(s.cnt, 0)) AS BIGINT) AS cms_est
            FROM probes p LEFT JOIN sk s USING (d, bucket)
            GROUP BY p.tok, p.exact_cnt""",
        # llm_kneser_ney: interpolated KN bigram (Chen & Goodman 1998
        # eq. 4.24, D = 0.75). Every statistic is an exact integer count of
        # the bigram vocabulary; the probability tree below matches
        # export.kneser_ney_logprob's association order token for token.
        "llm_kneser_ney": f"""
            WITH t AS (
              SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
              FROM documents),
            big AS (
              SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
              FROM (SELECT doc_id, toks,
                           unnest(generate_series(1, len(toks) - 1)) AS i
                    FROM t WHERE len(toks) >= 2)),
            vocab AS (
              SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
              FROM big GROUP BY w1, w2),
            lstats AS (
              SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                     CAST(count(*) AS BIGINT) AS n1p_w1
              FROM vocab GROUP BY w1),
            rstats AS (
              SELECT w2, CAST(count(*) AS BIGINT) AS n1p_w2
              FROM vocab GROUP BY w2),
            types AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM vocab),
            scored AS (
              SELECT doc_id,
                     round(avg(-ln(
                       (greatest(CAST(c12 AS DOUBLE) - 0.75, 0.0)
                          / CAST(c1 AS DOUBLE))
                       + (0.75 * CAST(n1p_w1 AS DOUBLE) / CAST(c1 AS DOUBLE))
                         * (CAST(n1p_w2 AS DOUBLE) / CAST(n_types AS DOUBLE))
                     )), 6) AS kn_nll,
                     CAST(count(*) AS BIGINT) AS n_bigrams
              FROM big JOIN vocab USING (w1, w2) JOIN lstats USING (w1)
                   JOIN rstats USING (w2) CROSS JOIN types
              GROUP BY doc_id)
            SELECT d.doc_id, s.kn_nll, s.n_bigrams
            FROM (SELECT DISTINCT doc_id FROM documents) d
            LEFT JOIN scored s USING (doc_id)""",
        # llm_kneser_ney_5gram: the full interpolated-KN recursion over
        # KenLM-style adjusted counts — a5 raw, a4..a1 distinct-predecessor
        # counts each derived from the order above, context sums/types per
        # order, one nested arithmetic tree in the engine's association
        # order. MATERIALIZED keeps DuckDB from re-inlining the hierarchy
        # per reference (the CTE chain is reused across joins).
        "llm_kneser_ney_5gram": f"""
            WITH t AS MATERIALIZED (
              SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
              FROM documents),
            g AS MATERIALIZED (
              SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3,
                     toks[i + 3] AS w4, toks[i + 4] AS w5
              FROM (SELECT doc_id, toks,
                           unnest(generate_series(1, len(toks) - 4)) AS i
                    FROM t WHERE len(toks) >= 5)),
            a5 AS MATERIALIZED (
              SELECT w1, w2, w3, w4, w5, CAST(count(*) AS BIGINT) AS a5
              FROM g GROUP BY w1, w2, w3, w4, w5),
            a4 AS MATERIALIZED (
              SELECT w2, w3, w4, w5, CAST(count(*) AS BIGINT) AS a4
              FROM a5 GROUP BY w2, w3, w4, w5),
            a3 AS MATERIALIZED (
              SELECT w3, w4, w5, CAST(count(*) AS BIGINT) AS a3
              FROM a4 GROUP BY w3, w4, w5),
            a2 AS MATERIALIZED (
              SELECT w4, w5, CAST(count(*) AS BIGINT) AS a2
              FROM a3 GROUP BY w4, w5),
            a1 AS MATERIALIZED (
              SELECT w5, CAST(count(*) AS BIGINT) AS a1 FROM a2 GROUP BY w5),
            c5 AS MATERIALIZED (
              SELECT w1, w2, w3, w4, CAST(sum(a5) AS BIGINT) AS s5,
                     CAST(count(*) AS BIGINT) AS t5
              FROM a5 GROUP BY w1, w2, w3, w4),
            c4 AS MATERIALIZED (
              SELECT w2, w3, w4, CAST(sum(a4) AS BIGINT) AS s4,
                     CAST(count(*) AS BIGINT) AS t4
              FROM a4 GROUP BY w2, w3, w4),
            c3 AS MATERIALIZED (
              SELECT w3, w4, CAST(sum(a3) AS BIGINT) AS s3,
                     CAST(count(*) AS BIGINT) AS t3
              FROM a3 GROUP BY w3, w4),
            c2 AS MATERIALIZED (
              SELECT w4, CAST(sum(a2) AS BIGINT) AS s2,
                     CAST(count(*) AS BIGINT) AS t2
              FROM a2 GROUP BY w4),
            s1 AS (SELECT CAST(sum(a1) AS BIGINT) AS S1 FROM a1),
            lm AS MATERIALIZED (
              SELECT w1, w2, w3, w4, w5,
                (greatest(CAST(a5 AS DOUBLE) - 0.75, 0.0) / CAST(s5 AS DOUBLE))
                + (0.75 * CAST(t5 AS DOUBLE) / CAST(s5 AS DOUBLE)) * (
                  (greatest(CAST(a4 AS DOUBLE) - 0.75, 0.0) / CAST(s4 AS DOUBLE))
                  + (0.75 * CAST(t4 AS DOUBLE) / CAST(s4 AS DOUBLE)) * (
                    (greatest(CAST(a3 AS DOUBLE) - 0.75, 0.0) / CAST(s3 AS DOUBLE))
                    + (0.75 * CAST(t3 AS DOUBLE) / CAST(s3 AS DOUBLE)) * (
                      (greatest(CAST(a2 AS DOUBLE) - 0.75, 0.0) / CAST(s2 AS DOUBLE))
                      + (0.75 * CAST(t2 AS DOUBLE) / CAST(s2 AS DOUBLE))
                        * (CAST(a1 AS DOUBLE) / CAST(S1 AS DOUBLE))))) AS p
              FROM a5 JOIN c5 USING (w1, w2, w3, w4)
                   JOIN a4 USING (w2, w3, w4, w5) JOIN c4 USING (w2, w3, w4)
                   JOIN a3 USING (w3, w4, w5) JOIN c3 USING (w3, w4)
                   JOIN a2 USING (w4, w5) JOIN c2 USING (w4)
                   JOIN a1 USING (w5) CROSS JOIN s1),
            scored AS (
              SELECT doc_id, round(avg(-ln(p)), 6) AS kn_nll,
                     CAST(count(*) AS BIGINT) AS n_ngrams
              FROM g JOIN lm USING (w1, w2, w3, w4, w5)
              GROUP BY doc_id)
            SELECT d.doc_id, s.kn_nll, s.n_ngrams
            FROM (SELECT DISTINCT doc_id FROM documents) d
            LEFT JOIN scored s USING (doc_id)""",
        # llm_quantile_sketch: bucket clamp, cumulative window, linear
        # interpolation — the estimator arithmetic restated term for term
        # (w = 16.0 exactly representable, so lo + w*(b + frac) matches
        # bit-for-bit before the round-6).
        "llm_quantile_sketch": """
            WITH v AS (
              SELECT CAST(length(text) AS DOUBLE) AS x
              FROM documents WHERE text IS NOT NULL),
            h AS (
              SELECT CAST(least(255, greatest(0,
                       CAST(floor((x - 0.0) / 16.0) AS BIGINT))) AS INT) AS bucket,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM v GROUP BY 1),
            c AS (
              SELECT bucket, cnt,
                     CAST(sum(cnt) OVER (ORDER BY bucket
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum,
                     (SELECT CAST(sum(cnt) AS BIGINT) FROM h) AS n
              FROM h WHERE cnt > 0),
            qs AS (SELECT CAST(unnest([0.1, 0.25, 0.5, 0.75, 0.9, 0.99]) AS DOUBLE) AS q),
            hit AS (
              SELECT q, bucket, cnt, cum, n FROM (
                SELECT q, bucket, cnt, cum, n,
                       row_number() OVER (PARTITION BY q ORDER BY bucket) AS rn
                FROM qs JOIN c ON CAST(cum AS DOUBLE) >= q * CAST(n AS DOUBLE))
              WHERE rn = 1)
            SELECT q,
                   round(0.0 + 16.0 * (CAST(bucket AS DOUBLE)
                     + (q * CAST(n AS DOUBLE) - CAST(cum - cnt AS DOUBLE))
                       / CAST(cnt AS DOUBLE)), 6) AS estimate
            FROM hit ORDER BY q""",
        # llm_unigram_lm / llm_unigram_encode: the whole SentencePiece-style
        # hard-EM trainer (and the encode composite on top of it) restated
        # as generated CTE chains — one MATERIALIZED CTE per Viterbi DP
        # level, scalar-subquery piece lookups, the same longest-piece tie
        # rule. See _unigram_train_ctes / _unigram_viterbi_ctes above.
        # llm_modified_kneser_ney: generated CTE chain — see _mkn_oracle_sql.
        "llm_modified_kneser_ney": _mkn_oracle_sql(3),
        "llm_unigram_lm": _unigram_train_oracle_sql(),
        "llm_unigram_encode": _unigram_encode_oracle_sql(),
        # llm_ivf_ann probes every inverted list (nprobe == nlist) → exact
        # top-k, so the brute-force oracle applies verbatim.
        "llm_ivf_ann": """
            SELECT vec_id FROM (
              SELECT e.vec_id,
                     round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
                           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                              * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))), 6) AS score
              FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
              ORDER BY score DESC, e.vec_id LIMIT 10)""",
        "llm_knn_join": """
            SELECT query_id, neighbor_id, score, rank FROM (
              SELECT query_id, neighbor_id, score,
                     CAST(row_number() OVER (PARTITION BY query_id
                                        ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank
              FROM (
                SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                       round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
                             / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                                * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))), 6) AS score
                FROM embeddings e,
                     (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 100 = 0) q))
            WHERE rank <= 5""",
        # llm_knn_join_probed: the nprobe < nlist scale path, checked
        # against a probe-aware oracle (generated above with centroid
        # literals) rather than brute force.
        "llm_knn_join_probed": _KNN_PROBED_SQL,
        # llm_ivf_probe_maintained_mut: probe-aware oracle over the
        # post-changelog corpus (centroid literals + the same stable-sorted
        # probe-cell list) — checks the maintained index's update/delete
        # apply path, not just the probe.
        "llm_ivf_probe_maintained_mut": _ivf_mut_oracle_sql(),
        # llm_knn_join_lsh: the sign-LSH blocking family, probe-aware oracle
        # with hyperplane literals.
        "llm_knn_join_lsh": _KNN_LSH_SQL,
        # llm_knn_join_bucketed probes every IVF cell (nprobe == nlist), so
        # the candidate set is the whole corpus and the brute-force kNN
        # oracle applies verbatim — same argument as llm_ivf_ann.
        "llm_knn_join_bucketed": """
            SELECT query_id, neighbor_id, score, rank FROM (
              SELECT query_id, neighbor_id, score,
                     CAST(row_number() OVER (PARTITION BY query_id
                                        ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank
              FROM (
                SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                       round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
                             / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                                * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))), 6) AS score
                FROM embeddings e,
                     (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 100 = 0) q))
            WHERE rank <= 5""",
        "llm_distinctive_terms": f"""
            WITH tok AS (
              SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS term FROM documents),
            tf AS (
              SELECT doc_id, term, count(*) AS tf FROM tok
              WHERE term <> '' GROUP BY doc_id, term),
            dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
            SELECT doc_id, term, tf, df, rank FROM (
              SELECT t.doc_id, t.term, t.tf, d.df,
                     CAST(row_number() OVER (PARTITION BY t.doc_id
                                        ORDER BY t.tf DESC, d.df ASC, t.term ASC)
                          AS INTEGER) AS rank
              FROM tf t JOIN dfq d USING (term))
            WHERE rank <= 3""",
        "llm_decontaminate": f"""
            WITH cw AS (SELECT doc_id, string_split({_NORM}, ' ') AS w
                        FROM documents WHERE doc_id % 97 <> 0),
            csh AS (SELECT DISTINCT doc_id, array_to_string(list_slice(w, j, j+2), ' ') AS sh
                    FROM (SELECT doc_id, w,
                                 unnest(generate_series(1, greatest(len(w)-2, 1))) AS j
                          FROM cw)),
            bw AS (SELECT doc_id, string_split({_NORM}, ' ') AS w
                   FROM documents WHERE doc_id % 97 = 0),
            bsh AS (SELECT DISTINCT doc_id AS bid, array_to_string(list_slice(w, j, j+2), ' ') AS sh
                    FROM (SELECT doc_id, w,
                                 unnest(generate_series(1, greatest(len(w)-2, 1))) AS j
                          FROM bw))
            SELECT c.doc_id, count(DISTINCT c.sh) AS n_shared,
                   count(DISTINCT b.bid) AS n_benchmark_docs
            FROM csh c JOIN bsh b ON c.sh = b.sh
            GROUP BY c.doc_id HAVING count(DISTINCT c.sh) >= 2""",
        "llm_paragraph_dedup": r"""
            WITH split AS (
              SELECT doc_id,
                     string_split(regexp_replace(text, ' table ', chr(10)||chr(10), 'g'),
                                  chr(10)||chr(10)) AS ps
              FROM documents),
            p AS (
              SELECT doc_id, CAST(j AS INTEGER) AS para_idx,
                     regexp_replace(trim(lower(ps[j])), '\s+', ' ', 'g') AS para
              FROM (SELECT doc_id, unnest(generate_series(1, len(ps))) AS j, ps FROM split)),
            ranked AS (
              SELECT doc_id, para_idx,
                     count(*) OVER (PARTITION BY para) AS n_copies,
                     row_number() OVER (PARTITION BY para ORDER BY doc_id, para_idx) AS rn
              FROM p WHERE para <> '')
            SELECT doc_id, para_idx, n_copies FROM ranked WHERE rn = 1""",
        # The P5 fixture pins dims to (4 + id % 13) × (4 + id % 7) and every
        # pixel to 1 + octet_length(text) % 127, so the decoded features have
        # this closed form (attach_ppm_payload ↔ _parse_netpbm round-trip):
        "llm_multimodal_decode": """
            SELECT doc_id AS id,
                   CAST(4 + doc_id % 13 AS INTEGER) AS width,
                   CAST(4 + doc_id % 7 AS INTEGER) AS height,
                   CAST(1 + octet_length(encode(text)) % 127 AS DOUBLE)
                       AS mean_intensity
            FROM documents WHERE doc_id < 200""",
        # The WAV fixture pins 1 + octet_length(text) % 400 constant samples
        # of amplitude 2048·((id % 16) − 8) at 8 kHz, so rms has the exact
        # power-of-two closed form |id%16 − 8| / 16:
        "llm_audio_decode": """
            SELECT doc_id AS id,
                   CAST(1 + octet_length(encode(text)) % 400 AS INTEGER)
                       AS n_samples,
                   ROUND(CAST(1 + octet_length(encode(text)) % 400 AS DOUBLE)
                         / 8000, 6) AS duration_s,
                   CAST(abs((doc_id % 16) - 8) AS DOUBLE) / 16 AS rms
            FROM documents WHERE doc_id < 200""",
        # All three URL variants collapse to the same canonical key, so the
        # group key has the closed form below regardless of doc_id % 3:
        "llm_url_dedup": """
            SELECT 'example' || (doc_id % 25) || '.com/path/' || (doc_id % 7)
                       AS canonical_url,
                   min(doc_id) AS doc_id,
                   count(*) AS n_copies
            FROM documents GROUP BY 1""",
        # Fixture lines: original text (unpunctuated), 'Second line here.'
        # (punctuated), and a doc_id%4 branch — so every count is closed-form
        # except line 1's own word count, which both engines split on ' ':
        "llm_c4_filters": """
            SELECT doc_id,
                   3 AS n_lines,
                   CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 2 END AS n_punct_lines,
                   CAST(CASE WHEN len(string_split(trim(text), ' ')) < 3
                             THEN 1 ELSE 0 END
                        + CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END
                        AS INTEGER) AS n_short_lines,
                   doc_id % 4 <> 0 AS c4_keep
            FROM documents WHERE length(trim(text)) > 0""",
        # Video fixture: 2 + id%4 frames, every 2nd sampled; frame f's
        # constant pixel is 1 + (octet_length(text) + f) % 127:
        "llm_video_frames": """
            SELECT doc_id * 100 + f AS id,
                   CAST(4 + doc_id % 13 AS INTEGER) AS width,
                   CAST(4 + doc_id % 7 AS INTEGER) AS height,
                   CAST(1 + (octet_length(encode(text)) + f) % 127 AS DOUBLE)
                       AS mean_intensity
            FROM (SELECT doc_id, text,
                         unnest(generate_series(0, CAST(1 + doc_id % 4 AS BIGINT), 2)) AS f
                  FROM documents WHERE doc_id < 200)""",
        # The strided-fold featurizer restated: reconstruct the P5 payload
        # string, sum byte values per position-mod-16 residue, L2-normalize.
        # Integer sums/squares are exact in float64, so the rounded
        # components compare bit-equal across engines:
        "llm_payload_embedding": """
            WITH base AS (
              SELECT doc_id,
                     'P5' || chr(10) || (4 + doc_id % 13) || ' '
                     || (4 + doc_id % 7) || chr(10) || '255' || chr(10)
                     || repeat(chr(CAST(1 + octet_length(encode(text)) % 127 AS INT)),
                               CAST((4 + doc_id % 13) * (4 + doc_id % 7) AS INT)) AS s
              FROM documents WHERE doc_id < 300),
            bytes AS (
              SELECT doc_id, (p - 1) % 16 AS i, ord(substr(s, CAST(p AS INT), 1)) AS v
              FROM (SELECT doc_id, s, unnest(generate_series(1, length(s))) AS p
                    FROM base)),
            sums AS (SELECT doc_id, i, sum(v) AS sv FROM bytes GROUP BY 1, 2),
            norms AS (SELECT doc_id, sqrt(sum(sv * sv)) AS n FROM sums GROUP BY 1)
            SELECT s.doc_id AS id,
                   """ + ",\n                   ".join(
                       f"round(max(CASE WHEN i = {i} THEN sv END) / any_value(n.n), 6) AS e{i}"
                       for i in range(16)
                   ) + """
            FROM sums s JOIN norms n ON s.doc_id = n.doc_id
            GROUP BY s.doc_id""",
        # llm_minhash_pairs / llm_near_dedup: the LSH banding itself is not
        # SQL-expressible, but on this corpus it has verified 100% recall at
        # the 0.7 threshold (smallest surviving jaccard 0.875 — far above the
        # banding S-curve's loss region), and the exact-Jaccard verify step
        # removes every false positive. The END STATE therefore has a closed
        # form: all pairs with exact 5-token-shingle Jaccard >= 0.7 over the
        # planted-clone corpus, and the canonical survivors of the connected
        # components over those pairs (min-label via recursive closure).
        # Shingle-hash Jaccard (Spark) equals shingle-string Jaccard (oracle)
        # up to 64-bit xxhash collisions (~n²/2⁶⁴ — none on this corpus).
        "llm_minhash_pairs": _MINHASH_PAIRS_CTE + """
            SELECT id_a, id_b, jaccard FROM pairs ORDER BY id_a, id_b""",
        "llm_near_dedup": _MINHASH_PAIRS_CTE + """,
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION
              SELECT id_b, id_a FROM pairs),
            reach(node, other) AS (
              SELECT src, dst FROM edges
              UNION
              SELECT r.node, e.dst FROM reach r
              JOIN edges e ON r.other = e.src AND e.dst <> r.node)
            SELECT doc_id FROM corpus
            WHERE doc_id NOT IN (
                SELECT node FROM reach GROUP BY node HAVING min(other) < node)
            ORDER BY doc_id""",
        # llm_ngram_pairs: same end-state argument as llm_minhash_pairs —
        # banding is not SQL, but its recall is 100% on this corpus and the
        # exact-Jaccard verify removes all false positives, so the end state
        # is the exact char-3-gram Jaccard >= 0.8 pair set (gram-hash Jaccard
        # equals gram-string Jaccard absent 64-bit collisions).
        "llm_ngram_pairs": _NGRAM_PAIRS_CTE + """
            SELECT id_a, id_b, jaccard FROM pairs ORDER BY id_a, id_b""",
        # llm_embedding_near_dup: identical planted clones always share every
        # sign-LSH bucket, and the fixture's max NATURAL cosine is ~0.51 at
        # every shipped sf (measured: 0.48 / 0.51 / 0.60 at sf0.001/0.01/0.1)
        # — far below the 0.99 threshold — so bucket recall is exact and the
        # end state is the all-pairs cosine >= 0.99 set.
        "llm_embedding_near_dup": """
            WITH corpus AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
              FROM embeddings
              UNION ALL
              SELECT vec_id + 10000000, CAST(embedding AS DOUBLE[]) AS embedding
              FROM embeddings WHERE vec_id < 5)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding, b.embedding), 6)
                     AS cosine
            FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.embedding, b.embedding), 6)
                    >= 0.99
            ORDER BY id_a, id_b""",
        # Training-data export family. stable_hash is md5-based precisely so
        # that shard assignment restates exactly outside Spark
        # (functions/export.py:42): DuckDB parses the same 15-hex-digit
        # prefix of md5(seed || 0x1f || id) as a 60-bit BIGINT.
        # llm_semantic_dedup: identical clones share every k-means cell, and
        # the fixture's max natural cosine is far below 0.99, so the cell
        # blocking is lossless and the end state is the all-pairs closure.
        "llm_semantic_dedup": _SEMANTIC_DEDUP_SQL,
        # llm_semantic_dedup_numpy: SAME end state, computed by the
        # vectorized per-cell BLAS engine — the oracle is shared because
        # the kept-id set is engine-independent on this fixture.
        "llm_semantic_dedup_numpy": _SEMANTIC_DEDUP_SQL,
        "llm_shard_for_training": f"""
            WITH h AS (
              SELECT doc_id, {_STABLE_HASH} AS hh FROM documents)
            SELECT doc_id, hh % 16 AS shard,
                   (row_number() OVER (PARTITION BY hh % 16
                                       ORDER BY hh, doc_id) - 1) AS shard_pos
            FROM h""",
        "llm_pack_sequences": f"""
            WITH t AS (
              SELECT doc_id,
                     CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS BIGINT)
                       AS n_tokens,
                     {_STABLE_HASH} % 8 AS shard
              FROM documents),
            c AS (
              SELECT doc_id, shard, n_tokens,
                     coalesce(sum(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS cum
              FROM t)
            SELECT doc_id, shard,
                   CAST(floor(cum / 512.0) AS BIGINT) AS seq_id,
                   CAST(cum % 512 AS BIGINT) AS seq_offset, n_tokens
            FROM c""",
        "llm_chunk_documents": """
            WITH n AS (
              SELECT doc_id, text,
                     CAST(greatest(ceil((length(text) - 80) / 320.0), 1) AS INT)
                       AS n_chunks
              FROM documents)
            SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_idx,
                   substr(text, CAST(u.i * 320 + 1 AS INT), 400) AS chunk_text
            FROM n, unnest(generate_series(0, n_chunks - 1)) AS u(i)""",
        "llm_unigram_logprob": f"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS tok
              FROM documents),
            vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
            tot AS (SELECT sum(cnt) AS total FROM vocab),
            scored AS (
              SELECT doc_id, round(avg(-ln(cnt / total)), 6) AS nll,
                     count(*) AS n_tokens
              FROM toks JOIN vocab USING (tok) CROSS JOIN tot
              GROUP BY doc_id)
            SELECT d.doc_id, s.nll, s.n_tokens
            FROM (SELECT DISTINCT doc_id FROM documents) d
            LEFT JOIN scored s USING (doc_id)""",
        # llm_cdc_pipeline: the composed end-to-end oracle — changelog
        # apply (same shape as cdc_apply_changelog), curation (same body as
        # llm_curate, re-sourced from the live table), then the portable
        # md5 shard/shuffle — checks the whole pipeline, not the stages in
        # isolation.
        "llm_cdc_pipeline": f"""
            WITH live AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 4 = 0 THEN text || ' updated'
                          ELSE text END AS text
              FROM documents WHERE doc_id % 4 <> 1
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50),
            cur AS ({_curate_sql(source="live")}),
            h AS (SELECT doc_id, {_STABLE_HASH} AS hh FROM cur)
            SELECT doc_id, hh % 8 AS shard,
                   (row_number() OVER (PARTITION BY hh % 8
                                       ORDER BY hh, doc_id) - 1) AS shard_pos
            FROM h""",
        # llm_perplexity_buckets: interpolation formulas differ by 1 ulp
        # across engines, which decides the boundary doc's bucket when a
        # cutoff lands exactly on a score value (seen at sf0.1) — both
        # sides therefore round cutoffs to 9 dp (far below the 6-dp score
        # precision, far above ulp noise) before comparing. NULL scores
        # (token-less docs) get NULL buckets in both engines.
        "llm_perplexity_buckets": f"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS tok
              FROM documents),
            vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
            tot AS (SELECT sum(cnt) AS total FROM vocab),
            scored AS (
              SELECT doc_id, round(avg(-ln(cnt / total)), 6) AS nll
              FROM toks JOIN vocab USING (tok) CROSS JOIN tot
              GROUP BY doc_id),
            full_scored AS (
              SELECT d.doc_id, d.lang, s.nll
              FROM documents d LEFT JOIN scored s USING (doc_id)),
            cuts AS (
              SELECT lang,
                     list_transform(quantile_cont(nll, [1.0/3.0, 2.0/3.0]),
                                    x -> round(x, 9)) AS c
              FROM full_scored GROUP BY lang)
            SELECT f.doc_id, f.lang, f.nll,
                   CASE WHEN f.nll IS NULL THEN NULL
                        WHEN f.nll <= c[1] THEN 'head'
                        WHEN f.nll <= c[2] THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM full_scored f JOIN cuts USING (lang)""",
        # llm_bigram_logprob: the corpus-trained bigram LM has no unseen
        # document bigrams (count >= 1 by construction), so the exact MLE
        # restates without smoothing; c(w1,.) is the sum of bigram counts
        # per first token in BOTH engines.
        "llm_bigram_logprob": f"""
            WITH t AS (
              SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
              FROM documents),
            big AS (
              SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
              FROM (SELECT doc_id, toks,
                           unnest(generate_series(1, len(toks) - 1)) AS i
                    FROM t WHERE len(toks) >= 2)),
            vocab AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
            ctx AS (SELECT w1, sum(c12) AS c1 FROM vocab GROUP BY w1),
            scored AS (
              SELECT doc_id, round(avg(-ln(c12 / c1)), 6) AS bigram_nll,
                     count(*) AS n_bigrams
              FROM big JOIN vocab USING (w1, w2) JOIN ctx USING (w1)
              GROUP BY doc_id)
            SELECT d.doc_id, s.bigram_nll, s.n_bigrams
            FROM (SELECT DISTINCT doc_id FROM documents) d
            LEFT JOIN scored s USING (doc_id)""",
        "llm_trigram_logprob": _ngram_logprob_oracle_sql(3),
        "llm_5gram_logprob": _ngram_logprob_oracle_sql(5),
        # llm_gopher_quality: every metric is a closed-form list expression
        # over whitespace-split words / newline-split lines; Spark's split
        # keeps empties (filtered in both engines), int/int division is
        # float division in both, and the stop-word count filters the
        # 8-word literal list by membership in the lowered word list.
        "llm_gopher_quality": """
            WITH w AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(text, '\\s+'),
                                 x -> x != '') AS words,
                     list_filter(string_split(text, chr(10)),
                                 ln -> trim(ln) != '') AS lines,
                     (len(string_split(text, '#')) - 1
                      + len(string_split(text, '…')) - 1
                      + len(regexp_split_to_array(text, '\\.\\.\\.')) - 1)
                       AS n_symbols
              FROM documents),
            m AS (
              SELECT doc_id,
                     CAST(len(words) AS INTEGER) AS g_n_words,
                     greatest(len(words), 1) AS safe_n,
                     greatest(len(lines), 1) AS safe_l,
                     -- coalesce: DuckDB list_sum([]) is NULL, Spark's
                     -- F.aggregate with a 0 seed yields 0.0 — a zero-word
                     -- document must score 0 in both engines.
                     round(CAST(coalesce(
                                  list_sum(list_transform(words, x -> length(x))),
                                  0)
                                AS DOUBLE) / greatest(len(words), 1), 6)
                       AS g_mean_word_len,
                     round(CAST(n_symbols AS DOUBLE) / greatest(len(words), 1), 6)
                       AS g_symbol_ratio,
                     round(CAST(len(list_filter(lines,
                              ln -> regexp_matches(trim(ln), '^[-*•]')))
                            AS DOUBLE) / greatest(len(lines), 1), 6)
                       AS g_bullet_frac,
                     round(CAST(len(list_filter(lines,
                              ln -> regexp_matches(rtrim(ln), '(\\.\\.\\.|…)$')))
                            AS DOUBLE) / greatest(len(lines), 1), 6)
                       AS g_ellipsis_frac,
                     round(CAST(len(list_filter(words,
                              x -> regexp_matches(x, '[A-Za-z]')))
                            AS DOUBLE) / greatest(len(words), 1), 6)
                       AS g_alpha_frac,
                     CAST(len(list_filter(
                              ['the','be','to','of','and','that','have','with'],
                              s -> list_contains(
                                list_transform(words, x -> lower(x)), s)))
                          AS INTEGER) AS g_n_stopwords
              FROM w)
            SELECT doc_id, g_n_words, g_mean_word_len, g_symbol_ratio,
                   g_bullet_frac, g_ellipsis_frac, g_alpha_frac, g_n_stopwords,
                   (g_n_words >= 50 AND g_n_words <= 100000
                    AND g_mean_word_len >= 3 AND g_mean_word_len <= 10
                    AND g_symbol_ratio <= 0.1 AND g_bullet_frac <= 0.9
                    AND g_ellipsis_frac <= 0.3 AND g_alpha_frac >= 0.8
                    AND g_n_stopwords >= 2) AS gopher_keep
            FROM m""",
        # llm_duplicate_spans: md5 window hashes restate byte-for-byte; the
        # HAVING >= 2 set joins back to the window table in both engines.
        "llm_duplicate_spans": f"""
            WITH t AS (
              SELECT doc_id,
                     regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
              FROM documents),
            w AS (
              SELECT doc_id, CAST(i AS INT) AS pos,
                     md5(array_to_string(toks[i : i + 29], ' ')) AS h
              FROM (SELECT doc_id, toks,
                           unnest(generate_series(1, len(toks) - 29)) AS i
                    FROM t WHERE len(toks) >= 30)
              WHERE CAST(('0x' || substr(md5(toks[i]), 1, 15)) AS BIGINT)
                    % 15 = 0),
            d AS (SELECT h, count(*) AS n_copies FROM w GROUP BY h
                  HAVING count(*) >= 2)
            SELECT w.doc_id, w.pos, CAST(d.n_copies AS BIGINT) AS n_copies
            FROM w JOIN d USING (h)""",
        # llm_duplicate_spans_maximal: EVERY 16-token window hashed (no
        # anchor), duplicated positions -> maximal runs by gaps-and-islands
        # (pos - row_number per doc); run boundaries exact for every
        # duplication of >= 16 tokens.
        "llm_duplicate_spans_maximal": f"""
            WITH t AS (
              SELECT doc_id,
                     regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
              FROM documents),
            w AS (
              SELECT doc_id, CAST(i AS INT) AS pos,
                     md5(array_to_string(toks[i : i + 15], ' ')) AS h
              FROM (SELECT doc_id, toks,
                           unnest(generate_series(1, len(toks) - 15)) AS i
                    FROM t WHERE len(toks) >= 16)),
            d AS (SELECT h FROM w GROUP BY h HAVING count(*) >= 2),
            m AS (
              SELECT w.doc_id, w.pos,
                     w.pos - CAST(row_number() OVER (
                       PARTITION BY w.doc_id ORDER BY w.pos) AS INT) AS g
              FROM w JOIN d USING (h)),
            runs AS (
              SELECT doc_id, min(pos) AS s,
                     min(pos) + count(*) + 14 AS e
              FROM m GROUP BY doc_id, g),
            brks AS (
              SELECT doc_id, s, e,
                     CASE WHEN s > coalesce(max(e) OVER (
                            PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), -2147483648) + 1
                          THEN 1 ELSE 0 END AS brk
              FROM runs),
            grps AS (
              SELECT doc_id, s, e,
                     sum(brk) OVER (PARTITION BY doc_id ORDER BY s) AS grp
              FROM brks)
            SELECT doc_id, CAST(min(s) AS INT) AS span_start,
                   CAST(max(e) - min(s) + 1 AS BIGINT) AS span_len
            FROM grps GROUP BY doc_id, grp""",
        # llm_decontaminate_spans: train windows marked by membership in the
        # benchmark window-hash set, then the same island + interval-merge
        # chain as the maximal-span oracle.
        "llm_decontaminate_spans": f"""
            WITH tr AS (
              SELECT doc_id,
                     regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
              FROM documents WHERE doc_id % 7 <> 0),
            be AS (
              SELECT doc_id,
                     regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
              FROM documents WHERE doc_id % 7 = 0),
            w AS (
              SELECT doc_id, CAST(i AS INT) AS pos,
                     md5(array_to_string(toks[i : i + 15], ' ')) AS h
              FROM (SELECT doc_id, toks,
                           unnest(generate_series(1, len(toks) - 15)) AS i
                    FROM tr WHERE len(toks) >= 16)),
            bh AS (
              SELECT DISTINCT md5(array_to_string(toks[i : i + 15], ' ')) AS h
              FROM (SELECT toks,
                           unnest(generate_series(1, len(toks) - 15)) AS i
                    FROM be WHERE len(toks) >= 16)),
            m AS (
              SELECT w.doc_id, w.pos,
                     w.pos - CAST(row_number() OVER (
                       PARTITION BY w.doc_id ORDER BY w.pos) AS INT) AS g
              FROM w JOIN bh USING (h)),
            runs AS (
              SELECT doc_id, min(pos) AS s,
                     min(pos) + count(*) + 14 AS e
              FROM m GROUP BY doc_id, g),
            brks AS (
              SELECT doc_id, s, e,
                     CASE WHEN s > coalesce(max(e) OVER (
                            PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), -2147483648) + 1
                          THEN 1 ELSE 0 END AS brk
              FROM runs),
            grps AS (
              SELECT doc_id, s, e,
                     sum(brk) OVER (PARTITION BY doc_id ORDER BY s) AS grp
              FROM brks)
            SELECT doc_id, CAST(min(s) AS INT) AS span_start,
                   CAST(max(e) - min(s) + 1 AS BIGINT) AS span_len
            FROM grps GROUP BY doc_id, grp""",
        # llm_dedup_substrings: the maximal-span chain above + the removal
        # rewrite — covered positions per doc, token stream re-joined with
        # the survivors (list comprehension in DuckDB, filter+transform in
        # Spark; both engines lowercase + single-space re-join).
        "llm_dedup_substrings": f"""
            WITH t AS (
              SELECT doc_id,
                     regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
              FROM documents),
            w AS (
              SELECT doc_id, CAST(i AS INT) AS pos,
                     md5(array_to_string(toks[i : i + 15], ' ')) AS h
              FROM (SELECT doc_id, toks,
                           unnest(generate_series(1, len(toks) - 15)) AS i
                    FROM t WHERE len(toks) >= 16)),
            d AS (SELECT h FROM w GROUP BY h HAVING count(*) >= 2),
            m AS (
              SELECT w.doc_id, w.pos,
                     w.pos - CAST(row_number() OVER (
                       PARTITION BY w.doc_id ORDER BY w.pos) AS INT) AS g
              FROM w JOIN d USING (h)),
            runs AS (
              SELECT doc_id, min(pos) AS s,
                     min(pos) + count(*) + 14 AS e
              FROM m GROUP BY doc_id, g),
            brks AS (
              SELECT doc_id, s, e,
                     CASE WHEN s > coalesce(max(e) OVER (
                            PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), -2147483648) + 1
                          THEN 1 ELSE 0 END AS brk
              FROM runs),
            grps AS (
              SELECT doc_id, s, e,
                     sum(brk) OVER (PARTITION BY doc_id ORDER BY s) AS grp
              FROM brks),
            spans AS (
              SELECT doc_id, min(s) AS s, max(e) AS e
              FROM grps GROUP BY doc_id, grp),
            covs AS (
              SELECT doc_id, flatten(list(generate_series(s, e))) AS cov
              FROM spans GROUP BY doc_id)
            SELECT t.doc_id,
                   coalesce(array_to_string(
                     [t.toks[CAST(p AS INT)]
                      for p in generate_series(1, len(t.toks))
                      if c.cov IS NULL OR NOT list_contains(c.cov, p)],
                     ' '), '') AS text_out,
                   CAST(CASE WHEN c.cov IS NULL THEN 0
                             ELSE len(c.cov) END AS BIGINT)
                     AS n_removed_tokens
            FROM t LEFT JOIN covs c USING (doc_id)""",
        # llm_temperature_mixture: weights recomputed from counts with pow;
        # the rest is the mixture_sample threshold pipeline verbatim.
        "llm_temperature_mixture": f"""
            WITH docs AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 10 < 7 THEN 'big'
                          WHEN doc_id % 10 < 9 THEN 'mid'
                          ELSE 'small' END AS domain
              FROM documents),
            counts AS (
              SELECT domain AS dom, count(*) AS n FROM docs GROUP BY 1),
            wsum AS (SELECT sum(pow(n, 0.5)) AS s FROM counts),
            weighted AS (
              SELECT dom, n, pow(n, 0.5) / (SELECT s FROM wsum) AS wt
              FROM counts),
            tot AS (SELECT min(n / wt) AS t FROM weighted),
            rates AS (
              SELECT dom,
                     CAST(round(least(1.0, wt * t / n) * 1000000) AS BIGINT)
                       AS thr
              FROM weighted CROSS JOIN tot)
            SELECT d.doc_id, d.domain
            FROM docs d JOIN rates r ON d.domain = r.dom
            WHERE {_STABLE_HASH.replace("doc_id", "d.doc_id")} % 1000000 < r.thr""",
        # llm_bpe_pairs: word-frequency table -> per-word adjacent pairs
        # weighted by frequency; count-desc + lexicographic = total order.
        "llm_bpe_pairs": """
            WITH words AS (
              SELECT w, count(*) AS freq FROM (
                SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
                FROM documents)
              GROUP BY w HAVING length(w) >= 2),
            pairs AS (
              SELECT substr(w, CAST(u.i AS INT), 1) AS l,
                     substr(w, CAST(u.i AS INT) + 1, 1) AS r, freq
              FROM words, unnest(generate_series(1, length(w) - 1)) AS u(i))
            SELECT l AS "left", r AS "right",
                   CAST(sum(freq) AS BIGINT) AS pair_count
            FROM pairs GROUP BY 1, 2
            ORDER BY pair_count DESC, "left", "right" LIMIT 50""",
        # llm_rag_pipeline: the whole chunk->embed->retrieve pipeline has a
        # closed form because the corpus is ASCII (ord(char) == byte) and
        # the featurizer spec is a strided byte fold; components round to 6
        # BEFORE the cosine, exactly like extract_embedding.
        "llm_rag_pipeline": _rag_pipeline_oracle_sql(),
        # llm_image_near_dup: the 18x16 fixture is block-constant over an
        # 8x9 cell grid, so the area-mean thumbnail recovers the integer
        # cell values exactly and each dHash bit is v(i,j+1) > v(i,j); the
        # oracle rebuilds the 64-bit hash per doc (bit 63 via the signed
        # MIN_LONG literal, mirroring the Python sign-bit cast) and does a
        # naive all-pairs hamming check — quadratic is fine for an oracle.
        "llm_image_near_dup": """
            WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
            v AS (
              SELECT doc_id, gi.i, gj.j,
                     ((CAST(doc_id // 50 AS BIGINT) * 37
                       + CAST(doc_id // 50 // 113 AS BIGINT)
                         * (gi.i * 17 + gj.j * 5 + 3)
                       + gi.i * 13 + gj.j * 29) % 113
                      + CASE WHEN gi.i = 3 AND gj.j = 4 AND doc_id % 7 = 0
                             THEN 57 ELSE 0 END
                      + CASE WHEN ((gi.i = 1 AND gj.j = 2) OR
                                   (gi.i = 6 AND gj.j = 5))
                                  AND doc_id % 11 = 0
                             THEN 23 ELSE 0 END) % 113 + 1 AS val
              FROM d, unnest(generate_series(0, 7)) AS gi(i),
                      unnest(generate_series(0, 8)) AS gj(j)),
            h AS (
              SELECT a.doc_id,
                     bit_or(CASE WHEN b.val > a.val THEN
                              CASE WHEN a.i * 8 + a.j = 63
                                   THEN -9223372036854775808
                                   ELSE (1::BIGINT << (a.i * 8 + a.j)) END
                            ELSE 0 END) AS dh
              FROM v a JOIN v b
                ON a.doc_id = b.doc_id AND a.i = b.i AND b.j = a.j + 1
              WHERE a.j < 8
              GROUP BY a.doc_id)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.dh, b.dh)) AS INT) AS hamming
            FROM h a JOIN h b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.dh, b.dh)) <= 3""",
        # llm_chunk_tokens: 64-token windows, stride 48; DuckDB 1-based
        # inclusive list slices restate Spark's F.slice(toks, p, L) as
        # toks[p : p+L-1], and both engines truncate past-the-end slices.
        "llm_chunk_tokens": f"""
            WITH t AS (
              SELECT doc_id, regexp_extract_all(text, '{TOKEN_RE}') AS toks
              FROM documents),
            n AS (
              SELECT doc_id, toks,
                     CAST(greatest(ceil((len(toks) - 16) / 48.0), 1) AS INT)
                       AS n_chunks
              FROM t)
            SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_idx,
                   array_to_string(toks[u.i * 48 + 1 : u.i * 48 + 64], ' ')
                     AS chunk_text,
                   CAST(len(toks[u.i * 48 + 1 : u.i * 48 + 64]) AS BIGINT)
                     AS chunk_tokens
            FROM n, unnest(generate_series(0, n_chunks - 1)) AS u(i)""",
        # llm_mixture_sample: the normalized weights (0.5/0.25/0.125/0.125)
        # are exact binary doubles, so Spark's literal map and the VALUES
        # table below hold identical values; T = min(n/w) and the per-domain
        # keep threshold are the same IEEE-double expressions in both
        # engines, and the keep hash is the portable md5 stable_hash.
        "llm_mixture_sample": f"""
            WITH counts AS (
              SELECT source AS dom, count(*) AS n FROM documents GROUP BY source),
            w(dom, wt) AS (VALUES ('src0', 0.5::DOUBLE), ('src1', 0.25::DOUBLE),
                                  ('src2', 0.125::DOUBLE), ('src3', 0.125::DOUBLE)),
            weighted AS (
              SELECT c.dom, c.n, w.wt FROM counts c JOIN w USING (dom)),
            tot AS (SELECT min(n / wt) AS t FROM weighted),
            rates AS (
              SELECT dom,
                     CAST(round(least(1.0, wt * t / n) * 1000000) AS BIGINT) AS thr
              FROM weighted CROSS JOIN tot)
            SELECT d.doc_id, d.source
            FROM documents d JOIN rates r ON d.source = r.dom
            WHERE {_STABLE_HASH.replace("doc_id", "d.doc_id")} % 1000000 < r.thr""",
        # llm_simhash_pairs: EXACT. The contract query runs the portable
        # simhash (md5-chunk token hash), whose 64-bit signature restates
        # verbatim in SQL; the Spark side's 4x16-bit-chunk pigeonhole
        # blocking has GUARANTEED 100% recall for hamming <= 3 (any pair
        # differing in <= 3 of 64 bits shares at least one exact 16-bit
        # chunk), so the all-pairs oracle computes the identical end state.
        # Signatures are built chunk-wise (four 16-bit ints) to sidestep
        # 64-bit sign-bit arithmetic; hamming = sum of per-chunk
        # bit_count(xor), equal to the Spark side's single 64-bit xor.
        "llm_simhash_pairs": f"""
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 10000000, text || ' zz'
              FROM documents WHERE doc_id < 5),
            toks AS (
              SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok
              FROM corpus),
            votes AS (
              SELECT doc_id, i.i AS bit,
                     sum(CASE WHEN (CAST(('0x' || substr(md5(tok),
                                          1 + 4 * (i.i // 16), 4)) AS INT)
                                    >> (i.i % 16)) & 1 = 1
                              THEN 1 ELSE -1 END) AS v
              FROM toks, unnest(generate_series(0, 63)) AS i(i)
              GROUP BY doc_id, i.i),
            sig AS (
              SELECT doc_id,
                     sum(CASE WHEN bit // 16 = 0 AND v > 0
                              THEN (1 << (bit % 16)) ELSE 0 END) AS c0,
                     sum(CASE WHEN bit // 16 = 1 AND v > 0
                              THEN (1 << (bit % 16)) ELSE 0 END) AS c1,
                     sum(CASE WHEN bit // 16 = 2 AND v > 0
                              THEN (1 << (bit % 16)) ELSE 0 END) AS c2,
                     sum(CASE WHEN bit // 16 = 3 AND v > 0
                              THEN (1 << (bit % 16)) ELSE 0 END) AS c3
              FROM votes GROUP BY doc_id)
            SELECT id_a, id_b, hamming FROM (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1))
                        + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3))
                       AS INT) AS hamming
              FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
            WHERE hamming <= 3
            ORDER BY id_a, id_b""",
        # llm_ann_cosine: EXACT — the approximate operator's own semantics
        # restated. The seeded hyperplanes are embedded as double literals
        # (repr round-trips bit-exactly); the probe set "own bucket + all
        # hamming-1 neighbors" is exactly bit_count(xor(bucket, qbucket))
        # <= 1. Sign decisions are robust to engine summation order: the
        # minimum |plane . v| margin across every shipped sf is 5.4e-05,
        # ~9 orders above double fold error.
        "llm_ann_cosine": _ANN_COSINE_SQL,
        # llm_bpe_train / llm_bpe_encode: iterative BPE restated exactly —
        # one CTE per merge round (argmax pair + literal replace over the
        # delimited symbol strings), and the encode replace chain inside
        # list_transform. Counts CAST to BIGINT (DuckDB sum() -> HUGEINT).
        "llm_bpe_train": _bpe_train_oracle_sql(6),
        "llm_bpe_encode": _bpe_encode_oracle_sql(BPE_FIXED_MERGES),
        # llm_pq_encode / llm_pq_topk: product quantization restated with
        # literal codebooks — per-subspace argmin via list_position of the
        # min over shifted-dot distance arrays, ADC via a literal m x k
        # lookup table (left-to-right Python sums, identical in Spark).
        "llm_pq_encode": _pq_encode_oracle_sql(),
        "llm_pq_topk": _pq_topk_oracle_sql(),
        # llm_quality_classifier: the gradient-descent trainer restated as
        # one CTE pair per iteration; see _quality_classifier_oracle_sql.
        "llm_quality_classifier": _quality_classifier_oracle_sql(),
        # llm_tokenize_pipeline: train -> encode -> pack composed; the
        # learned merges enter the encode chain as scalar subqueries.
        "llm_tokenize_pipeline": _tokenize_pipeline_oracle_sql(),
        # llm_span_corruption: block-grid T5 masking — per block the md5
        # start offset, sentinel insertion, and span extraction restate as
        # list slices inside one list_transform (no sequential state).
        # llm_ul2_denoisers: route = md5 hash % 3; R/X branches from the
        # parameterized span-SQL generator; S pivot from md5('0'|0x1f|'s:'|id).
        "llm_ul2_denoisers": (lambda r, x: f"""
            WITH t AS (
              SELECT doc_id,
                     regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks,
                     CAST(('0x' || substr(md5('0' || chr(31)
                            || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                       % 3 AS route,
                     CASE WHEN len(regexp_extract_all(lower(text), '{TOKEN_RE}')) >= 2
                          THEN CAST(1 + (CAST(('0x' || substr(md5('0' || chr(31)
                                 || 's:' || CAST(doc_id AS VARCHAR)), 1, 15))
                                 AS BIGINT)
                               % (len(regexp_extract_all(lower(text), '{TOKEN_RE}')) - 1))
                               AS INT)
                          ELSE CAST(len(regexp_extract_all(lower(text), '{TOKEN_RE}'))
                               AS INT) END AS pv
              FROM documents)
            SELECT doc_id,
                   CASE route WHEN 0 THEN 'r' WHEN 1 THEN 'x' ELSE 's' END
                     AS denoiser,
                   CASE route
                     WHEN 0 THEN {r[0]}
                     WHEN 1 THEN {x[0]}
                     ELSE array_to_string(toks[1 : pv] || ['<extra_id_0>'], ' ')
                   END AS input_text,
                   CASE route
                     WHEN 0 THEN {r[1]}
                     WHEN 1 THEN {x[1]}
                     ELSE array_to_string(['<extra_id_0>'] || toks[pv + 1 : len(toks)], ' ')
                   END AS target_text
            FROM t""")(_span_sql(3, 20), _span_sql(8, 16)),
        "llm_span_corruption": f"""
            WITH t AS (
              SELECT doc_id,
                     regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
              FROM documents),
            g AS (
              SELECT doc_id, toks,
                     CASE WHEN len(toks) > 0
                          THEN CAST(ceil(len(toks) / 20.0) AS INT)
                          ELSE 0 END AS nb
              FROM t)
            SELECT doc_id,
              array_to_string(flatten(list_transform(range(nb), bi ->
                CASE WHEN len(toks[bi*20+1 : least((bi+1)*20, len(toks))]) >= 3
                     THEN toks[bi*20+1 : bi*20 + CAST({_SPAN_START} AS INT)]
                          || ['<extra_id_' || CAST(bi AS VARCHAR) || '>']
                          || toks[bi*20 + CAST({_SPAN_START} AS INT) + 4
                                  : least((bi+1)*20, len(toks))]
                     ELSE toks[bi*20+1 : least((bi+1)*20, len(toks))]
                END)), ' ') AS input_text,
              array_to_string(flatten(list_transform(range(nb), bi ->
                CASE WHEN len(toks[bi*20+1 : least((bi+1)*20, len(toks))]) >= 3
                     THEN ['<extra_id_' || CAST(bi AS VARCHAR) || '>']
                          || toks[bi*20 + CAST({_SPAN_START} AS INT) + 1
                                  : bi*20 + CAST({_SPAN_START} AS INT) + 3]
                     ELSE []
                END)), ' ') AS target_text,
              CAST(len(list_filter(range(nb), bi ->
                len(toks[bi*20+1 : least((bi+1)*20, len(toks))]) >= 3))
                AS BIGINT) AS n_masked
            FROM g""",
    }

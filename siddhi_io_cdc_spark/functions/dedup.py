"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Design rule for 100 TB: NEVER all-pairs. Every near-dup variant reduces the
candidate space with a bucketing shuffle (LSH bands / simhash chunks) and
verifies only within buckets — the join keys are the bucket ids, so Spark
co-partitions both sides and the verify join is a plain shuffled hash join
on a high-cardinality key. Exact dedup is one hash-aggregate (map-side
partial) on the normalized-text hash.

All hot-path expressions are JVM built-ins (xxhash64/md5/array ops); no
Python touches a row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from siddhi_io_cdc_spark.functions.text import normalize_text
from siddhi_io_cdc_spark.util import fan_out as _fan_out
from siddhi_io_cdc_spark.util import (
    _CACHE_TAG,
    _plan_size_bytes,
    scoped_persist,
    tag_caches,
)

#: Corpus-side plan-stats bytes below which :func:`dedup_near` skips the
#: measured label broadcast: a small corpus shuffle is cheaper than the
#: extra count job + blocking broadcast build the guard would add
#: (measured +0.4-0.5 s at sf0.1, both A/B orders). Calibration (r16):
#: the plan-stats estimate for a parquet-backed corpus is the COMPRESSED
#: scan bytes, ~20-40x under the in-flight row bytes (sf0.1 documents
#: estimate ≈1.1 MiB; sf2 ≈22 MiB vs ≈340 MiB of text) — so 4 MiB of
#: estimate ≈ a shuffle in the hundreds of MB, where skipping the corpus
#: exchange clearly pays for the count+broadcast. The r15 value (64 MiB)
#: implicitly assumed uncompressed bytes and kept the gate dormant until
#: ≈50x the series corpus; 4 MiB keeps sf0.1 on the cheap-shuffle path
#: and engages the broadcast from ≈sf0.5 up.
_BCAST_LABELS_MIN_CORPUS = 4 * 1024 * 1024

# A large prime < 2^31 for minhash modular arithmetic (fits comfortably in
# long multiplication without overflow of intermediates mattering — Java long
# arithmetic wraps deterministically either way).
_MERSENNE_P = 2_147_483_647


def dedup_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Exact dedup: keep the smallest-id document per (normalized) text.

    ONE hash aggregation on ``md5(normalized text)``: ``min_by`` carries the
    whole surviving row through the same shuffle, so there is no second scan
    and no join back (a single exchange end-to-end; map-side partial
    aggregation keeps per-key traffic at one row per partition). Returns the
    surviving rows (all original columns).
    """
    key = F.md5(normalize_text(text_col) if normalize else F.col(text_col))
    return (
        df.groupBy(key.alias("__k"))
        .agg(F.min_by(F.struct(*df.columns), F.col(id_col)).alias("__row"))
        .select("__row.*")
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup: split every document on
    ``sep``, normalize each paragraph, and keep only the FIRST occurrence
    (smallest ``(doc_id, para_idx)``) of each distinct paragraph.

    Returns ``(doc_id, para_idx, n_copies)`` — the surviving paragraph
    coordinates (1-based index) with how many copies existed corpus-wide.
    This is the line/paragraph dedup step of LLM data pipelines (boilerplate
    headers/footers repeat across millions of pages; document-level dedup
    never sees them).

    Scale shape: posexplode is a narrow generator (no shuffle); the
    min-struct aggregation is ONE hash exchange on the paragraph hash with
    map-side partials — the same single-shuffle shape as
    :func:`dedup_exact`, at paragraph granularity. No window over the full
    explosion, no join back.
    """
    paras = _fan_out(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), sep, -1)).alias("__i", "__p"),
    ).select(
        "doc_id",
        (F.col("__i") + 1).alias("para_idx"),
        normalize_text(F.col("__p")).alias("__norm"),
    ).where(F.col("__norm") != "")
    return (
        paras.groupBy(F.md5(F.col("__norm")).alias("__k"))
        .agg(
            F.min(F.struct("doc_id", "para_idx")).alias("__first"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(
            F.col("__first.doc_id").alias("doc_id"),
            F.col("__first.para_idx").alias("para_idx"),
            "n_copies",
        )
    )


def token_shingles(col: Column | str, k: int = 5) -> Column:
    """Array of k-token shingles (strings) over whitespace tokens of the
    normalized text. Short documents (< k tokens) yield one whole-text
    shingle so they still participate."""
    toks = F.split(normalize_text(col), " ")
    n = F.size(toks)
    shingles = F.transform(
        F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    return F.array_distinct(shingles)


def token_shingle_hashes(col: Column | str, k: int = 5) -> Column:
    """Distinct 64-bit hashes of the k-token shingles — the hot-path form.

    Each downstream stage (minhash fold, Jaccard verify) then operates on
    longs instead of re-hashing / comparing shingle STRINGS, which cuts both
    CPU (one xxhash64 per shingle position, total) and the bytes a persist/
    shuffle of the shingle sets carries. Hash-set Jaccard equals string-set
    Jaccard up to 64-bit collisions (~n²/2⁶⁴ — negligible and deterministic).
    """
    toks = F.split(normalize_text(col), " ")
    n = F.size(toks)
    shingles = F.transform(
        F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1))),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i, k))),
    )
    return F.array_distinct(shingles)


def _band_keys(sig: Column, bands: int, rows_per_band: int) -> Column:
    """Array of (band, bkey) structs: each band's key is a rolling
    ``xxhash64(acc, x)`` combine over its signature slice — no string
    concatenation in the hot path."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.aggregate(
                F.slice(sig, b * rows_per_band + 1, rows_per_band),
                F.lit(17).cast("long"),
                lambda acc, x: F.xxhash64(acc, x),
            ).alias("bkey"),
        ),
    )


def _sig_agreement(sig_a: Column, sig_b: Column, num_hashes: int) -> Column:
    """Fraction of agreeing MinHash positions — an unbiased Jaccard
    estimate costing ``num_hashes`` comparisons (vs an exact verify that
    merges two full shingle arrays)."""
    eq = F.zip_with(sig_a, sig_b, lambda a, b: (a == b).cast("int"))
    return F.aggregate(eq, F.lit(0), lambda acc, x: acc + x) / F.lit(num_hashes)


def _prefilter_candidates(
    cand: DataFrame,
    sig: DataFrame,
    jaccard_threshold: float,
    num_hashes: int,
    margin_sigmas: float = 3.0,
) -> DataFrame:
    """Drop candidate pairs whose signature-estimated Jaccard is more than
    ``margin_sigmas`` standard errors below the threshold.

    On corpora where banding floods the candidate set (many documents with
    mid-range similarity — exactly where LSH bucket collisions are common),
    the exact verify join would shuffle two full shingle arrays per pair.
    This filter joins only the 8·num_hashes-byte signatures and cuts the
    bulk of sub-threshold pairs first; the margin keeps the recall loss at
    the threshold below ~0.2% (normal tail beyond 3σ), on top of an
    already-approximate LSH recall.
    """
    se = (jaccard_threshold * (1.0 - jaccard_threshold) / num_hashes) ** 0.5
    cutoff = max(0.0, jaccard_threshold - margin_sigmas * se)
    return (
        cand.join(sig.select(F.col("__id").alias("id_a"), F.col("__sig").alias("sig_a")), "id_a")
        .join(sig.select(F.col("__id").alias("id_b"), F.col("__sig").alias("sig_b")), "id_b")
        .where(_sig_agreement(F.col("sig_a"), F.col("sig_b"), num_hashes) >= cutoff)
        .select("id_a", "id_b")
    )


def minhash_signature(
    shingles: Column, num_hashes: int = 64, seed: int = 42
) -> Column:
    """MinHash signature: array<long> of length ``num_hashes``.

    h_i(s) = (a_i * xxhash64(s) + b_i) mod P with (a_i, b_i) derived
    deterministically from ``seed``. Implemented as ONE fold over the
    shingle array that keeps a running array of per-function minima — a
    single expression tree (compact codegen) and a single pass per row,
    instead of ``num_hashes`` independent array_min scans. No shuffle.

    The base hash is hoisted OUT of the per-function lambda (higher-order
    functions get no common-subexpression elimination, so leaving
    ``xxhash64(s)`` inside the inner ``zip_with`` costs ``num_hashes``
    string hashes per shingle instead of one — measured ~4x on the LSH
    pipeline). Accepts string shingles or pre-hashed longs
    (:func:`token_shingle_hashes`) alike.
    """
    import random

    rnd = random.Random(seed)
    coeffs = [(rnd.randrange(1, _MERSENNE_P), rnd.randrange(0, _MERSENNE_P)) for _ in range(num_hashes)]
    a_vec = F.array(*[F.lit(a).cast("long") for a, _ in coeffs])
    b_vec = F.array(*[F.lit(b).cast("long") for _, b in coeffs])
    zero = F.array_repeat(F.lit(_MERSENNE_P).cast("long"), num_hashes)
    hashed = F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE_P)))
    return F.aggregate(
        hashed,
        zero,
        lambda acc, h: F.zip_with(
            acc,
            F.zip_with(a_vec, b_vec, lambda a, b: F.pmod(a * h + b, F.lit(_MERSENNE_P))),
            lambda m, x: F.least(m, x),
        ),
    )


def minhash_prep(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The shared MinHash-LSH front end: ``(sh, sig, banded)`` frames —
    ``(__id, __sh)`` hashed shingle sets, ``(__id, __sig)`` signatures,
    ``(__id, band, bkey)`` exploded band keys. Un-persisted; callers decide
    cache lifetime. Both the batch operator (:func:`minhash_lsh_pairs`) and
    the incremental streaming index (``streaming/dedup.py``) build on this,
    which is what guarantees batch ≡ streaming pair parity.

    The token array is staged as its own projection: a ``split(normalize())``
    referenced inside the shingle lambda would re-evaluate per element (no
    CSE inside higher-order functions; the double reference keeps
    CollapseProject from inlining it back). Shingles cross as hashed longs,
    not strings — smaller persist/shuffle footprint, cheaper Jaccard."""
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands
    # min_bytes_per_slot=0: shingle+minhash cost is ~100x a regex pass per
    # byte AND this stage feeds the band self-join (probe parallelism) —
    # the size-based skip measured +10.1 s on llm_near_dedup at sf0.1
    toks = _fan_out(df.select(F.col(id_col), F.col(text_col)), min_bytes_per_slot=0).select(
        F.col(id_col).alias("__id"),
        F.split(normalize_text(text_col), " ").alias("__toks"),
    )
    shingle = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size("__toks") - shingle_k + 1, F.lit(1))),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(F.col("__toks"), i, shingle_k))),
        )
    )
    sh = toks.select("__id", shingle.alias("__sh"))
    sig = sh.select(
        "__id", minhash_signature(F.col("__sh"), num_hashes, seed).alias("__sig")
    )
    banded = sig.select(
        "__id", F.explode(_band_keys(F.col("__sig"), bands, rows_per_band)).alias("__b")
    ).select("__id", "__b.band", "__b.bkey")
    return sh, sig, banded


def verify_jaccard_pairs(
    cand: DataFrame, sh: DataFrame, threshold: float, sh_b: DataFrame | None = None
) -> DataFrame:
    """Exact shingle-Jaccard verify of ``(id_a, id_b)`` candidates against
    one (or two, for cross-source pairs) ``(__id, __sh)`` frames. Returns
    ``(id_a, id_b, jaccard)`` for pairs at/above ``threshold``."""
    sh_b = sh if sh_b is None else sh_b
    return (
        cand.join(sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a")), "id_a")
        .join(sh_b.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b")), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash-LSH + exact Jaccard verify.

    Pipeline: shingle → signature → explode ``bands`` band-hashes → self-join
    on (band, band_hash) → distinct candidate pairs → verify exact shingle
    Jaccard ≥ threshold. Returns (id_a, id_b, jaccard) with id_a < id_b.

    Scale shape: the only joins are equi-joins on band buckets and on ids —
    no cartesian anywhere; candidate volume is bounded by bucket collisions
    (tunable via bands/rows-per-band).
    """
    sh, sig, banded = minhash_prep(
        df, id_col=id_col, text_col=text_col, num_hashes=num_hashes,
        bands=bands, shingle_k=shingle_k, seed=seed,
    )
    # Persist the (hashed) shingle sets: they feed BOTH sides of the bucket
    # self-join and both sides of the verify join — without this the
    # shingle+signature pipeline (the expensive part) re-executes four
    # times. Signatures are read by the banding AND both sides of the
    # estimate prefilter — persist (tiny: num_hashes longs per doc).
    # (MEMORY_AND_DISK, spills fine at cluster scale.)
    sh, sig, banded = scoped_persist(sh), scoped_persist(sig), scoped_persist(banded)

    cand = (
        banded.alias("l")
        .join(banded.alias("r"), on=["band", "bkey"], how="inner")
        .where(F.col("l.__id") < F.col("r.__id"))
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .distinct()
    )
    cand = _prefilter_candidates(cand, sig, jaccard_threshold, num_hashes)
    verified = verify_jaccard_pairs(cand, sh, jaccard_threshold)
    return tag_caches(verified, [sh, sig, banded])


def simhash64(
    col: Column | str, tokens: Column | None = None, portable: bool = False
) -> Column:
    """64-bit SimHash of the whitespace tokens of the normalized text.

    Per bit b: sum over tokens of ±1 by bit b of the token hash; bit set if
    the vote is positive. O(64·tokens) JVM expressions per row, no shuffle.

    ``portable=False`` (default) hashes tokens with ``xxhash64`` — fastest,
    but Spark-specific. ``portable=True`` derives the 64 bits from the md5
    hex digest instead (four 16-bit chunks, chunk j = hex digits
    [4j, 4j+4), bit i = bit i%16 of chunk i//16) — md5 exists in every
    engine, so the SIGNATURE ITSELF has an exact ANSI-SQL restatement and
    simhash pair output becomes oracle-checkable (DuckDB:
    ``('0x' || substr(md5(tok), 1+4*(i//16), 4))::INT >> (i%16)``). Same
    statistical properties (md5 bits are as uniform as xxhash64's); ~2-3×
    the per-token hash cost, which only matters in the signature stage.
    """
    toks = tokens if tokens is not None else F.split(normalize_text(col), " ")

    # The per-bit votes are built with transform-over-sequence lambdas, NOT
    # 64 unrolled when() subtrees per token: both forms run interpreted
    # inside the aggregate lambda, but the unrolled tree (64 whens x
    # shiftright/and/eq, duplicated through the fold) cost ~0.95 s of
    # Catalyst analysis PER PLAN BUILD (measured: 5x build+optimize 4.8 s
    # unrolled vs 1.0 s here; the simhash_pairs bench row spent 1.45 s in
    # a pure driver gap). Bit tests use bitwiseAND against a literal mask
    # array (shiftright's Python signature needs a literal count), which is
    # the identical bit — signatures are exactly equal on both hash paths.
    # The digest is hoisted into an outer transform so each token hashes
    # ONCE (lambda-variable reads are free; HOFs get no CSE).
    if portable:
        hashed = F.transform(toks, lambda s: F.md5(s))
        masks16 = F.lit([1 << b for b in range(16)]).cast("array<int>")

        def _bit_votes(d: Column) -> Column:
            # chunk j = hex digits [4j, 4j+4) of the digest; vote order
            # i = 16*j + b matches the documented bit i%16 of chunk i//16
            chunks = F.transform(
                F.sequence(F.lit(0), F.lit(3)),
                lambda j: F.conv(d.substr(j * 4 + 1, F.lit(4)), 16, 10).cast(
                    "int"
                ),
            )
            return F.flatten(
                F.transform(
                    chunks,
                    lambda c: F.transform(
                        masks16,
                        lambda m: F.when(c.bitwiseAND(m) != 0, F.lit(1))
                        .otherwise(F.lit(-1))
                        .cast("long"),
                    ),
                )
            )

    else:
        hashed = F.transform(toks, lambda s: F.xxhash64(s))
        # bit 63 tests the sign bit: 1<<63 as a signed long is MIN_LONG,
        # and h & MIN_LONG != 0 is exactly bit 63 in two's complement
        pow64 = F.lit(
            [1 << i if i < 63 else -(1 << 63) for i in range(64)]
        ).cast("array<long>")

        def _bit_votes(h: Column) -> Column:
            return F.transform(
                pow64,
                lambda m: F.when(h.bitwiseAND(m) != 0, F.lit(1))
                .otherwise(F.lit(-1))
                .cast("long"),
            )

    votes = F.aggregate(
        hashed,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, t: F.zip_with(acc, _bit_votes(t), lambda a, v: a + v),
    )
    # Combine sign bits with a literal powers-of-two array (bit 63 is the
    # sign bit: 1<<63 as a signed long is MIN_LONG).
    powers = F.lit(
        [1 << i if i < 63 else -(1 << 63) for i in range(64)]
    ).cast("array<long>")
    return F.aggregate(
        F.zip_with(
            votes, powers, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash: bucket on each of the four 16-bit chunks
    (pigeonhole: any pair within hamming ≤ 3 of 64 bits shares at least one
    exact 16-bit chunk... for chunk count 4 > max_hamming), verify with
    bit_count(xor) ≤ max_hamming."""
    if not max_hamming < 4:
        # ValueError, not assert: under `python -O` an assert vanishes and
        # max_hamming >= 4 would silently return an INCOMPLETE pair set
        # (missed near-dups) instead of failing. The recall guarantee is a
        # correctness contract, so it must hold in optimized runs too.
        raise ValueError(
            "4-chunk pigeonhole blocking guarantees 100% recall only for "
            f"hamming < 4 (got max_hamming={max_hamming}); raise the chunk "
            "count or use ngram_jaccard_pairs for looser thresholds"
        )
    # Persist: the 64-bit vote fold is the expensive part and feeds both
    # sides of the chunk self-join. Fan out first so the fold uses all cores.
    h = scoped_persist(
        # min_bytes_per_slot=0: per-token md5 chunks dominate (+20.6 s at
        # sf0.1 when the size-based skip applied) and the result feeds the
        # pigeonhole self-join
        _fan_out(df.select(F.col(id_col).alias(id_col), F.col(text_col).alias(text_col)), min_bytes_per_slot=0).select(
            F.col(id_col).alias("__id"),
            simhash64(text_col, portable=portable).alias("__h"),
        )
    )
    pairs = hash64_pairs(h, id_col="__id", hash_col="__h", max_hamming=max_hamming)
    return tag_caches(pairs, [h])


def hash64_pairs(
    df: DataFrame,
    id_col: str = "__id",
    hash_col: str = "__h",
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs of rows whose 64-bit ``hash_col`` values are within hamming
    distance ``max_hamming`` — the blocking core shared by
    :func:`simhash_pairs` and the perceptual-hash image dedup
    (``multimodal.image_near_dup_pairs``). Buckets on each of the four
    16-bit chunks (pigeonhole: a pair differing in ≤ 3 of 64 bits shares at
    least one exact 16-bit chunk — GUARANTEED 100 % recall for
    ``max_hamming < 4``), then verifies with ``bit_count(xor)``. Never
    all-pairs: candidate volume is the sum of squared bucket sizes over
    4·2^16 buckets. Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b``."""
    if not max_hamming < 4:
        # ValueError, not assert: under `python -O` an assert vanishes and
        # max_hamming >= 4 would silently return an INCOMPLETE pair set
        # (missed near-dups) instead of failing. The recall guarantee is a
        # correctness contract, so it must hold in optimized runs too.
        raise ValueError(
            "4-chunk pigeonhole blocking guarantees 100% recall only for "
            f"hamming < 4 (got max_hamming={max_hamming}); raise the chunk "
            "count or use ngram_jaccard_pairs for looser thresholds"
        )
    h = df.select(F.col(id_col).alias("__id"), F.col(hash_col).alias("__h"))
    chunks = h.select(
        "__id",
        "__h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright(F.col("__h"), i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("ckey"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("__c"),
    ).select("__id", "__h", "__c.chunk", "__c.ckey")
    return (
        chunks.alias("l")
        .join(chunks.alias("r"), on=["chunk", "ckey"], how="inner")
        .where(F.col("l.__id") < F.col("r.__id"))
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            F.bit_count(F.col("l.__h").bitwiseXOR(F.col("r.__h"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    bands: int = 8,
    num_hashes: int = 32,
    seed: int = 7,
) -> DataFrame:
    """Character-n-gram Jaccard near-dup: same LSH blocking as minhash_lsh_pairs
    but over character n-grams (robust to token-boundary edits). N-grams are
    hashed to longs at extraction — a document of L chars costs L xxhash64
    calls total, not L x num_hashes (see minhash_signature). The normalized
    text is staged as its own projection so the per-gram substr reads a
    materialized column instead of re-running the normalize regex."""
    # min_bytes_per_slot=0: gram-set hashing + self-join probe (same class
    # as minhash/simhash)
    normed = _fan_out(df.select(F.col(id_col), F.col(text_col)), min_bytes_per_slot=0).select(
        F.col(id_col).alias("__id"), normalize_text(text_col).alias("__norm")
    )
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length("__norm") - n + 1, F.lit(1))),
            lambda i: F.xxhash64(F.col("__norm").substr(i, F.lit(n))),
        )
    )
    sh = scoped_persist(normed.select("__id", grams.alias("__sh")))
    sig = scoped_persist(
        sh.select("__id", minhash_signature(F.col("__sh"), num_hashes, seed).alias("__sig"))
    )
    rows_per_band = num_hashes // bands
    banded = sig.select(
        "__id", F.explode(_band_keys(F.col("__sig"), bands, rows_per_band)).alias("__b")
    ).select("__id", "__b.band", "__b.bkey")
    cand = (
        banded.alias("l")
        .join(banded.alias("r"), on=["band", "bkey"], how="inner")
        .where(F.col("l.__id") < F.col("r.__id"))
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .distinct()
    )
    # Char-n-gram sets of same-vocabulary documents overlap heavily, so
    # banding floods the candidate set; estimate-prefilter before shuffling
    # full gram arrays (measured ~4x on the sf0.1 documents fixture).
    cand = _prefilter_candidates(cand, sig, threshold, num_hashes)
    verified = (
        cand.join(sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b")), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return tag_caches(verified, [sh, sig])


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    b_text_col: str | None = None,
    b_id_col: str | None = None,
    k: int = 5,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing ≥ ``min_shared``
    distinct k-token shingles with ANY benchmark document. The standard
    train/test-overlap check of LLM data pipelines (an eval question leaking
    into pretraining data inflates scores); run it, then anti-join the
    flagged ids out of the corpus.

    Returns ``(doc_id, n_shared, n_benchmark_docs)`` for flagged docs only.

    Scale shape: both sides reduce to DISTINCT shingle hashes (one xxhash64
    per shingle position — longs, not strings, cross the join). The
    benchmark side is tiny by nature (eval suites) and is BROADCAST, so the
    corpus is never shuffled for the probe; only matching (doc, shingle,
    benchmark) hits reach the one aggregation exchange. Comparing hashes
    equals comparing shingle strings up to 64-bit collisions (~n²/2⁶⁴,
    deterministic — same stance as token_shingle_hashes).
    """
    b_text_col = b_text_col or text_col
    b_id_col = b_id_col or id_col
    # fan_out: the shingle+hash projection is the CPU; a compact parquet
    # input would otherwise run it on row-group-count cores.
    c = _fan_out(corpus.select(F.col(id_col), F.col(text_col)), min_bytes_per_slot=0).select(
        F.col(id_col).alias("doc_id"),
        F.explode(token_shingle_hashes(text_col, k)).alias("__sh"),
    )
    b = (
        benchmark.select(
            F.col(b_id_col).alias("__bid"),
            F.explode(token_shingle_hashes(b_text_col, k)).alias("__sh"),
        )
        .distinct()
    )
    return (
        c.join(F.broadcast(b), "__sh")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("__sh").alias("n_shared"),
            F.countDistinct("__bid").alias("n_benchmark_docs"),
        )
        .where(F.col("n_shared") >= min_shared)
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components of the near-dup pair graph: (node, component),
    component = smallest node id reachable. Only nodes that appear in a pair
    are returned.

    Distributed min-label propagation: each iteration joins labels across
    edges and takes the per-node minimum — data never leaves the cluster,
    the driver only checks a scalar convergence count. Iterations needed =
    graph diameter (near-dup clusters are shallow; ``max_iterations`` is a
    hard stop, raising if not converged so a pathological chain cannot
    silently mislabel). ``localCheckpoint`` cuts the growing lineage each
    round — without it the plan doubles per iteration.
    """
    # Eager localCheckpoint, not lazy persist: ``pairs`` usually carries the
    # whole upstream pair pipeline (LSH banding, verify joins), and every
    # iteration's join plan would re-analyze that lineage twice (edges sits
    # on both sides via neighbor_min). Checkpointing stores the edge list
    # once and every later reference analyzes a leaf scan — measured 1.0 s
    # of per-action Catalyst analysis off llm_near_dedup at sf0.1. Same
    # trade as the LM-hierarchy checkpoints: an executor-loss recompute of
    # the (tiny) edge list is lost, which a label-propagation loop that
    # re-reads it every round happily accepts.
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "component", F.col("node")
    ).localCheckpoint()
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("component").alias("neighbor_component"))
        )
        updated = (
            labels.join(neighbor_min, on="node", how="left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("neighbor_component", "component")
                ).alias("component"),
                (F.coalesce("neighbor_component", "component") < F.col("component")).alias("__chg"),
            )
        ).localCheckpoint()
        changed = updated.filter(F.col("__chg")).count()
        labels = updated.drop("__chg")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} iterations"
    )


def dedup_near(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    broadcast_labels_max: int | None = 5_000_000,
) -> DataFrame:
    """End-to-end near-dedup: given candidate/verified pairs (from
    :func:`minhash_lsh_pairs` / :func:`simhash_pairs` / ...), keep ONE
    canonical row (smallest id) per connected component plus every row that
    belongs to no pair. Returns the surviving rows with all columns.

    The survivors filter is an equi-join against the component labels —
    broadcast-friendly (labels ≪ corpus: only near-dup members carry one).
    The planner cannot see that: labels come out of the propagation loop as
    a checkpointed RDD leaf with no usable size estimate, so it falls back
    to a sort-merge join that SHUFFLES THE CORPUS by id — the exact shuffle
    this operator exists to avoid. Same measured-broadcast pattern as
    :func:`duplicate_spans_maximal`'s ``broadcast_dups_max``: the count is
    a near-free scan of the already-materialized label store, and labels
    are broadcast when they fit (``None`` disables the count and keeps the
    planner's choice).

    The guard is corpus-size-gated like :func:`~..util.fan_out`: when the
    corpus side's plan-stats size is under ``_BCAST_LABELS_MIN_CORPUS``
    the whole count+broadcast is skipped — shuffling a few MB costs less
    than the extra driver-synchronous count job plus the blocking
    broadcast build (measured +0.4-0.5 s per call at sf0.1, both A/B
    orders). Unknown sizes take the broadcast path — the conservative
    choice at the scale this engine targets.
    """
    labels = connected_components(pairs, id_a=id_a, id_b=id_b)
    if broadcast_labels_max is not None:
        corpus_bytes = _plan_size_bytes(df)
        if (
            corpus_bytes is None or corpus_bytes >= _BCAST_LABELS_MIN_CORPUS
        ) and labels.count() <= broadcast_labels_max:
            labels = F.broadcast(labels)
    return (
        df.join(labels, df[id_col] == labels.node, "left")
        .where(F.col("node").isNull() | (F.col(id_col) == F.col("component")))
        .drop("node", "component")
    )


def curate_documents(
    df: DataFrame,
    lang: str = "en",
    min_quality: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The training-data curation pipeline in one call: language filter →
    quality filter → exact dedup (smallest-id winner).

    Composition of fully declarative stages, so Catalyst fuses the two
    filters into the scan (predicate pushdown of the computed columns'
    conjuncts) and the only shuffle is exact-dedup's single hash-aggregate.
    Near-dedup (:func:`dedup_near`) composes after this when wanted.
    """
    from siddhi_io_cdc_spark.functions.text import lang_detect, quality_score

    scored = quality_score(df.withColumn("lang_pred", lang_detect(text_col)), text_col)
    kept = scored.where(
        (F.col("lang_pred") == lang) & (F.col("quality_score") >= min_quality)
    ).drop("lang_pred", "quality_score")
    return dedup_exact(kept, text_col=text_col, id_col=id_col)


def duplicate_spans(
    df: DataFrame,
    width: int = 50,
    stride: int = 25,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_copies: int = 2,
    broadcast_dups_max: int | None = 5_000_000,
    max_windows: int | None = None,
) -> DataFrame:
    """Cross-document duplicated TOKEN SPANS — the exact-substring signal of
    Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
    Better"), who show verbatim repeated passages (licenses, boilerplate,
    mirrored articles) hurt LM quality even when whole-document dedup
    passes. Returns ``(doc_id, pos, n_copies)``: token position (1-based)
    of each ``width``-token window whose text occurs ``min_copies``-or-more
    times corpus-wide.

    Spark restatement of the suffix-array algorithm: windows are sampled
    at CONTENT-DEFINED anchors — position ``p`` is sampled iff the portable
    md5 hash of the token at ``p`` is ≡ 0 (mod ``stride``). Absolute-
    position striding would almost never align the two copies of a
    duplicated run (their offsets differ by the unrelated prefixes);
    content anchoring picks the SAME in-run positions in every copy, so a
    duplicated run of ``T ≥ width`` tokens is caught unless none of its
    first ``T − width + 1`` tokens anchors — probability
    ``(1 − 1/stride)^(T−width+1)``, e.g. < 2% for a run just 4·stride
    tokens past ``width``. Window text is md5-hashed (engine-portable, so
    the oracle restates byte-for-byte; 128 bits make collisions irrelevant
    at any corpus size). One aggregation on the window hash; the
    duplicated-hash set joins back broadcast when its MEASURED size fits
    ``broadcast_dups_max``, else shuffle — duplicated hashes are rare by
    construction, so broadcast is the expected branch and the corpus-side
    window table never shuffles. Expected work: O(corpus positions /
    stride) window hashes — the price of not having distributed suffix
    arrays; at 100 TB run it per-shard and union.

    Candidate-volume bound: expected windows ≈ total_tokens / stride, but
    the content-defined anchor is ADVERSARIALLY defeatable — a corpus whose
    dominant token happens to hash ≡ 0 (mod stride) anchors at (nearly)
    EVERY position, inflating the window table toward O(total_tokens) rows
    of md5 work plus a same-sized shuffle. ``max_windows`` guards that:
    the window count is measured (free — it materializes the cache the
    aggregation needs anyway) and a count past the bound raises instead of
    silently launching the blown-up aggregation. Pass ``None`` (default)
    to accept any volume, e.g. for the contract query's fixed fixture.
    """
    from siddhi_io_cdc_spark.functions.text import TOKEN_RE

    if not 1 <= stride <= width:
        raise ValueError(f"stride must be in [1, width] (got {stride}, width {width})")
    toks = F.col("__toks")
    length = F.size(toks)
    anchor = lambda t: F.pmod(  # noqa: E731 — portable token hash (= stable_hash)
        F.conv(F.md5(t).substr(1, 15), 16, 10).cast("bigint"), F.lit(stride)
    )
    positions = F.when(
        length >= width,
        F.filter(
            F.sequence(F.lit(1), length - (width - 1)),
            lambda p: anchor(F.element_at(toks, p)) == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    # Hash each window INSIDE the per-document row (transform over the
    # anchored positions), then explode only (pos, hash) pairs. Exploding
    # positions first and slicing afterwards would copy the document's full
    # token array into every exploded row — O(anchors x doc_tokens) bytes
    # through the projection, the term that made this the steepest scale
    # curve of the dedup family (11.3x at 20x data, BASELINE.md sf2 series).
    spans = F.transform(
        positions,
        lambda p: F.struct(
            p.alias("pos"),
            F.md5(F.array_join(F.slice(toks, p, width), " ")).alias("h"),
        ),
    )
    # fan_out: tokenize + per-window md5 is the CPU of this operator; a
    # compact parquet input (row-group granularity) must not serialize it
    # on a handful of partitions. No-op on already-wide inputs.
    windows = scoped_persist(
        _fan_out(df.select(F.col(id_col), F.col(text_col)), min_bytes_per_slot=0)
        .select(
            F.col(id_col),
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(TOKEN_RE), 0
            ).alias("__toks"),
        )
        .select(F.col(id_col), F.explode(spans).alias("__w"))
        .select(id_col, F.col("__w.pos").alias("pos"), F.col("__w.h").alias("__h"))
    )
    if max_windows is not None:
        # Materializes the cache the aggregation below reuses, so the
        # guard's marginal cost is one cached count.
        n_windows = windows.count()
        if n_windows > max_windows:
            raise ValueError(
                f"duplicate_spans window table has {n_windows} rows "
                f"(> max_windows={max_windows}): anchor density is "
                "adversarial for this corpus/stride. Raise stride, raise "
                "max_windows, or shard the corpus and union per-shard runs."
            )
    dups = scoped_persist(
        windows.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("n_copies"))
        .where(F.col("n_copies") >= min_copies)
    )
    use_broadcast = (
        broadcast_dups_max is None or dups.count() <= broadcast_dups_max
    )
    out = windows.join(F.broadcast(dups) if use_broadcast else dups, "__h").select(
        id_col, "pos", F.col("n_copies").cast("bigint").alias("n_copies")
    )
    return tag_caches(out, [windows, dups])


def _window_table(df: DataFrame, w: int, id_col: str, text_col: str) -> DataFrame:
    """Dense ``(id, pos, __h)`` window-hash table: every ``w``-token window
    md5-hashed INSIDE the per-document row before the explode (the
    hash-before-explode layout) — shared by the maximal-span and
    span-decontamination operators."""
    from siddhi_io_cdc_spark.functions.text import TOKEN_RE

    toks = F.col("__toks")
    length = F.size(toks)
    spans = F.when(
        length >= w,
        F.transform(
            F.sequence(F.lit(1), length - (w - 1)),
            lambda p: F.struct(
                p.alias("pos"),
                F.md5(F.array_join(F.slice(toks, p, w), " ")).alias("h"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,h:string>>"))
    return (
        _fan_out(df.select(F.col(id_col), F.col(text_col)), min_bytes_per_slot=0)
        .select(
            F.col(id_col),
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(TOKEN_RE), 0
            ).alias("__toks"),
        )
        .select(F.col(id_col), F.explode(spans).alias("__w"))
        .select(id_col, F.col("__w.pos").alias("pos"), F.col("__w.h").alias("__h"))
    )


def _maximal_runs(marked: DataFrame, id_col: str, w: int) -> DataFrame:
    """Maximal covered token runs from marked window-start positions:
    gaps-and-islands over starts, then an interval-merge pass (same
    partition key — the exchange is reused) because regions overlapping by
    < w leave a gap in STARTS while their covered intervals intersect."""
    isl = Window.partitionBy(id_col).orderBy("pos")
    runs = (
        marked.withColumn("__g", F.col("pos") - F.row_number().over(isl))
        .groupBy(id_col, "__g")
        .agg(
            F.min("pos").alias("__s"),
            (F.min("pos") + F.count(F.lit(1)) + F.lit(w - 2)).alias("__e"),
        )
    )
    ivl = Window.partitionBy(id_col).orderBy("__s")
    prev_end = F.max("__e").over(ivl.rowsBetween(Window.unboundedPreceding, -1))
    return (
        runs.withColumn(
            "__brk",
            F.when(
                prev_end.isNull() | (F.col("__s") > prev_end + 1), 1
            ).otherwise(0),
        )
        .withColumn("__grp", F.sum("__brk").over(ivl))
        .groupBy(id_col, "__grp")
        .agg(
            F.min("__s").alias("span_start"),
            (F.max("__e") - F.min("__s") + 1).cast("bigint").alias("span_len"),
        )
        .select(id_col, "span_start", "span_len")
    )


def duplicate_spans_maximal(
    df: DataFrame,
    seed_width: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_copies: int = 2,
    broadcast_dups_max: int | None = 5_000_000,
    screen_stride: int | None = None,
) -> DataFrame:
    """MAXIMAL cross-document duplicated token runs — the full
    exact-substring dedup of Lee et al. 2021 §4.1, where
    :func:`duplicate_spans` reports only fixed-width seed windows.

    Semantics (the paper's coverage rule): a token position is duplicated
    iff some ``>= seed_width``-token substring through it occurs
    ``min_copies``-or-more times corpus-wide; the output is each document's
    MAXIMAL runs of duplicated positions —
    ``(doc_id, span_start, span_len)`` with ``span_start`` 1-based and the
    run covering tokens ``[span_start, span_start + span_len - 1]``. A
    duplicated run of ``T >= seed_width`` tokens appears as exactly its
    ``T - seed_width + 1`` consecutive duplicated window positions, so run
    boundaries are EXACT for every duplication of at least ``seed_width``
    tokens (shorter duplications are below the threshold by definition).
    Overlapping duplications with different partners merge into one
    maximal covered run, which is precisely the text the paper removes.

    Spark restatement of the suffix-array pass, three bounded shapes:

    1. ONE corpus scan hashes EVERY ``seed_width``-token window (portable
       md5 of the joined slice, computed inside the per-document row before
       the explode — the same hash-before-explode layout that took
       ``duplicate_spans`` from 11.3x to 2.0x at 20x data). Unlike the
       sampled operator there is no anchor sampling: exactness costs
       O(total_tokens) window hashes, the same asymptotic price the
       suffix array pays.
    2. The duplicated-hash set is one map-side-combined count aggregate,
       joined back broadcast when its measured size fits
       ``broadcast_dups_max`` (duplicated text is rare; broadcast is the
       expected branch), else shuffle.
    3. Maximal runs are gaps-and-islands per document — ``pos − row_number``
       over the duplicated positions, ONE keyed shuffle on ``id_col``
       (the grouping the output needs anyway). At 100 TB: shapes 1-2 are
       embarrassingly parallel; shape 3 shuffles only duplicated positions.

    ``screen_stride``: the 100 TB two-stage form. Stage 0 runs the CHEAP
    content-anchored sampler (:func:`duplicate_spans` at this stride) and
    keeps only documents it flags; the dense pass then scans survivors
    only — on a mostly-clean corpus that is ~1/stride of the window-hash
    work. Recall is the sampler's, but CONSISTENTLY so: the anchor is a
    pure function of the token at each position, so a duplicated run
    either anchors in EVERY copy (all its documents survive the screen —
    within-survivor counts then equal corpus-wide counts and the dense
    stage is exact for it) or in none (the whole run is missed, never
    half-counted). Miss probability for a run of T tokens:
    ``(1 − 1/stride)^(T − seed_width + 1)`` — e.g. < 2% four strides past
    ``seed_width``. Leave ``None`` for the exact single-stage form.
    """
    if seed_width < 2:
        raise ValueError(f"seed_width must be >= 2 (got {seed_width})")
    if min_copies < 2:
        raise ValueError(f"min_copies must be >= 2 (got {min_copies})")
    if screen_stride is not None:
        if not 1 <= screen_stride <= seed_width:
            raise ValueError(
                f"screen_stride must be in [1, seed_width] (got {screen_stride})"
            )
        flagged = (
            duplicate_spans(
                df, width=seed_width, stride=screen_stride,
                id_col=id_col, text_col=text_col, min_copies=min_copies,
            )
            .select(id_col)
            .distinct()
        )
        df = df.join(flagged, id_col, "left_semi")
    w = seed_width
    windows = scoped_persist(_window_table(df, w, id_col, text_col))
    dups = scoped_persist(
        windows.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") >= min_copies)
        .select("__h")
    )
    use_broadcast = (
        broadcast_dups_max is None or dups.count() <= broadcast_dups_max
    )
    marked = windows.join(
        F.broadcast(dups) if use_broadcast else dups, "__h"
    ).select(id_col, "pos")
    merged = _maximal_runs(marked, id_col, w)
    return tag_caches(merged, [windows, dups])


def decontaminate_spans(
    df: DataFrame,
    benchmark: DataFrame,
    seed_width: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    b_text_col: str | None = None,
) -> DataFrame:
    """Span-level benchmark decontamination: the maximal token runs of
    ``df`` that verbatim-overlap the benchmark corpus — i.e. every maximal
    run of positions whose ``seed_width``-token window occurs ANYWHERE in
    ``benchmark``. Doc-level :func:`decontaminate` drops whole documents
    sharing shingles; this is the surgical form (the Lee et al./GPT-3
    appendix practice): report — and with
    :func:`remove_contaminated_spans`, excise — just the overlapping text.

    Returns ``(id_col, span_start, span_len)``, boundaries exact for every
    overlap of >= ``seed_width`` tokens (same island + interval-merge
    machinery as :func:`duplicate_spans_maximal`).

    Scale shape: the corpus-side dense window table is the suffix-array-
    price pass; the benchmark side collapses to DISTINCT window hashes
    (benchmarks are tiny next to training corpora) and broadcast-joins
    onto the corpus windows — no corpus shuffle before the per-doc
    islands.
    """
    if seed_width < 2:
        raise ValueError(f"seed_width must be >= 2 (got {seed_width})")
    w = seed_width
    b_text = b_text_col or text_col
    bench = benchmark.select(F.col(b_text).alias(text_col)).withColumn(
        "__bid", F.monotonically_increasing_id()
    )
    bench_hashes = scoped_persist(
        _window_table(bench, w, "__bid", text_col).select("__h").distinct()
    )
    windows = scoped_persist(_window_table(df, w, id_col, text_col))
    marked = windows.join(F.broadcast(bench_hashes), "__h").select(id_col, "pos")
    runs = _maximal_runs(marked, id_col, w)
    return tag_caches(runs, [windows, bench_hashes])


def remove_contaminated_spans(
    df: DataFrame,
    benchmark: DataFrame,
    seed_width: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    b_text_col: str | None = None,
) -> DataFrame:
    """Excise every benchmark-overlapping maximal run from the corpus —
    ``(id_col, text_out, n_removed_tokens)`` for EVERY input document
    (same map-only rewrite as :func:`remove_duplicate_spans`)."""
    runs = decontaminate_spans(
        df, benchmark, seed_width=seed_width, id_col=id_col,
        text_col=text_col, b_text_col=b_text_col,
    )
    # _excise_runs returns a fresh DataFrame: re-tag the persisted
    # intermediates decontaminate_spans hung on `runs` so
    # release_caches(result) frees them.
    return tag_caches(
        _excise_runs(df, runs, id_col, text_col),
        getattr(runs, _CACHE_TAG, []),
    )


def semantic_dedup_pairs(
    df: DataFrame,
    centroids,
    tau: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    pq_codebooks=None,
    prefilter_margin: float | None = None,
    engine: str = "sql",
    assign_engine: str = "sql",
) -> DataFrame:
    """SemDeDup candidate pairs (Abbas et al. 2023): within-cluster pairs
    with cosine similarity >= ``tau``, where clusters are k-means cells
    over the embeddings (``centroids`` is the small driver-side nlist×dim
    matrix — :func:`~siddhi_io_cdc_spark.functions.similarity.ivf_centroids`
    or a trained codebook).

    This is the paper's design verbatim: the clustering bounds the
    quadratic all-pairs to WITHIN-cell work. At 100 TB the knob is the
    paper's own (k grows with N: nlist ≈ √N keeps expected cell size ≈ √N,
    total pair work ≈ N^1.5 instead of N²); the join is a single equi-join
    on the cell id, so each cell's pairs compute co-partitioned, and skewed
    cells can reuse the measured per-cell salting of the kNN family.
    MEASURED caveat (round 12, 100k vectors): the √N knob pays only when
    PER-PAIR cost dominates. Cell assignment is O(N·nlist·d) — itself
    N^1.5 at nlist=√N — and with ``engine="numpy"`` (BLAS pairs at ~tens
    of ns each) assignment dominates: nlist=316 measured 20.8 s vs
    nlist=16 at 7.7 s on the same corpus. Grow nlist with N for the SQL
    HOF engine (~9 µs/pair floor, where cutting pair volume 20× wins);
    for the numpy engine keep nlist small until pair volume, not
    assignment, is the measured bottleneck (BASELINE.md round 12).

    Two measured costs shape the body (sf1, 20k vectors, 1.44M pairs):
    the input is ``fan_out`` BEFORE the self-join — the probe side of the
    broadcast join otherwise inherits the scan's row-group count (4 tasks
    on the shipped parquet, 90 s where 32 tasks take a fraction); and the
    per-row L2 norms are precomputed as columns so the per-pair expression
    is ONE interpreted-HOF dot instead of three (``dot/(na*nb)`` is the
    same operation tree as ``cosine()`` — division by the norm product —
    so the values are bit-identical, the norms are just not re-derived
    1.44M times).

    ``pq_codebooks`` (an ``m x k x dim/m`` array, e.g. from
    ``similarity.pq_train``) turns on the ADC PREFILTER — the measured
    floor past ~10M candidate pairs is the per-pair interpreted-HOF dot
    (~9 µs/pair across 32 cores). The pair stage first estimates every
    within-cell pair's dot through its PQ codes: ``approx_dot = Σ_j
    table[j][code_a_j][code_b_j]`` where the ``m·k²`` centroid-pair dot
    table (8·16² = 2048 doubles) enters as a literal — per pair, m array
    lookups instead of a dim-wide fold. Shortlisted pairs proceed to the
    EXACT cosine (the same expression as the unfiltered path, so
    surviving values are bit-identical). Two shortlist modes:

    - ``prefilter_margin=None`` (default): the PROVABLE Cauchy-Schwarz
      bound. With per-row residual norms ``e = ||v - Q(v)||`` and
      quantized norms ``q = ||Q(v)||`` (both corpus-sized, computed once
      per row by ``similarity.pq_row_stats``),
      ``v_a.v_b <= Q_a.Q_b + q_a*e_b + e_a*q_b + e_a*e_b`` — a pair is
      dropped only when even the upper bound cannot reach
      ``(tau - 5e-7) * ||v_a|| * ||v_b||``. The half-ulp slack matches the
      final filter's 6-decimal rounding (``round(cos,6) >= tau`` admits
      true cosines down to ``tau - 5e-7``), so the prefiltered pair set
      equals the unfiltered one up to float evaluation of the bound
      itself — no false negative can arise from the rounding boundary.
      Pruning
      power tracks codebook quality: tight codebooks → small residuals →
      tight bounds (on random unquantizable data the bound keeps most
      pairs — it degrades to correct-but-unhelpful, never to wrong).
    - ``prefilter_margin=x``: the aggressive heuristic — keep pairs with
      ``approx_dot/(na*nb) >= tau - x``. Cheaper bar, but recall-
      approximate: symmetric-ADC error measured p99 ≈ 0.25 on random
      64-d/m=8/k=16 data, so a small margin CAN drop true pairs. Use only
      when the codebook's measured error is known.

    MEASURED at 16.6M candidate pairs (sf2 replica, 40k vectors, nlist=50,
    BASELINE.md round 8): exact SQL 23.7 s; the Cauchy-Schwarz bound kept
    parity but pruned NOTHING on the noise-like fixture (residual ≈ ||v||,
    52.3 s — the documented correct-but-unhelpful degradation); margin=0.2
    collapsed recall to 0.01%. The production answer past ~10M pairs is
    therefore ``engine="numpy"``: the same exact within-cell cosines
    computed by Arrow-batched per-cell BLAS (``applyInPandas``; one
    matmul per row-block instead of 16.6M interpreted dim-wide folds) —
    no approximation, no recall risk, measured 8x the SQL engine at the
    same point. Its one semantic difference: ``numpy.round`` is
    half-to-even where ``F.round`` is half-away — a cosine landing on an
    EXACT half at the 6th decimal could round differently (never observed
    on real data; the contract oracle keeps engine="sql").

    Returns ``(id_a, id_b, cosine)``, id_a < id_b, cosine rounded to 6.
    """
    from siddhi_io_cdc_spark.functions.similarity import (
        _lit_doubles,
        dot,
        ivf_assign,
        norm,
        pq_row_stats,
    )

    if engine not in ("sql", "numpy"):
        raise ValueError(f"engine must be 'sql' or 'numpy' (got {engine!r})")
    if assign_engine not in ("sql", "numpy"):
        raise ValueError(
            f"assign_engine must be 'sql' or 'numpy' (got {assign_engine!r})"
        )
    if engine == "numpy":
        if pq_codebooks is not None:
            raise ValueError("engine='numpy' computes exact cosines; the PQ "
                             "prefilter applies only to engine='sql'")
        return _semantic_pairs_numpy(
            df, centroids, tau, vec_col, id_col, assign_engine=assign_engine
        )
    if assign_engine == "numpy":
        raise ValueError(
            "assign_engine='numpy' is supported with engine='numpy' (the "
            "sql pair engine's cost is per-pair, not assignment)"
        )

    # min_bytes_per_slot=0: the probe side of the cell self-join inherits
    # this partitioning — pair volume, not input bytes, is the cost
    staged = _fan_out(
        df.select(F.col(id_col), F.col(vec_col).alias("__v")), min_bytes_per_slot=0
    )
    cols = [
        F.col(id_col),
        F.col("__v"),
        ivf_assign(F.col("__v"), centroids).alias("__cell"),
        norm(F.col("__v")).alias("__n"),
    ]
    if pq_codebooks is not None:
        # per-ROW cost (corpus-sized, not pair-sized): code array, quantized
        # norm, residual norm
        code, qn, eps = pq_row_stats(F.col("__v"), pq_codebooks)
        cols += [code.alias("__code"), qn.alias("__q"), eps.alias("__e")]
    cells = staged.select(*cols)
    pq_cols = ["__code", "__q", "__e"] if pq_codebooks is not None else []
    a = cells.select(
        F.col(id_col).alias("id_a"), F.col("__v").alias("__va"),
        F.col("__n").alias("__na"), F.col("__cell"),
        *[F.col(c).alias(c + "_a") for c in pq_cols],
    )
    b = cells.select(
        F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"), F.col("__cell"),
        *[F.col(c).alias(c + "_b") for c in pq_cols],
    )
    paired = a.join(b, "__cell").where(F.col("id_a") < F.col("id_b"))
    if pq_codebooks is not None:
        kc = len(pq_codebooks[0])
        # literal m*k^2 table of centroid-pair dots, flattened row-major so
        # one element_at serves each subspace: table[j][ca*k + cb]
        pair_dots = [
            [
                float(sum(float(x) * float(y) for x, y in zip(ca, cb)))
                for ca in pq_codebooks[j]
                for cb in pq_codebooks[j]
            ]
            for j in range(len(pq_codebooks))
        ]
        approx = None
        for j, tbl in enumerate(pair_dots):
            idx = (
                F.element_at(F.col("__code_a"), j + 1) * kc
                + F.element_at(F.col("__code_b"), j + 1)
                + 1
            ).cast("int")
            term = F.element_at(_lit_doubles(tbl), idx)
            approx = term if approx is None else approx + term
        if prefilter_margin is None:
            # Cauchy-Schwarz upper bound on the true dot: exact shortlist.
            # Bar is tau - 5e-7 (half an ulp of the final 6-decimal
            # rounding): round(cos,6) >= tau admits true cosines down to
            # tau - 5e-7, so the prefilter must not cut above that.
            slack = (
                F.col("__q_a") * F.col("__e_b")
                + F.col("__e_a") * F.col("__q_b")
                + F.col("__e_a") * F.col("__e_b")
            )
            paired = paired.where(
                approx + slack
                >= F.lit(float(tau) - 5e-7) * F.col("__na") * F.col("__nb")
            )
        else:
            approx_cos = approx / (F.col("__na") * F.col("__nb"))
            paired = paired.where(
                approx_cos >= F.lit(float(tau - prefilter_margin))
            )
    cos = F.round(
        dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")), 6
    )
    return (
        paired.withColumn("cosine", cos)
        .where(F.col("cosine") >= tau)
        .select("id_a", "id_b", "cosine")
    )


#: Cells at or below this row count are never split by the numpy pair
#: engine's salt='auto': ~8M scored pairs is where single-task BLAS
#: latency starts to dominate a 32-slot stage.
_SALT_MIN_CELL_ROWS = 4096


def _semantic_pairs_numpy(
    df: DataFrame,
    centroids,
    tau: float,
    vec_col: str,
    id_col: str,
    salt: int | str = "auto",
    assign_engine: str = "sql",
) -> DataFrame:
    """Vectorized exact within-cell pair engine: group rows by IVF cell and
    compute each cell's cosine matrix with BLAS inside one Arrow batch —
    the >10M-pair path where the interpreted per-pair fold is the floor.

    Memory is row-blocked (BLOCK x cell_size scores at a time), so a cell
    costs O(cell_size * dim) resident, not O(cell_size^2).

    Skew (``salt``, VERDICT r8 builder-queue #2): with ``salt=1`` one cell
    is one task, so a hot cell serializes the stage. ``salt='auto'``
    (default) splits oversized cells kNN-family-style: a row hashes into
    block ``p`` of its cell's ``B`` blocks and replicates to the ``B``
    tasks ``(min(p,q), max(p,q))``, so every unordered block pair — and
    therefore every vector pair — meets in EXACTLY one task (diagonal
    tasks compute the block's upper triangle, off-diagonal tasks the full
    bipartite product). ``B = ceil(n_c·nparts/N)`` — the cell's fair share
    of the shuffle parallelism — but ONLY past an absolute pair-work floor
    (``_SALT_MIN_CELL_ROWS``): splitting multiplies Arrow tasks while
    total pair work stays ~constant, so small cells keep one task (the
    measured tax of salting a uniform small-cell corpus was ~2x; the
    measured win on a 90%-hot-cell fixture at 258M pairs was 10x)."""
    from siddhi_io_cdc_spark.functions.similarity import _cell_salts, ivf_assign

    # Mirror the SQL engine's id-type preservation: the output schema is
    # derived from the input id column, not assumed 64-bit numeric.
    id_sql = df.schema[id_col].dataType.simpleString()
    if id_sql in ("bigint", "int", "smallint", "tinyint"):
        id_out, id_np = "bigint", "int64"
    elif id_sql == "string":
        id_out, id_np = "string", "object"
    else:
        raise ValueError(
            f"engine='numpy' supports integral or string id columns; "
            f"{id_col!r} is {id_sql} — use engine='sql'"
        )

    staged = _fan_out(
        df.select(F.col(id_col), F.col(vec_col).alias("__v")),
        min_bytes_per_slot=0,
    )
    if assign_engine == "numpy":
        # BLAS argmax assignment (ivf_assign_numpy): at the paper's
        # nlist≈√N the HOF's O(N·nlist·d) interpreter term dominates the
        # whole dedup (measured round 12 — see BASELINE); opt-in because a
        # dot within 1 ulp of a tie can land one cell over vs the SQL
        # restatement oracle-checked rows use
        from siddhi_io_cdc_spark.functions.similarity import ivf_assign_numpy

        cells = ivf_assign_numpy(staged, centroids, "__v", "__cell").select(
            F.col(id_col).alias("vec_id"), F.col("__v"), F.col("__cell")
        )
    else:
        cells = staged.select(
            F.col(id_col).alias("vec_id"),
            F.col("__v"),
            ivf_assign(F.col("__v"), centroids).alias("__cell"),
        )
    spark = df.sparkSession
    deps = []
    if salt == "auto":
        # the salt-count aggregate is a SECOND action over the assigned
        # corpus — persist the assignment so the nlist-wide dot products
        # run once, not twice (measured: the unpersisted form doubled the
        # sf2 fixture's wall time)
        cells = scoped_persist(cells)
        deps = [cells]
        try:
            nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):
            nparts = spark.sparkContext.defaultParallelism
        # Unlike the kNN join (where replication cost is per-QUERY and the
        # fair-share rule is right), splitting a cell here multiplies
        # Arrow tasks while total pair work stays ~constant — a pure tax
        # unless the cell's pair volume is large enough that single-task
        # latency dominates the stage. min_rows: salt only cells past an
        # absolute pair-work floor (4096 rows ≈ 8M scored pairs ≈ seconds
        # of BLAS); everything smaller keeps one task. The skewed hot cell
        # this engine's salting exists for is far past the floor.
        salts = _cell_salts(
            cells.select("__cell"), nparts, min_rows=_SALT_MIN_CELL_ROWS
        )
        salted = cells.join(F.broadcast(salts), "__cell")
    else:
        nsalt = max(1, int(salt))
        salted = cells.withColumn("__nsalt", F.lit(nsalt).cast("long"))
    staged = (
        salted.withColumn(
            "__p", F.pmod(F.xxhash64("vec_id"), F.col("__nsalt")).cast("int")
        )
        .withColumn(
            "__q",
            F.explode(
                F.sequence(F.lit(0), (F.col("__nsalt") - 1).cast("int"))
            ),
        )
        .select(
            "vec_id",
            "__v",
            "__cell",
            "__p",
            F.least("__p", "__q").alias("__i"),
            F.greatest("__p", "__q").alias("__j"),
        )
    )

    def cell_pairs(pdf):
        import numpy as np
        import pandas as pd

        def empty():
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": id_np, "id_b": id_np, "cosine": "float64"}
            )

        if len(pdf) < 2:
            return empty()

        def normed(frame):
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in frame["__v"]]
            )
            nrm = np.linalg.norm(X, axis=1)
            nrm[nrm == 0] = 1.0
            return X / nrm[:, None]

        i, j = int(pdf["__i"].iloc[0]), int(pdf["__j"].iloc[0])
        out_a, out_b, out_c = [], [], []
        block = 1024
        if i == j:
            ids = pdf["vec_id"].to_numpy()
            Xn = normed(pdf)
            n = len(ids)
            for s0 in range(0, n, block):
                e0 = min(s0 + block, n)
                S = Xn[s0:e0] @ Xn.T  # (block, n)
                for r in range(s0, e0):
                    row = S[r - s0]
                    cand = np.nonzero(np.round(row, 6) >= tau)[0]
                    cand = cand[cand > r]  # upper triangle only
                    if cand.size:
                        a, b = ids[r], ids[cand]
                        lo, hi = np.minimum(a, b), np.maximum(a, b)
                        out_a.append(lo)
                        out_b.append(hi)
                        out_c.append(np.round(row[cand], 6))
        else:
            A = pdf[pdf["__p"] == i]
            B = pdf[pdf["__p"] == j]
            if not len(A) or not len(B):
                return empty()
            ida, idb = A["vec_id"].to_numpy(), B["vec_id"].to_numpy()
            An, Bn = normed(A), normed(B)
            for s0 in range(0, len(ida), block):
                e0 = min(s0 + block, len(ida))
                S = An[s0:e0] @ Bn.T  # (block, |B|)
                for r in range(s0, e0):
                    row = S[r - s0]
                    cand = np.nonzero(np.round(row, 6) >= tau)[0]
                    if cand.size:
                        a, b = ida[r], idb[cand]
                        lo, hi = np.minimum(a, b), np.maximum(a, b)
                        out_a.append(lo)
                        out_b.append(hi)
                        out_c.append(np.round(row[cand], 6))
        if not out_a:
            return empty()
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    return tag_caches(
        staged.groupBy("__cell", "__i", "__j").applyInPandas(
            cell_pairs, f"id_a {id_out}, id_b {id_out}, cosine double"
        ),
        deps,
    )


def semantic_dedup(
    df: DataFrame,
    centroids,
    tau: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    pq_codebooks=None,
    prefilter_margin: float | None = None,
    engine: str = "sql",
    assign_engine: str = "sql",
) -> DataFrame:
    """SemDeDup keep-one semantic dedup: drop all but one member of every
    within-cell cosine-``tau`` component. The survivor is the SMALLEST id
    (deterministic and oracle-checkable; the paper keeps a random or
    lowest-centroid-similarity member — same dedup set, different
    representative), matching :func:`dedup_near`'s canonical-min rule.
    Rows in no pair survive untouched. Returns the surviving rows.
    ``pq_codebooks``/``prefilter_margin``: the ADC pair prefilter for large
    within-cell pair volumes — see :func:`semantic_dedup_pairs`.
    """
    pairs = semantic_dedup_pairs(
        df, centroids, tau=tau, vec_col=vec_col, id_col=id_col,
        pq_codebooks=pq_codebooks, prefilter_margin=prefilter_margin,
        engine=engine, assign_engine=assign_engine,
    )
    # pairs may carry persisted deps (the numpy engine's cell assignment
    # under salt='auto') — re-tag them so release_caches(result) frees them
    return tag_caches(
        dedup_near(df, pairs, id_col=id_col), getattr(pairs, _CACHE_TAG, [])
    )


def remove_duplicate_spans(
    df: DataFrame,
    seed_width: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_copies: int = 2,
    keep_first_copy: bool = False,
) -> DataFrame:
    """Excise maximal duplicated token runs from the corpus — the actual
    REMOVAL step of Lee et al. 2021 (their ExactSubstr dedup deletes the
    duplicated substring from every occurrence; ``keep_first_copy=True``
    spares the single smallest ``(doc_id, span_start)`` occurrence of each
    distinct run text, for pipelines that want one surviving copy).

    Returns ``(id_col, text_out, n_removed_tokens)`` for EVERY input
    document (untouched docs pass through with ``n_removed_tokens = 0``).

    Shape: :func:`duplicate_spans_maximal` finds the runs (its three
    bounded stages); the runs collapse to one row per document
    (``collect_list`` of (start, len) — bounded by runs-per-doc, not
    corpus size), broadcast-or-shuffle join back onto the corpus, then the
    rewrite is MAP-ONLY array work: covered positions from the run list,
    surviving tokens re-joined in order. No second corpus shuffle.
    """
    from siddhi_io_cdc_spark.functions.text import TOKEN_RE

    runs = duplicate_spans_maximal(
        df, seed_width=seed_width, id_col=id_col, text_col=text_col,
        min_copies=min_copies,
    )
    # The keep_first_copy branch reassigns `runs`; hold the persisted-dep
    # tags now so the result can release them either way.
    cache_deps = getattr(runs, _CACHE_TAG, [])
    if keep_first_copy:
        # one surviving occurrence per distinct covered TEXT: re-derive the
        # run's token text, keep the min (doc_id, span_start) per text
        toks_of = F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(TOKEN_RE), 0
        )
        with_text = (
            runs.join(df.select(F.col(id_col), F.col(text_col)), id_col)
            .withColumn(
                "__rt",
                F.array_join(
                    F.slice(toks_of, F.col("span_start"),
                            F.col("span_len").cast("int")),
                    " ",
                ),
            )
        )
        first = (
            with_text.groupBy("__rt")
            .agg(F.min(F.struct(F.col(id_col), F.col("span_start"))).alias("__f"))
            .select(
                F.col("__f").getField(id_col).alias(id_col),
                F.col("__f.span_start").alias("span_start"),
                F.lit(True).alias("__keep"),
            )
        )
        runs = (
            with_text.join(first, [id_col, "span_start"], "left")
            .where(F.col("__keep").isNull())
            .select(id_col, "span_start", "span_len")
        )
    return tag_caches(_excise_runs(df, runs, id_col, text_col), cache_deps)


def _excise_runs(
    df: DataFrame, runs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Map-only excision of ``(span_start, span_len)`` runs from the token
    stream: one collect_list row per doc joined back, runs merged into
    disjoint sorted intervals, survivors re-assembled as the slices
    BETWEEN intervals — shared by the duplicate-span and
    benchmark-contamination removers.

    The rewrite is O(tokens + runs²) per document (the interval merge
    copies the small accumulator array per run; the token pass is gap
    slices, no per-position membership test). The previous per-position
    ``array_contains`` against an exploded covered-position array was
    O(tokens × covered_tokens) — quadratic exactly on the long, heavily
    duplicated documents this operator targets."""
    from siddhi_io_cdc_spark.functions.text import TOKEN_RE

    per_doc = runs.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_len")).alias("__runs")
    )
    joined = df.join(per_doc, id_col, "left")
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_RE), 0)
    # Merge the sorted (start, len) runs into disjoint intervals (s, e);
    # adjacent intervals merge too (harmless — same covered set). Struct
    # sort is lexicographic on (span_start, span_len), exactly the order
    # the sweep needs.
    empty_ivl = F.array().cast("array<struct<s:int,e:int>>")
    merged = F.aggregate(
        F.array_sort(F.coalesce(F.col("__runs"), F.array())),
        empty_ivl,
        lambda acc, r: F.when(
            (F.size(acc) > 0)
            & (
                r["span_start"].cast("int")
                <= F.element_at(acc, -1)["e"] + F.lit(1)
            ),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        F.greatest(
                            F.element_at(acc, -1)["e"],
                            (
                                r["span_start"] + r["span_len"] - 1
                            ).cast("int"),
                        ).alias("e"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(
                    F.struct(
                        r["span_start"].cast("int").alias("s"),
                        (r["span_start"] + r["span_len"] - 1)
                        .cast("int")
                        .alias("e"),
                    )
                ),
            )
        ),
    )
    staged = joined.select(
        *[F.col(c) for c in df.columns],
        toks.alias("__toks"),
        merged.alias("__ivl"),
    )
    # Gap i (1-based, size(__ivl)+1 gaps): from the end of interval i-1
    # (or token 1) to the start of interval i (or the last token).
    gap_start = lambda i: F.when(  # noqa: E731
        i == 1, F.lit(1)
    ).otherwise(F.element_at("__ivl", i - 1)["e"] + 1)
    gap_end = lambda i: F.when(  # noqa: E731
        i <= F.size("__ivl"), F.element_at("__ivl", i)["s"] - 1
    ).otherwise(F.size("__toks"))
    kept = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size("__ivl") + 1),
            lambda i: F.slice(
                "__toks",
                gap_start(i),
                F.greatest(gap_end(i) - gap_start(i) + 1, F.lit(0)),
            ),
        )
    )
    n_removed = F.aggregate(
        "__ivl",
        F.lit(0).cast("bigint"),
        lambda acc, ivl: acc + (ivl["e"] - ivl["s"] + 1).cast("bigint"),
    )
    return staged.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("text_out"),
        n_removed.alias("n_removed_tokens"),
    )

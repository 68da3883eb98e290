"""LLM-pipeline operators over the driver fixtures (documents/embeddings)."""

import pytest
from pyspark.sql import functions as F

from siddhi_io_cdc_spark.functions import (
    ann_cosine,
    dedup_exact,
    embedding_near_dup_pairs,
    fingerprint,
    lang_detect,
    minhash_lsh_pairs,
    quality_score,
    simhash64,
    simhash_pairs,
    text_stats,
    token_count,
    topk_cosine,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_dedup_exact_removes_planted_duplicate(spark, docs):
    base = docs.limit(5)
    # Plant a duplicate of doc 0 with a higher id and different whitespace.
    dup = base.limit(1).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("  "), F.upper(F.col("text"))).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    out = dedup_exact(base.unionByName(dup))
    assert out.count() == 5
    assert out.where(F.col("doc_id") >= 100000).count() == 0


def test_minhash_lsh_finds_planted_near_dup(spark, docs):
    base = docs.limit(30)
    # Near-dup: doc 0's text with one word appended.
    nd = base.limit(1).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    pairs = minhash_lsh_pairs(base.unionByName(nd), jaccard_threshold=0.7).collect()
    assert any(r["id_a"] == 0 and r["id_b"] == 100000 for r in pairs), pairs


def test_simhash_near_dup(spark, docs):
    base = docs.limit(20)
    nd = base.limit(1).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    both = base.unionByName(nd)
    # Identical docs hash identically; the near-dup is within small hamming.
    h = {r["doc_id"]: r["h"] for r in both.select("doc_id", simhash64("text").alias("h")).collect()}
    assert bin(h[0] ^ h[100000]).count("1") <= 6
    pairs = simhash_pairs(both, max_hamming=3).collect()
    assert all(r["hamming"] <= 3 for r in pairs)


def test_text_stats_and_quality(spark, docs):
    out = quality_score(docs.limit(10)).collect()
    for r in out:
        assert r["n_chars_calc"] == len(r["text"])
        assert 0.0 <= r["quality_score"] <= 1.0
        assert r["n_words"] > 0


def test_token_count_and_fingerprint_deterministic(spark):
    df = spark.createDataFrame([("Hello, world 42!",), ("Hello, world 42!",)], "text string")
    rows = df.select(
        token_count("text").alias("t"), fingerprint("text").alias("f")
    ).collect()
    # hello / , / world / 42 / !
    assert rows[0]["t"] == 5
    assert rows[0]["f"] == rows[1]["f"] and len(rows[0]["f"]) == 32


def test_lang_detect_markers(spark):
    df = spark.createDataFrame(
        [("the cat and the dog",), ("der hund und die katze ist",), ("xyzzy plugh",)],
        "text string",
    )
    got = [r[0] for r in df.select(lang_detect("text")).collect()]
    assert got == ["en", "de", "und"]


def test_topk_cosine_self_is_top1(spark, emb):
    q = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    top = topk_cosine(emb, q, k=5).collect()
    assert top[0]["vec_id"] == 0 and abs(top[0]["score"] - 1.0) < 1e-6
    assert len(top) == 5
    assert all(top[i]["score"] >= top[i + 1]["score"] for i in range(4))


def test_ann_matches_brute_force_top1(spark, emb):
    q = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ann = ann_cosine(emb, q, k=3, nbits=6, probe_hamming=1).collect()
    # Query's own vector lives in the query's bucket → always recalled.
    assert ann[0]["vec_id"] == 0


def test_embedding_near_dup_pairs_finds_clone(spark, emb):
    base = emb.limit(50)
    clone = base.limit(1).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    pairs = embedding_near_dup_pairs(base.unionByName(clone), threshold=0.99).collect()
    assert any(r["id_a"] == 0 and r["id_b"] == 100000 and r["cosine"] >= 0.999 for r in pairs)


def test_salted_agg_matches_plain_groupby(spark, sf_dir):
    from pyspark.sql import functions as F

    from siddhi_io_cdc_spark.plans.skew import salted_agg

    ev = (
        spark.read.schema("event_id long, user_id long, value double")
        .parquet(f"{sf_dir}/events.parquet")
    )
    salted = salted_agg(
        ev, ["user_id"], {"n": ("count", "*"), "sum_eid": ("sum", "event_id")}, salt=8
    )
    plain = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("sum_eid")
    )
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0
    import pytest

    with pytest.raises(ValueError, match="non-decomposable"):
        salted_agg(ev, ["user_id"], {"a": ("avg", "value")})


def test_ivf_ann_recalls_query_vector(spark, emb):
    from siddhi_io_cdc_spark.functions.similarity import ivf_ann_cosine, topk_cosine

    q = emb.where(F.col("vec_id") == 7).select("embedding").first()[0]
    ann = ivf_ann_cosine(emb, q, k=5, nlist=8, nprobe=3)
    rows = ann.collect()
    # The query's own vector is always in its own (probed) list.
    assert rows[0]["vec_id"] == 7 and abs(rows[0]["score"] - 1.0) < 1e-6
    # Probing all lists degenerates to exact brute force.
    full = ivf_ann_cosine(emb, q, k=5, nlist=8, nprobe=8).collect()
    brute = topk_cosine(emb, q, k=5).collect()
    assert [r["vec_id"] for r in full] == [r["vec_id"] for r in brute]


def test_connected_components_chains(spark):
    from siddhi_io_cdc_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)], "id_a long, id_b long"
    )
    got = {
        r.node: r.component for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}


def test_dedup_near_keeps_canonical_and_untouched(spark):
    from siddhi_io_cdc_spark.functions.dedup import dedup_near

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 4)], "id_a long, id_b long")
    survivors = sorted(r.doc_id for r in dedup_near(docs, pairs).collect())
    assert survivors == [0, 1, 3, 5]  # cluster {1,2,4} → keep 1; 0/3/5 untouched


def test_dedup_near_label_broadcast_gate(spark, tmp_path):
    """The measured label-broadcast guard is corpus-size-gated: a corpus
    whose plan stats read small (a tiny parquet scan) skips the
    count+broadcast (the labels join stays whatever the planner picks —
    sort-merge, since checkpointed labels carry no size estimate), while
    a corpus with UNKNOWN size (an RDD-backed frame reads as the
    no-estimate sentinel) takes the conservative broadcast path.
    Survivors identical either way."""
    from siddhi_io_cdc_spark.functions.dedup import dedup_near

    rows = [(i, f"t{i}") for i in range(6)]
    pairs = spark.createDataFrame([(1, 2), (2, 4)], "id_a long, id_b long")

    pq = str(tmp_path / "corpus")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(pq)
    small = spark.read.parquet(pq)
    plan_small = dedup_near(small, pairs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan_small

    unknown = spark.createDataFrame(
        spark.sparkContext.parallelize(rows), "doc_id long, text string"
    )
    plan_unknown = dedup_near(unknown, pairs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_unknown

    got_small = sorted(r.doc_id for r in dedup_near(small, pairs).collect())
    got_unknown = sorted(r.doc_id for r in dedup_near(unknown, pairs).collect())
    assert got_small == got_unknown == [0, 1, 3, 5]


def test_curate_documents_filters_and_dedups(spark):
    from siddhi_io_cdc_spark.functions.dedup import curate_documents

    good = "the cat sat on the mat and it is a fine day for all of us here today. " * 4
    docs = spark.createDataFrame(
        [
            (1, good),               # survives
            (2, good),               # exact dup of 1 → dropped
            (3, "der hund und die katze und der vogel sind nicht da heute. " * 4),  # German
            (4, "x" * 150),          # no stopwords → low quality
        ],
        "doc_id long, text string",
    )
    assert sorted(r.doc_id for r in curate_documents(docs).collect()) == [1]


def test_scrub_pii_masks_each_kind(spark):
    from pyspark.sql import functions as F

    from siddhi_io_cdc_spark.functions import scrub_pii, strip_markup

    df = spark.createDataFrame(
        [
            ("mail me at jo.doe+x@sub.example.co.uk today",),
            ("server at 192.168.0.17 responded",),
            ("call +1 (555) 010-9922 now",),
            ("<div class='x'>kept &amp; cleaned</div>",),
            ("no pii here",),
        ],
        "t string",
    )
    got = [r.c for r in df.select(scrub_pii(strip_markup(F.col("t"))).alias("c")).collect()]
    assert got == [
        "mail me at [EMAIL] today",
        "server at [IP] responded",
        "call [PHONE] now",
        "kept cleaned",
        "no pii here",
    ]


def test_deterministic_sample_reproducible_and_sized(spark, sf_dir):
    from siddhi_io_cdc_spark.functions.text import deterministic_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = sorted(r.doc_id for r in deterministic_sample(docs, 0.3).select("doc_id").collect())
    b = sorted(
        r.doc_id
        for r in deterministic_sample(docs.repartition(7), 0.3).select("doc_id").collect()
    )
    assert a == b  # partitioning-independent
    n = docs.count()
    assert 0.2 * n < len(a) < 0.4 * n  # near the requested rate
    salted = sorted(
        r.doc_id for r in deterministic_sample(docs, 0.3, salt="s2").select("doc_id").collect()
    )
    assert salted != a  # independent draw
    assert deterministic_sample(docs, 1.0).count() == n


def test_repetition_stats_flags_repeats(spark):
    from siddhi_io_cdc_spark.functions.text import repetition_stats

    df = spark.createDataFrame(
        [(1, "spam spam spam spam"), (2, "all words here differ fully"), (3, "x")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.dup_word_frac, r.dup_bigram_frac) for r in repetition_stats(df).collect()}
    assert got[1] == (0.75, round(2 / 3, 6))  # fracs are round(x, 6)
    assert got[2] == (0.0, 0.0)
    assert got[3] == (0.0, 0.0)  # single word: no bigrams


def test_ann_recall_floor_on_fixture(spark, sf_dir):
    """Recall@10 floors for the approximate paths (deterministic: fixed
    seeds, fixed fixture). Exact equality when probing everything is pinned
    elsewhere; this pins that partial probing stays useful."""
    from siddhi_io_cdc_spark.functions.similarity import (
        ann_cosine,
        ivf_ann_cosine,
        topk_cosine,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where("vec_id = 7").collect()[0].embedding
    exact = {r.vec_id for r in topk_cosine(emb, q, k=10).collect()}
    ivf = {r.vec_id for r in ivf_ann_cosine(emb, q, k=10, nlist=16, nprobe=8).collect()}
    assert len(exact & ivf) >= 5  # scans ~half the corpus
    lsh = {r.vec_id for r in ann_cosine(emb, q, k=10, nbits=8, probe_hamming=2).collect()}
    assert len(exact & lsh) >= 3


def test_ivf_assign_linear_at_large_nlist(spark):
    """nlist=64 must plan in seconds - the when-chain argmax this replaced
    grew the expression tree exponentially and froze Catalyst at ~12."""
    import time

    from siddhi_io_cdc_spark.functions.similarity import ivf_ann_cosine

    emb = spark.range(0, 50).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 16), j -> CAST(hash(id, j) % 100 AS FLOAT) / 100) AS embedding",
    )
    t0 = time.time()
    ivf_ann_cosine(emb, [0.1] * 16, k=5, nlist=64, nprobe=4).collect()
    assert time.time() - t0 < 60


def test_knn_join_exact_vs_bruteforce(spark):
    """Pruned knn_join equals brute-force per-query ranking, across a
    multi-partition corpus (exercises the mapInPandas local top-k)."""
    from siddhi_io_cdc_spark.functions.similarity import cosine, knn_join

    emb = spark.range(0, 60).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 8), j -> CAST(hash(id, j) % 100 AS FLOAT) / 100) AS embedding",
    ).repartition(7)
    queries = emb.where("vec_id IN (3, 41)")
    got = sorted(
        (r.query_id, r.rank, r.neighbor_id)
        for r in knn_join(emb, queries, k=4).collect()
    )
    assert len(got) == 8  # 2 queries x k
    # brute force in Spark itself, per query
    from pyspark.sql import functions as F

    for qid in (3, 41):
        qv = emb.where(f"vec_id = {qid}").collect()[0].embedding
        qlit = F.array(*[F.lit(float(x)) for x in qv])
        brute = [
            r.vec_id
            for r in emb.select(
                "vec_id", F.round(cosine(F.col("embedding"), qlit), 6).alias("s")
            )
            .orderBy(F.col("s").desc(), "vec_id")
            .limit(4)
            .collect()
        ]
        mine = [n for q, _, n in got if q == qid]
        assert mine == brute, (qid, mine, brute)
        assert brute[0] == qid  # self-match ranks first


def test_paragraph_dedup_first_occurrence_wins(spark):
    from siddhi_io_cdc_spark.functions.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [
            (1, "Header text\n\nunique one\n\n"),
            (2, "header   TEXT\n\nunique two"),
            (3, "unique one\n\nHeader text"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.para_idx): r.n_copies
        for r in paragraph_dedup(docs).collect()
    }
    # 'header text' appears 3x (normalization collapses case/whitespace),
    # 'unique one' 2x — first (doc_id, para_idx) occurrence survives; the
    # trailing empty paragraph of doc 1 is dropped.
    assert got == {(1, 1): 3, (1, 2): 2, (2, 2): 1}


def test_decontaminate_flags_overlapping_docs(spark):
    from siddhi_io_cdc_spark.functions.dedup import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated text with no overlap at all whatsoever"),
            (3, "a quick brown fox appears here too somehow today"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "Quick brown fox jumps high")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_shared, r.n_benchmark_docs)
        for r in decontaminate(corpus, bench, k=3, min_shared=1).collect()
    }
    # doc 1 shares 'quick brown fox' + 'brown fox jumps'; doc 3 shares one.
    assert got == {1: (2, 1), 3: (1, 1)}
    strict = decontaminate(corpus, bench, k=3, min_shared=2).collect()
    assert [r.doc_id for r in strict] == [1]


def test_distinctive_terms_integer_tfidf_ranking(spark):
    from siddhi_io_cdc_spark.functions.text import distinctive_terms

    docs = spark.createDataFrame(
        [
            (1, "apple apple apple common common"),
            (2, "banana banana common apple"),
            (3, "common cherry"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.rank): (r.term, r.tf, r.df)
        for r in distinctive_terms(docs, k=2).collect()
    }
    # doc 1: apple tf=3; common tf=2 (df 3). doc 2: banana tf=2 df=1 beats
    # apple/common tf=1 (apple df=2 < common df=3). doc 3: cherry df=1
    # beats common df=3 at equal tf.
    assert got == {
        (1, 1): ("apple", 3, 2),
        (1, 2): ("common", 2, 3),
        (2, 1): ("banana", 2, 1),
        (2, 2): ("apple", 1, 2),
        (3, 1): ("cherry", 1, 1),
        (3, 2): ("common", 1, 3),
    }


def test_ivf_trained_centroids_recall(spark, sf_dir):
    """KMeans-trained inverted lists: partial probing with trained
    centroids recovers most of the exact top-10 (and the machinery accepts
    an externally trained codebook)."""
    from siddhi_io_cdc_spark.functions.similarity import (
        ivf_ann_cosine,
        ivf_train_centroids,
        topk_cosine,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = ivf_train_centroids(emb, nlist=8, max_iter=5)
    assert cents.shape == (8, 64)  # fixture embeddings are 64-dim
    q = emb.where("vec_id = 7").collect()[0].embedding
    exact = [r.vec_id for r in topk_cosine(emb, q, k=10).collect()]
    full_probe = [
        r.vec_id
        for r in ivf_ann_cosine(emb, q, k=10, nlist=8, nprobe=8, centroids=cents).collect()
    ]
    # probing every trained list is exhaustive -> must equal exact top-k
    assert full_probe == exact
    partial = {
        r.vec_id
        for r in ivf_ann_cosine(emb, q, k=10, nlist=8, nprobe=4, centroids=cents).collect()
    }
    # partial probing of near-uniform random vectors still finds the query
    # itself and a non-trivial share of its true neighbors
    assert 7 in partial and len(set(exact) & partial) >= 3


def test_knn_join_breaks_score_ties_by_neighbor_id(spark):
    """Duplicate corpus vectors score identically — the rank must break
    ties on neighbor_id so results are deterministic under any
    partitioning."""
    from siddhi_io_cdc_spark.functions.similarity import knn_join

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0, 0.0]), (4, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    ).repartition(3)
    out = knn_join(emb, emb.where("vec_id = 1"), k=3).collect()
    assert [(r.rank, r.neighbor_id) for r in sorted(out, key=lambda r: r.rank)] == [
        (1, 1),
        (2, 2),
        (3, 3),
    ]
    assert all(r.score == 1.0 for r in out)


def test_knn_join_guards_against_corpus_scaled_query_side(spark):
    """The broadcast knn_join is Q*N (measured 95x for 10x data at sf1,
    round 4); feeding it a corpus-scaled query side must RAISE with a
    pointer to the blocked variants, not silently go quadratic. The probe
    is bounded (limit(max+1).count()), and max_broadcast_queries=None
    restores the old unguarded behavior for fixed small query sets."""
    import pytest

    from siddhi_io_cdc_spark.functions.similarity import QuerySideTooLarge, knn_join

    emb = spark.range(0, 50).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 4), j -> CAST(hash(id, j) % 100 AS FLOAT) / 100) AS embedding",
    )
    with pytest.raises(QuerySideTooLarge, match="knn_join_ivf"):
        knn_join(emb, emb, k=3, max_broadcast_queries=10)
    # small side passes under the same threshold; None disables the probe
    assert knn_join(emb, emb.where("vec_id < 3"), k=3, max_broadcast_queries=10).count() == 9
    assert knn_join(emb, emb.where("vec_id < 3"), k=3, max_broadcast_queries=None).count() == 9


def test_pipeline_caches_are_releasable(spark, sf_dir):
    """Repeated near-dup invocations must not accrete cached blocks: both
    release mechanisms (cache_scope, release_caches) drain every persist the
    pipelines create (VERDICT r2 'persist without unpersist')."""
    from siddhi_io_cdc_spark.functions.dedup import minhash_lsh_pairs, simhash_pairs
    from siddhi_io_cdc_spark.util import cache_scope, release_caches

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)

    def n_cached():
        return len(spark.sparkContext._jsc.getPersistentRDDs())

    # No-growth (not equality): the shared session's ContextCleaner may drop
    # OTHER tests' stale blocks asynchronously while this test runs.
    base = n_cached()
    for _ in range(3):
        with cache_scope():
            assert minhash_lsh_pairs(docs, jaccard_threshold=0.9).count() >= 0
    assert n_cached() <= base, "cache_scope leaked persisted intermediates"

    base = n_cached()
    for _ in range(3):
        pairs = simhash_pairs(docs)
        assert pairs.count() >= 0
        release_caches(pairs)
    assert n_cached() <= base, "release_caches leaked persisted intermediates"


def test_canonicalize_url_variants(spark):
    from siddhi_io_cdc_spark.functions.text import canonicalize_url

    cases = [
        ("HTTPS://WWW.Example.COM/Path/?q=1#f", "example.com/path"),
        ("http://example.com:8080/a/b/", "example.com/a/b"),
        ("example.com/", "example.com"),
        ("ftp://www.x.org", "x.org"),
        ("https://host.com:443", "host.com"),
        ("https://sub.www.com/w", "sub.www.com/w"),  # only a LEADING www. strips
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "id long, url string"
    )
    got = {r.id: r.cu for r in df.select("id", canonicalize_url("url").alias("cu")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i], want)


def test_c4_line_filters_rules(spark):
    from siddhi_io_cdc_spark.functions.text import c4_line_filters

    docs = spark.createDataFrame(
        [
            (1, "First line no punct\nGood sentence here.\nAnother good one."),
            (2, "one\ntwo"),
            (3, "  \n\nOnly line stays.\n"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in c4_line_filters(docs).collect()}
    assert (rows[1].n_lines, rows[1].n_punct_lines, rows[1].n_short_lines) == (3, 2, 0)
    assert rows[1].c4_keep
    assert (rows[2].n_lines, rows[2].n_punct_lines, rows[2].n_short_lines) == (2, 0, 2)
    assert not rows[2].c4_keep
    assert (rows[3].n_lines, rows[3].n_punct_lines) == (1, 1) and rows[3].c4_keep


def test_url_dedup_collapses_variants(spark):
    from siddhi_io_cdc_spark.functions.text import url_dedup

    df = spark.createDataFrame(
        [
            (1, "https://www.a.com/x/?utm=1"),
            (2, "HTTP://A.com/x#top"),
            (3, "a.com/x/"),
            (4, "https://b.org/y"),
        ],
        "doc_id long, url string",
    )
    got = {r.canonical_url: (r.doc_id, r.n_copies) for r in url_dedup(df).collect()}
    assert got == {"a.com/x": (1, 3), "b.org/y": (4, 1)}


def test_knn_join_ivf_exact_matches_knn_join(spark):
    """Cell-blocked kNN with nprobe == nlist equals the broadcast exact
    knn_join on a multi-partition corpus (all cells probed → same answer)."""
    from siddhi_io_cdc_spark.functions.similarity import knn_join, knn_join_ivf

    emb = spark.range(0, 80).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 8), j -> CAST(hash(id, j) % 100 AS FLOAT) / 100) AS embedding",
    ).repartition(7)
    queries = emb.where("vec_id % 20 = 0")
    exact = sorted(map(tuple, knn_join(emb, queries, k=4).collect()))
    blocked = sorted(map(tuple, knn_join_ivf(emb, queries, k=4, nlist=16, nprobe=16).collect()))
    assert blocked == exact


def test_knn_join_lsh_exact_and_self_recall(spark):
    """probe_hamming >= nbits covers every bucket → exact; at reduced
    probing a query still always recalls ITSELF (same bucket)."""
    from siddhi_io_cdc_spark.functions.similarity import knn_join, knn_join_lsh

    emb = spark.range(0, 80).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 8), j -> CAST(hash(id, j) % 100 AS FLOAT) / 100) AS embedding",
    ).repartition(5)
    queries = emb.where("vec_id % 20 = 0")
    exact = sorted(map(tuple, knn_join(emb, queries, k=4).collect()))
    full = sorted(map(tuple, knn_join_lsh(emb, queries, k=4, nbits=3, probe_hamming=3).collect()))
    assert full == exact
    approx = knn_join_lsh(emb, queries, k=4, nbits=6, probe_hamming=1).collect()
    by_q = {}
    for r in approx:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rows in by_q.items():
        top1 = min(rows, key=lambda r: r.rank)
        assert top1.neighbor_id == qid and abs(top1.score - 1.0) < 1e-6


def test_knn_join_ivf_trained_centroids(spark):
    """knn_join_ivf accepts ivf_train_centroids output; approximate probing
    returns k rows per query with valid ranks."""
    from siddhi_io_cdc_spark.functions.similarity import (
        ivf_train_centroids,
        knn_join_ivf,
    )

    emb = spark.range(0, 120).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 8), j -> CAST(hash(id, j) % 100 AS FLOAT) / 100) AS embedding",
    )
    cents = ivf_train_centroids(emb, nlist=6, max_iter=3)
    got = knn_join_ivf(
        emb, emb.where("vec_id < 3"), k=5, nlist=6, nprobe=2, centroids=cents
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, set()).add(r.rank)
    assert set(by_q) == {0, 1, 2}
    assert all(ranks == {1, 2, 3, 4, 5} for ranks in by_q.values())


def test_ann_recall_floor_vs_exact(spark, sf_dir):
    """Quantified-quality harness for the approximate searchers: recall@10
    against exact topk_cosine on the driver fixture.

    The fixture embeddings are near-UNIFORM random vectors — the ANN
    worst case (neighbors barely closer than random points), so recall ≈
    probed corpus fraction: aggressive configs like nbits=8/h=1 (3.5%
    probed) measure only 0.1-0.4 here, while real clustered corpora do
    far better at the same settings. The pinned configs probe ~30-60%:
    LSH nbits=4/h=2 measured 0.7/0.7/0.7 and IVF nlist=8/nprobe=6
    measured 0.8/0.7/0.9 at sf0.01 — the floor (mean >= 0.5) leaves slack
    for data refreshes. The query's own vector (cosine 1.0) must always
    be recalled regardless of config."""
    from siddhi_io_cdc_spark.functions.similarity import (
        ann_cosine,
        ivf_ann_cosine,
        topk_cosine,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    recalls_lsh, recalls_ivf = [], []
    for qid in (0, 7, 23):
        q = emb.where(F.col("vec_id") == qid).select("embedding").first()[0]
        exact = {r.vec_id for r in topk_cosine(emb, q, k=10).collect()}
        lsh = {r.vec_id for r in ann_cosine(emb, q, k=10, nbits=4, probe_hamming=2).collect()}
        ivf = {r.vec_id for r in ivf_ann_cosine(emb, q, k=10, nlist=8, nprobe=6).collect()}
        assert qid in lsh and qid in ivf
        recalls_lsh.append(len(exact & lsh) / len(exact))
        recalls_ivf.append(len(exact & ivf) / len(exact))
    assert sum(recalls_lsh) / len(recalls_lsh) >= 0.5, recalls_lsh
    assert sum(recalls_ivf) / len(recalls_ivf) >= 0.5, recalls_ivf


def test_simhash_portable_matches_md5_reference(spark):
    """portable=True signatures must equal a pure-Python md5 re-derivation
    (the property the DuckDB oracle depends on), and portable simhash_pairs
    still finds a planted near-clone."""
    import hashlib
    import re as _re

    base = " ".join(f"tok{i} word{i} thing{i}" for i in range(10))
    rows = [(1, base), (2, base + " zz")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: r.h
        for r in df.select("doc_id", simhash64("text", portable=True).alias("h")).collect()
    }

    def ref_sig(text):
        toks = _re.sub(r"\s+", " ", text.strip().lower()).split(" ")
        votes = [0] * 64
        for t in toks:
            hx = hashlib.md5(t.encode()).hexdigest()
            chunks = [int(hx[4 * j : 4 * j + 4], 16) for j in range(4)]
            for i in range(64):
                bit = (chunks[i // 16] >> (i % 16)) & 1
                votes[i] += 1 if bit else -1
        sig = 0
        for i in range(64):
            if votes[i] > 0:
                sig |= 1 << i
        return sig - (1 << 64) if sig >= (1 << 63) else sig

    for doc_id, text in rows:
        assert got[doc_id] == ref_sig(text), doc_id
    ref_hamming = bin((ref_sig(rows[0][1]) ^ ref_sig(rows[1][1])) & ((1 << 64) - 1)).count("1")
    pairs = simhash_pairs(df, max_hamming=3, portable=True).collect()
    if ref_hamming <= 3:
        assert [(p.id_a, p.id_b, p.hamming) for p in pairs] == [(1, 2, ref_hamming)]
    else:
        assert pairs == []


def test_knn_join_recall_floor_vs_exact(spark, sf_dir):
    """Quantified-quality harness for the BLOCKED kNN joins' approximate
    configurations: mean recall@5 against the exact broadcast knn_join over
    a 20-query set. Same caveat as test_ann_recall_floor_vs_exact — the
    fixture is near-uniform random (ANN worst case), so recall tracks the
    probed corpus fraction; clustered corpora do far better at the same
    settings. IVF nprobe=16/32 probes ~half the corpus (measured ~0.8
    here); LSH nbits=4/h=2 probes ~11/16 of buckets (measured ~0.8). Each
    query must always recall ITSELF (cosine 1.0 lives in the query's own
    cell/bucket by construction)."""
    from pyspark.sql import functions as F

    from siddhi_io_cdc_spark.functions.similarity import (
        knn_join,
        knn_join_ivf,
        knn_join_lsh,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") % 100 == 0)

    def pairs(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.query_id, set()).add(r.neighbor_id)
        return out

    exact = pairs(knn_join(emb, queries, k=5))
    ivf = pairs(knn_join_ivf(emb, queries, k=5, nlist=32, nprobe=16, dim=64))
    lsh = pairs(knn_join_lsh(emb, queries, k=5, nbits=4, probe_hamming=2, dim=64))
    for approx, label in ((ivf, "ivf"), (lsh, "lsh")):
        rec = [len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact]
        assert sum(rec) / len(rec) >= 0.5, (label, rec)
        for q in exact:
            assert q in approx.get(q, set()), (label, q)  # self-recall


def test_ivf_index_layout_prunes_partitions(spark, sf_dir, tmp_path):
    """write_ivf_index + probe_ivf_index: (a) results identical to
    ivf_ann_cosine with the same codebook, (b) the probe scan is
    PARTITION-PRUNED — the plan carries a PartitionFilters entry on the
    cell column and lists only the probed directories, which is the 100 TB
    property the IVF operators claim."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from siddhi_io_cdc_spark.functions.similarity import (
        ivf_ann_cosine,
        probe_ivf_index,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivf_index")
    cents = write_ivf_index(emb, path, nlist=8)
    q = emb.where(F.col("vec_id") == 3).select("embedding").first()[0]

    probed = probe_ivf_index(spark, path, q, k=10, nprobe=3)
    want = sorted(map(tuple, ivf_ann_cosine(emb, q, k=10, nlist=8, nprobe=3, centroids=cents).collect()))
    assert sorted(map(tuple, probed.collect())) == want

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probed.explain()
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "cell" in plan
    # the IN-filter prunes: data filters must NOT contain the cell probe
    # (it is resolved at the partition level, before any file is read)
    import re
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "cell" in pf and "in" in pf.lower()


def test_blocked_knn_auto_salt_balances_trained_skew(spark):
    """salt='auto' under TRAINED centroids on clustered data: the hot
    cell(s) get proportionally more salt slices than uniform cells
    (bounding task skew), and the join stays EXACT at nprobe=nlist."""
    from siddhi_io_cdc_spark.functions.similarity import (
        _cell_salts,
        ivf_assign,
        ivf_train_centroids,
        knn_join,
        knn_join_ivf,
    )

    # 85% of vectors cluster tightly around one direction; the rest spread.
    emb = spark.range(0, 400).selectExpr(
        "id AS vec_id",
        """CASE WHEN id % 100 < 85
             THEN transform(sequence(1, 8), j ->
                  CAST(1.0 + (hash(id, j) % 100) / 2000.0 AS FLOAT))
             ELSE transform(sequence(1, 8), j ->
                  CAST((hash(id, j) % 1000) / 250.0 AS FLOAT))
           END AS embedding""",
    ).repartition(8)
    cents = ivf_train_centroids(emb, nlist=6, seed=11)

    cells = emb.select(
        ivf_assign(F.col("embedding"), cents).alias("__cell"),
        F.col("vec_id").alias("neighbor_id"),
    )
    counts = {r["__cell"]: r["n"] for r in cells.groupBy("__cell").agg(F.count("*").alias("n")).collect()}
    assert max(counts.values()) / sum(counts.values()) > 0.5  # genuinely skewed

    salts = {r["__cell"]: r["__nsalt"] for r in _cell_salts(cells, nparts=16).collect()}
    hot = max(counts, key=counts.get)
    assert salts[hot] > 1  # hot cell split into multiple slices
    assert salts[hot] == max(salts.values())
    # proportionality: the hot cell's slice count ~ its share of 16 tasks
    import math
    assert salts[hot] == min(64, max(1, math.ceil(counts[hot] * 16 / sum(counts.values()))))
    # uniform cold cells stay unsplit (no pointless query replication)
    assert min(salts.values()) == 1

    queries = emb.where("vec_id % 40 = 0")
    exact = sorted(map(tuple, knn_join(emb, queries, k=4).collect()))
    auto = sorted(map(tuple, knn_join_ivf(
        emb, queries, k=4, centroids=cents, nprobe=6, salt="auto"
    ).collect()))
    assert auto == exact


def test_gopher_quality_hand_computed(spark):
    """Each Gopher rule against a hand-built doc; composite keep flag."""
    from siddhi_io_cdc_spark.functions.text import gopher_quality

    good = ("the cat and dog have fun with all of that today because words "
            "matter here twelve more tokens to reach the fifty word floor "
            "so keep adding plain text until we are safely past it now "
            "one two three four five six seven eight nine ten eleven done "
            "plus a few extra")  # 52 words
    bullets = "\n".join(f"- item {i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, good), (2, "short text only"), (3, bullets), (4, "#### " * 60)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in gopher_quality(docs).collect()}
    assert rows[1].gopher_keep and rows[1].g_n_words >= 50
    assert rows[1].g_n_stopwords >= 2 and rows[1].g_alpha_frac == 1.0
    assert not rows[2].gopher_keep  # word count below 50
    assert rows[3].g_bullet_frac == 1.0 and not rows[3].gopher_keep
    assert rows[4].g_symbol_ratio > 0.1 and not rows[4].gopher_keep
    # hand mean word length for doc 2: (5 + 4 + 4) / 3
    assert rows[2].g_mean_word_len == round(13 / 3, 6)


def test_bpe_pair_counts_hand_computed(spark):
    """Frequency-weighted pair counts against a hand count; the top pair is
    the merge a BPE trainer would learn first."""
    from siddhi_io_cdc_spark.functions.text import bpe_pair_counts

    docs = spark.createDataFrame(
        [(1, "low low lower"), (2, "newest newest")], "doc_id long, text string"
    )
    got = {(r["left"], r["right"]): r.pair_count for r in bpe_pair_counts(docs).collect()}
    # low x2, lower x1, newest x2
    assert got[("l", "o")] == 3 and got[("o", "w")] == 3
    assert got[("e", "s")] == 2 and got[("s", "t")] == 2 and got[("w", "e")] == 3
    # ("w","e"): lower(1) + newest(2) = 3
    top = bpe_pair_counts(docs, top_n=1).collect()[0]
    assert (top["left"], top["right"]) == ("e", "w") or top.pair_count == max(got.values())


def test_ivf_tied_centroid_dots_probe_identical_cells(spark, tmp_path):
    """Degenerate codebook with EXACTLY tied centroid dots: ivf_ann_cosine
    and probe_ivf_index must probe the identical (lowest-index) cell set —
    both use a stable argsort, matching ivf_assign's (-dot, idx) tiebreak.
    With nprobe=1 an unstable sort could pick the EMPTY duplicate cell and
    return nothing."""
    import numpy as np
    from pyspark.sql import functions as F

    from siddhi_io_cdc_spark.functions.similarity import (
        ivf_ann_cosine,
        probe_ivf_index,
        write_ivf_index,
    )

    # cells 0/1 identical, cells 2/3 identical: every dot is tied pairwise
    cents = np.array([[1.0, 0.0], [1.0, 0.0], [0.0, 1.0], [0.0, 1.0]])
    emb = spark.createDataFrame(
        [(1, [0.9, 0.1]), (2, [0.8, 0.2]), (3, [0.1, 0.9]), (4, [0.2, 0.8])],
        "vec_id long, embedding array<double>",
    )
    q = [1.0, 0.05]

    direct = ivf_ann_cosine(emb, q, k=4, nlist=4, nprobe=1, centroids=cents)
    got = sorted(r.vec_id for r in direct.collect())
    # ivf_assign ties break to the LOWEST cell, so vectors sit in cells 0/2;
    # a probe of duplicate cell 1 (unstable sort) would return zero rows
    assert got == [1, 2]

    path = str(tmp_path / "tied_ivf")
    write_ivf_index(emb, path, nlist=4, centroids=cents)
    mat = probe_ivf_index(spark, path, q, k=4, nprobe=1)
    assert sorted(r.vec_id for r in mat.collect()) == got

    # and the probed-cell set itself matches on the materialized layout
    cells = {
        r.cell
        for r in spark.read.parquet(path)
        .where(F.col("vec_id").isin(got))
        .select("cell")
        .collect()
    }
    assert cells == {0}


def test_fan_out_skips_small_inputs_and_widens_large(spark, tmp_path):
    """The widening shuffle engages only when the estimated per-core work
    clears MIN_FAN_OUT_BYTES_PER_SLOT: repartitioning a few hundred KiB to
    32 cores costs more than the narrow compute it parallelizes (the
    measured r7 sf0.1 bench tax), while a compact multi-MiB scan must still
    widen (the measured 10x sf2 win)."""
    from pyspark.sql import functions as F

    from siddhi_io_cdc_spark.util import fan_out

    parts = spark.sparkContext.defaultParallelism * 4  # force "too narrow"
    small_path = str(tmp_path / "small")
    spark.range(100).withColumn("text", F.lit("tiny")).coalesce(1).write.parquet(small_path)
    small = spark.read.parquet(small_path)
    assert fan_out(small, num_partitions=parts) is small  # below the floor

    big_path = str(tmp_path / "big")
    blob = "x" * 64
    (
        spark.range(400_000)
        .withColumn("text", F.concat(F.lit(blob), F.col("id").cast("string")))
        .coalesce(1)
        .write.option("compression", "none")
        .parquet(big_path)
    )
    big = spark.read.parquet(big_path)  # ~28 MB > parts * 128 KiB
    assert big.rdd.getNumPartitions() < parts
    widened = fan_out(big, num_partitions=parts)
    assert widened is not big
    assert widened.rdd.getNumPartitions() == parts

    # explicit threshold override: force-widen the small input
    forced = fan_out(small, num_partitions=parts, min_bytes_per_slot=0)
    assert forced.rdd.getNumPartitions() == parts


def test_fan_out_threshold_resolves_at_call_time(spark, tmp_path, monkeypatch):
    """The default gate must read MIN_FAN_OUT_BYTES_PER_SLOT when CALLED,
    not when the function was defined: a definition-time default froze the
    constant into the signature, so the env override
    (SPARK_GRAFT_FANOUT_MIN_SLOT_KIB) and any runtime recalibration were
    silently ignored (found in r16 — the r16 sf1 A/B harness patched the
    module constant to no effect)."""
    from pyspark.sql import functions as F

    import siddhi_io_cdc_spark.util as U
    from siddhi_io_cdc_spark.util import fan_out

    parts = spark.sparkContext.defaultParallelism * 4
    path = str(tmp_path / "mid")
    spark.range(2000).withColumn(
        "text", F.concat(F.lit("y" * 64), F.col("id").cast("string"))
    ).coalesce(1).write.option("compression", "none").parquet(path)
    mid = spark.read.parquet(path)  # ~140 KB: between tiny and huge

    monkeypatch.setattr(U, "MIN_FAN_OUT_BYTES_PER_SLOT", 1 << 40)
    assert fan_out(mid, num_partitions=parts) is mid  # gate reads the patch
    monkeypatch.setattr(U, "MIN_FAN_OUT_BYTES_PER_SLOT", 1)
    assert fan_out(mid, num_partitions=parts).rdd.getNumPartitions() == parts


def test_fan_out_env_threshold_read_at_call_time(spark, monkeypatch, caplog):
    """SPARK_GRAFT_FANOUT_MIN_SLOT_KIB is read when fan_out is CALLED, so
    setting it after import takes effect; a malformed value falls back to
    the default with a warning instead of raising."""
    import logging

    from siddhi_io_cdc_spark.util import fan_out

    parts = spark.sparkContext.defaultParallelism * 4
    df = spark.range(2000)  # 16 KB estimate: below the default x parts, above 0
    assert df.rdd.getNumPartitions() < parts

    monkeypatch.setenv("SPARK_GRAFT_FANOUT_MIN_SLOT_KIB", "0")
    assert fan_out(df, num_partitions=parts).rdd.getNumPartitions() == parts

    monkeypatch.setenv("SPARK_GRAFT_FANOUT_MIN_SLOT_KIB", "64k")
    with caplog.at_level(logging.WARNING, logger="siddhi_io_cdc_spark.util"):
        assert fan_out(df, num_partitions=parts) is df  # the default
    assert "SPARK_GRAFT_FANOUT_MIN_SLOT_KIB" in caplog.text


def test_fan_out_gate_reads_footer_uncompressed_bytes(spark, tmp_path):
    """The gate's basis for a parquet scan is the footer's uncompressed
    bytes of the columns the scan reads: a float-array file and a text file
    of similar in-flight size are measured alike, whatever their codec
    (Catalyst's compressed estimate is ~7x under for text and ~1x for
    float arrays)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from siddhi_io_cdc_spark.util import _footer_bytes, _parquet_scans, fan_out

    n = 2000
    ids = pa.array(range(n), pa.int64())
    floats = np.random.default_rng(7).random((n, 32), dtype=np.float32)
    tables = {
        "vec": pa.table({"id": ids, "vec": pa.array(list(floats), pa.list_(pa.float32()))}),
        "text": pa.table({"id": ids, "text": [f"lorem ipsum dolor {i} " * 6 for i in range(n)]}),
    }
    parts = 4
    inflight = {}
    for col, table in tables.items():
        for codec in ("snappy", "none"):
            path = str(tmp_path / f"{col}_{codec}.parquet")
            pq.write_table(table, path, compression=codec)
            md = pq.read_metadata(path)
            want = sum(
                md.row_group(g).column(i).total_uncompressed_size
                for g in range(md.num_row_groups)
                for i in range(md.num_columns)
                if md.row_group(g).column(i).path_in_schema.split(".")[0] == col
            )
            df = spark.read.parquet(path).select(col)
            assert df.rdd.getNumPartitions() < parts
            assert _footer_bytes(_parquet_scans(df), 1 << 62) == want
            # the gate widens at exactly that many bytes, and not above
            assert fan_out(df, parts, want // parts).rdd.getNumPartitions() == parts
            assert fan_out(df, parts, want // parts + 1) is df
            inflight[col, codec] = want
    for col in tables:
        assert inflight[col, "snappy"] == inflight[col, "none"]
    assert 0.5 < inflight["text", "none"] / inflight["vec", "none"] < 2


def test_knn_join_exact_is_centroid_independent(spark, sf_dir):
    """nprobe == nlist makes the cell-blocked kNN join exact: every query
    probes every cell, the candidate set is the whole corpus, and the
    top-k ranks on (score desc, neighbor_id) — so the result cannot
    depend on how the centroids were trained. Pins the identity argument
    behind q_knn_join_trained's init_mode="random" opt-in: random-init
    and k-means||-init centroids (different VALUES) must yield identical
    join output."""
    from siddhi_io_cdc_spark.functions.similarity import (
        ivf_train_centroids,
        knn_join_ivf,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where("vec_id % 50 = 0")
    c_par = ivf_train_centroids(emb, nlist=8, max_iter=3)
    c_rnd = ivf_train_centroids(emb, nlist=8, max_iter=3, init_mode="random")
    assert (c_par != c_rnd).any()  # genuinely different centroid values
    out = {}
    for tag, cents in (("par", c_par), ("rnd", c_rnd)):
        out[tag] = sorted(
            (r.query_id, r.rank, r.neighbor_id, round(r.score, 9))
            for r in knn_join_ivf(
                emb, queries, k=3, centroids=cents, nprobe=8
            ).collect()
        )
    assert out["par"] == out["rnd"]

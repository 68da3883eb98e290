"""Trainable document-quality classifier — rule distillation in pure Spark.

The FineWeb-Edu / fastText-classifier pattern for LLM training data: label a
corpus with a cheap teacher rule, fit a tiny linear model on per-document
features, keep what the model scores highly. Here the whole loop — feature
extraction, standardization, batch gradient descent, scoring — is DataFrame
expressions plus one 6-number driver collect per iteration, which makes an
iterative trainer exactly oracle-checkable (the SQL restates each iteration
as a CTE).

Determinism contract (what makes the oracle exact):
- every per-row quantity is built from integer counts and exactly-rounded
  IEEE ops (+, -, *, /, abs) — bit-identical in any engine. The squashing
  function is the RATIONAL fast sigmoid ``0.5 + z / (2 * (1 + |z|))``, not
  ``1/(1+exp(-z))``: libm ``exp`` differs across engines in the last ulp,
  the rational form cannot;
- corpus aggregates (feature moments, gradients) are double sums, whose
  cross-engine summation-order difference is ~1e-13 relative; every
  aggregate-derived scalar (mean, scale, weight) is therefore ROUNDED to 9
  decimals before use, absorbing that difference — and because BOTH engines
  re-start every iteration from the same rounded weights, the 1e-13 noise
  cannot compound across iterations;
- scores round to 6 decimals, three orders above the residual noise.

Scale notes (100 TB): features are a narrow map (one regex pass); each
training iteration is ONE corpus aggregate with map-side partial sums (the
shuffle carries 6 doubles per partition, the driver sees 6 numbers); the
model is 6 floats. Scoring is map-only with literal weights. Train on a
sample when the corpus is huge — a 6-parameter model saturates at a few
hundred thousand rows.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from siddhi_io_cdc_spark.functions.text import GOPHER_STOPWORDS
from siddhi_io_cdc_spark.util import aqe_off, fan_out as _fan_out

#: Feature order is part of the model contract (weights index into it).
FEATURE_NAMES = ("n_words", "mean_word_len", "stopword_ratio", "punct_ratio", "alpha_frac")

PUNCT_CLASS = "[.,;:!?]"


def classifier_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the five raw feature columns (f1..f5, FEATURE_NAMES order).

    All integer counts + exact divisions — bit-identical in ANSI SQL.
    ``fan_out`` widens a row-group-bound compact scan before the regex pass
    (no-op on wide inputs)."""
    c = F.col(text_col)
    words = F.regexp_extract_all(F.lower(c), F.lit("[a-z]+"), 0)
    staged = _fan_out(df).withColumn("__W", words)
    nw = F.size("__W").cast("double")
    wlen_sum = F.aggregate(
        F.transform("__W", F.length), F.lit(0), lambda a, x: a + x
    ).cast("double")
    sw_hits = F.size(
        F.filter("__W", lambda w: w.isin(list(GOPHER_STOPWORDS)))
    ).cast("double")
    nc = F.greatest(F.length(c), F.lit(1)).cast("double")
    return (
        staged.withColumn("f1", nw)
        .withColumn("f2", F.when(nw > 0, wlen_sum / nw).otherwise(F.lit(0.0)))
        .withColumn("f3", sw_hits / F.greatest(nw, F.lit(1.0)))
        .withColumn(
            "f4",
            F.size(F.regexp_extract_all(c, F.lit(PUNCT_CLASS), 0)).cast("double") / nc,
        )
        .withColumn(
            "f5",
            F.size(F.regexp_extract_all(F.lower(c), F.lit("[a-z]"), 0)).cast("double")
            / nc,
        )
        .drop("__W")
    )


def teacher_label(min_words: int = 60, min_stopword_ratio: float = 0.02) -> Column:
    """The distillation teacher: a cheap keep/drop rule over the features
    (real pipelines use a reference corpus here; the rule keeps the loop
    hermetic and oracle-checkable)."""
    return (
        ((F.col("f1") >= min_words) & (F.col("f3") >= min_stopword_ratio))
        .cast("double")
    )


def fast_sigmoid(z: Column) -> Column:
    """Rational squashing ``0.5 + z/(2(1+|z|))`` — range (0,1), monotone,
    and built only from exactly-rounded IEEE ops (see module docstring)."""
    return F.lit(0.5) + z / (F.lit(2.0) * (F.lit(1.0) + F.abs(z)))


def _round9(x: float) -> float:
    """Round a collected scalar to 9 decimals HALF-AWAY-FROM-ZERO on its
    shortest decimal repr — the same rule as Spark's ``F.round`` (Java
    ``BigDecimal.valueOf(x).setScale(9, HALF_UP)``) and DuckDB's ``round``.
    Python's built-in ``round()`` is banker's (half-to-even): an exact half
    at the 9th decimal would diverge from the oracle and desynchronize
    every subsequent GD iteration."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("1e-9"), rounding=ROUND_HALF_UP))


@dataclass(frozen=True)
class QualityClassifier:
    """6 weights (bias first) over standardized FEATURE_NAMES features."""

    weights: tuple[float, ...]
    means: tuple[float, ...]
    scales: tuple[float, ...]


def train_quality_classifier(
    df: DataFrame,
    text_col: str = "text",
    label: Column | None = None,
    n_iters: int = 10,
    lr: float = 1.5,
) -> QualityClassifier:
    """Fit the linear quality model by batch gradient descent.

    Per iteration: ONE corpus aggregate (map-side partial sums; the driver
    receives exactly 6 gradient components — a scalar handoff, not a data
    path), then a Python weight update rounded to 9 decimals. ``label``
    defaults to :func:`teacher_label`; pass any 0/1 double Column over the
    feature columns to distill a different rule.
    """
    if n_iters <= 0:
        raise ValueError(f"n_iters must be positive (got {n_iters})")
    feats = classifier_features(df, text_col)
    feats = feats.withColumn(
        "__y", label if label is not None else teacher_label()
    ).select("f1", "f2", "f3", "f4", "f5", "__y")
    # localCheckpoint (eager) both materializes the feature table ONCE and
    # CUTS its lineage: every GD iteration's aggregate then plans against a
    # leaf RDD scan instead of re-analyzing the full regex feature-
    # extraction tree — measured ~0.15 s of pure driver planning per
    # iteration at sf0.1 (10 iterations ≈ 1.5 s) with identical results.
    # Storage cost equals the persist it replaces; the blocks are freed by
    # the ContextCleaner when the trainer returns. (Trade-off vs persist:
    # no lineage to recompute from under executor loss — acceptable for a
    # bounded training table, which the docstring already says to sample
    # down at 100 TB.)
    feats = feats.localCheckpoint()
    spark = df.sparkSession
    # The training aggregates reduce to ONE row (6 doubles) — AQE has
    # nothing to adapt there at any scale, but it splits every iteration
    # into two jobs with a re-planning barrier between them. Scope it off
    # for the loop via the shared refcounted scope (race-free across
    # concurrent trainers) — measured ~0.1 s per iteration at sf0.1, and
    # at 100 TB the map-side partial aggregation is unaffected.
    try:
        with aqe_off(spark):
            # moments + row count: ONE aggregate (absorbs the old count()
            # job); every aggregate-derived scalar rounds to 9 decimals.
            aggs = [F.count(F.lit(1)).alias("n")]
            for i in range(1, 6):
                aggs.append(F.sum(F.col(f"f{i}")).alias(f"s{i}"))
                aggs.append(
                    F.sum(F.col(f"f{i}") * F.col(f"f{i}")).alias(f"q{i}")
                )
            mrow = feats.agg(*aggs).collect()[0]
            n = int(mrow["n"])
            if n == 0:
                raise ValueError("cannot train on an empty DataFrame")
            means, scales = [], []
            for i in range(1, 6):
                m = _round9(float(mrow[f"s{i}"]) / n)
                var = float(mrow[f"q{i}"]) / n - m * m
                s = _round9(var**0.5) if var > 0 else 0.0
                means.append(m)
                scales.append(s if s != 0.0 else 1.0)

            xs = [
                (F.col(f"f{i + 1}") - F.lit(means[i])) / F.lit(scales[i])
                for i in range(5)
            ]
            w = [0.0] * 6
            for _ in range(n_iters):
                z = F.lit(w[0])
                for i in range(5):
                    z = z + F.lit(w[i + 1]) * xs[i]
                resid = fast_sigmoid(z) - F.col("__y")
                grads = feats.agg(
                    F.sum(resid).alias("g0"),
                    *[F.sum(resid * xs[i]).alias(f"g{i + 1}") for i in range(5)],
                ).collect()[0]
                w = [
                    _round9(w[i] - lr * float(grads[f"g{i}"]) / n)
                    for i in range(6)
                ]
    finally:
        # The checkpointed blocks are released by the ContextCleaner once
        # the DataFrame goes out of scope (same policy as
        # dedup.connected_components' localCheckpoints).
        del feats
    return QualityClassifier(tuple(w), tuple(means), tuple(scales))


def apply_quality_classifier(
    df: DataFrame, model: QualityClassifier, text_col: str = "text"
) -> DataFrame:
    """Score a corpus with a trained model: append ``quality_prob``
    (rounded to 6) and ``quality_keep`` — map-only, literal weights, so it
    composes into any curation pipeline at full scale."""
    feats = classifier_features(df, text_col)
    z = F.lit(model.weights[0])
    for i in range(5):
        z = z + F.lit(model.weights[i + 1]) * (
            (F.col(f"f{i + 1}") - F.lit(model.means[i])) / F.lit(model.scales[i])
        )
    p = fast_sigmoid(z)
    return (
        feats.withColumn("quality_prob", F.round(p, 6))
        .withColumn("quality_keep", p >= 0.5)
        .drop("f1", "f2", "f3", "f4", "f5")
    )

"""Trainable hashed-feature logistic-regression document classifier —
the fastText-style "does this doc look like the target domain?" filter
(CCNet §3.3 / RedPajama quality signals), trained IN the engine by
batch gradient descent, with every float op arranged so training is
BIT-REPRODUCIBLE across engines, partitionings, and reruns:

- Features: L1-normalized hashed unigram counts,
  ``bucket = pmod(xxhash64(word), n_buckets)`` (the DSIR hash layout) —
  a fixed-width vector regardless of vocabulary size.
- Sigmoid: the ALGEBRAIC ``σ̃(x) = 0.5 + x / (2·(1 + |x|))`` instead of
  the logistic ``1/(1+e^{-x})`` — same shape, range, and monotonicity,
  but only +, ×, /, |·| (each correctly rounded IEEE), no libm ``exp``
  whose ulps differ across engines and would compound over iterations.
- Reductions: the per-doc dot product folds over buckets IN BUCKET
  ORDER and the per-bucket gradient folds over docs IN DOC ORDER
  (sort_array → ``aggregate``; the SBO/DuckDB ``list(... ORDER BY)`` +
  ``list_reduce`` pattern) — no partition-order float SUM anywhere.
- Updates: ``w ← w − lr·(g/N)`` with lr a power of two (0.5), so the
  scaling step is exact; the N division is one correctly-rounded op.

Each iteration pulls exactly ``n_buckets`` gradient values to the
driver (a bounded pull, the BPE/IVF/CC pattern) and re-broadcasts the
updated weight table.  At 10¹² rows everything heavy stays distributed:
the feature build is one tokenize+hash pass, each iteration is two
ordered-fold aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ocr_auto_label_spark.operators.util import local_frame

LR_BUCKETS = 64
LR_RATE = 0.5  # power of two: the scaling step is exact in binary
LR_ITERATIONS = 3


def doc_features(
    df: DataFrame,
    label_expr,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = LR_BUCKETS,
) -> DataFrame:
    """(id, y, bucket, x): L1-normalized hashed unigram features plus
    the 0/1 label.  Docs with no tokens drop out (no features)."""
    from ocr_auto_label_spark.operators.textstats import word_terms

    words = df.select(
        F.col(id_col).alias("id"),
        F.when(label_expr, F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
        F.explode(word_terms(F.col(text_col))).alias("word"),
    )
    per_bucket = (
        words.withColumn(
            "bucket", F.pmod(F.xxhash64("word"), F.lit(n_buckets)).cast("int")
        )
        .groupBy("id", "y", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    dl = per_bucket.groupBy("id").agg(F.sum("cnt").alias("dl"))
    return per_bucket.join(dl, "id").select(
        "id",
        "y",
        "bucket",
        (F.col("cnt").cast("double") / F.col("dl").cast("double")).alias("x"),
    )


def _ordered_fold(items_col: str) -> str:
    """SQL: left-fold sum of the pre-sorted struct array's last field."""
    return (
        f"aggregate(transform({items_col}, s -> s.v), "
        "CAST(0.0 AS DOUBLE), (a, v) -> a + v)"
    )


def _scores(feats: DataFrame, weights: DataFrame) -> DataFrame:
    """(id, y, dot, score): per-doc dot product (bucket-ordered fold)
    and algebraic-sigmoid score under the given weight table."""
    dots = (
        feats.join(F.broadcast(weights), "bucket")
        .select(
            "id", "y", "bucket", (F.col("w") * F.col("x")).alias("wx")
        )
        .groupBy("id", "y")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("bucket").alias("k"),
                                        F.col("wx").alias("v")))
            ).alias("items")
        )
        .select("id", "y", F.expr(_ordered_fold("items")).alias("dot"))
    )
    score = F.lit(0.5) + F.col("dot") / (
        F.lit(2.0) * (F.lit(1.0) + F.abs(F.col("dot")))
    )
    return dots.select("id", "y", "dot", score.alias("score"))


def train_quality_lr(
    df: DataFrame,
    label_expr,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = LR_BUCKETS,
    lr: float = LR_RATE,
    iterations: int = LR_ITERATIONS,
) -> tuple[list[float], DataFrame, DataFrame]:
    """Train the classifier; returns ``(weights, feats, scored)`` —
    the final per-bucket weight list (length ``n_buckets``), the
    feature frame, and the per-doc (id, y, dot, score) frame under the
    final weights."""
    if iterations < 1:
        raise ValueError("train_quality_lr: iterations must be >= 1")
    if n_buckets < 1:
        raise ValueError("train_quality_lr: n_buckets must be >= 1")
    spark = df.sparkSession
    feats = doc_features(
        df, label_expr, id_col, text_col, n_buckets
    ).localCheckpoint(eager=True)  # one corpus pass for the whole loop
    n_docs = feats.select("id").distinct().count()
    if n_docs == 0:
        raise ValueError("train_quality_lr: no documents with tokens")
    w = [0.0] * n_buckets
    for _ in range(iterations):
        wdf = local_frame(
            spark, [(b, w[b]) for b in range(n_buckets)], "bucket int, w double"
        )
        errs = _scores(feats, wdf).select(
            "id", (F.col("score") - F.col("y")).alias("e")
        )
        grads = (
            feats.join(errs, "id")
            .select("bucket", "id", (F.col("e") * F.col("x")).alias("g"))
            .groupBy("bucket")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct(F.col("id").alias("k"),
                                            F.col("g").alias("v")))
                ).alias("items")
            )
            .select("bucket", F.expr(_ordered_fold("items")).alias("g"))
        )
        gmap = {r.bucket: r.g for r in grads.collect()}  # ≤ n_buckets rows
        # w − lr·(g/N): divide, exact power-of-two scale, subtract —
        # the identical op tree the SQL oracle replays
        w = [
            w[b] - lr * (gmap.get(b, 0.0) / float(n_docs))
            for b in range(n_buckets)
        ]
    wdf = local_frame(
        spark, [(b, w[b]) for b in range(n_buckets)], "bucket int, w double"
    )
    return w, feats, _scores(feats, wdf)

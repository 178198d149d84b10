"""Broadcast fuzzy join against the canonical label dimension (SURVEY.md J5/J6).

The reference's validity test is membership in the finite grammar universe
(sampleCodePatterns.ts:111-172) and its near-miss repair is generative
prompt rules (gemini.ts:164-187).  As a relational operator: broadcast the
(small) canonical dim table, equi-join on the blocking key
(country prefix, segment count) — which keeps the pair space tiny and the
join hash-based — then score survivors with native ``F.levenshtein``
(JVM-side) and keep the best match within ``max_distance``.

This is the column-expression mirror of ``labelcore.fuzzy.canonical_match``
(same blocking, same tie-break: distance asc, then label asc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ocr_auto_label_spark.labelcore.canonical import canonical_labels
from ocr_auto_label_spark.operators.util import local_frame
from ocr_auto_label_spark.schemas import CANONICAL_SCHEMA


def canonical_dim(spark: SparkSession) -> DataFrame:
    """The grammar-derived canonical dimension table (2,000 rows)."""
    return local_frame(spark, canonical_labels(), CANONICAL_SCHEMA)


def _block_key(col: F.Column) -> tuple[F.Column, F.Column]:
    segs = F.split(col, "[.]", -1)
    return F.element_at(segs, 1), F.size(segs)


def fuzzy_canonical_join(
    df: DataFrame,
    code_col: str = "code",
    id_col: str = "code_id",
    max_distance: int = 1,
) -> DataFrame:
    """Input rows + (canonical, distance) of the nearest canonical label
    within ``max_distance`` edits (null if none).

    Plan shape: BroadcastHashJoin on (prefix, nsegs) → levenshtein filter →
    per-id argmin window.  The dim side is ~2k rows → always broadcast;
    AQE skew-join covers hot blocking keys on the probe side.  Tie-break:
    (distance asc, canonical asc) — the relational variant of
    ``labelcore.fuzzy.canonical_match`` (which additionally ranks by
    trigram similarity before the label tie-break).
    """
    spark = df.sparkSession
    dim = canonical_dim(spark)
    d_prefix, d_nsegs = _block_key(F.col("label"))
    dim_keyed = dim.select(
        F.col("label").alias("__canon"),
        d_prefix.alias("__prefix"),
        d_nsegs.alias("__nsegs"),
    )
    norm = F.upper(F.trim(F.col(code_col)))
    p_prefix, p_nsegs = _block_key(norm)
    probe = df.withColumn("__norm", norm).withColumn("__prefix", p_prefix).withColumn("__nsegs", p_nsegs)
    joined = probe.join(
        F.broadcast(dim_keyed), ["__prefix", "__nsegs"], "left"
    ).withColumn("__dist", F.levenshtein(F.col("__norm"), F.col("__canon")))
    matched = joined.withColumn(
        "__dist", F.when(F.col("__dist") <= max_distance, F.col("__dist"))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("__dist").asc_nulls_last(), F.col("__canon").asc_nulls_last()
    )
    return (
        matched.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            *df.columns,
            F.when(F.col("__dist").isNotNull(), F.col("__canon")).alias("canonical"),
            F.col("__dist").alias("distance"),
        )
    )

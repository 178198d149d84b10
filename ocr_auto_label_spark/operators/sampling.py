"""Deterministic sampling / dataset-split operators.

A training-data pipeline needs reproducible train/val/test splits and
down-samples that (a) never change when the corpus is re-read in a
different order or partitioning, (b) need no stored assignment table,
and (c) cost one narrow projection — no shuffle, no RNG state.  The
standard recipe is hash-based bucketing: ``bucket = pmod(xxhash64(id),
B)`` and split boundaries as cumulative bucket ranges.  Every engine
replica computes the same assignment independently (xxhash64 is a pure
function of the id), so the split is stable across runs, clusters, and
engines — the same property the lineage layer relies on.

Scale shape: a per-row hash + compare inside whole-stage codegen; at
100 TB this adds nothing to the scan cost and the split can be used as
a pushed-down filter (``hash_sample``) so downstream stages read only
the sampled fraction.

The DuckDB oracle replicates Spark's ``xxhash64(BIGINT)`` bit-exactly
via ``functions.xxh64_sql.xxh64_long8_stages`` (XXH64 of the 8-byte
little-endian word, seed 42 — Spark XXH64.hashLong), so assignments are
value-hash-compared, not just counted.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import Column, DataFrame, Window, functions as F

from ocr_auto_label_spark.operators.textstats import all_word_ngrams, word_tokens


def checked_id_hash(id_col: Column) -> Column:
    """Signed xxhash64 (seed 42) of a NON-NULL long id.  NULL ids must
    fail loudly: ``xxhash64(NULL)`` silently evaluates to the seed, which
    would collapse every null-id row into one bucket/shard/rank key — and
    diverge from the SQL oracles, which propagate NULL instead.  The
    check runs on the CAST value: on ANSI-off clusters a non-numeric
    string id casts to NULL, which would otherwise slip past a pre-cast
    null check and silently degenerate the whole assignment."""
    as_long = id_col.cast("long")
    checked = F.when(
        as_long.isNull(),
        F.raise_error(
            F.lit("sampling: NULL or non-numeric id — hash assignment "
                  "requires ids that cast to a non-null long")
        ),
    ).otherwise(as_long)
    return F.xxhash64(checked)


def hash_bucket(id_col: Column, buckets: int = 100) -> Column:
    """Stable bucket in [0, buckets) from xxhash64 of ``id_col`` (seed 42,
    Spark's default).  ``pmod`` (not ``%``) because xxhash64 is signed:
    Java ``%`` keeps the dividend's sign and half of all hashes are
    negative."""
    return F.pmod(checked_id_hash(id_col), F.lit(buckets))


def deterministic_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[int, ...] = (80, 10, 10),
    names: tuple[str, ...] = ("train", "val", "test"),
    buckets: int = 100,
) -> DataFrame:
    """Add ``bucket`` and ``split`` columns: reproducible hash-based
    train/val/test assignment.  ``weights`` are bucket counts summing to
    ``buckets``; split *i* owns the cumulative bucket range
    [Σw[:i], Σw[:i+1]).  Pure narrow projection — no shuffle, no RNG."""
    if len(weights) != len(names):
        raise ValueError("deterministic_split: len(weights) != len(names)")
    if any(w < 0 for w in weights):
        raise ValueError("deterministic_split: weights must be non-negative")
    if sum(weights) != buckets:
        raise ValueError(
            f"deterministic_split: weights must sum to buckets ({buckets}), "
            f"got {sum(weights)}"
        )
    clash = {"bucket", "split"} & set(df.columns)
    if clash:
        raise ValueError(
            f"deterministic_split: input already has column(s) {sorted(clash)} "
            "— refusing to silently overwrite an existing assignment"
        )
    bucket = hash_bucket(F.col(id_col), buckets)
    hi = 0
    conds = []
    for w, n in zip(weights, names):
        hi += w
        conds.append((hi, n))
    split: Column = F.lit(names[-1])
    for hi_bound, name in reversed(conds[:-1]):
        split = F.when(F.col("bucket") < hi_bound, F.lit(name)).otherwise(split)
    return df.withColumn("bucket", bucket).withColumn("split", split)


def _first_k_per_group(
    df: DataFrame, group_col: str, id_col: str, quota: dict
) -> DataFrame:
    """Keep the first ``quota[g]`` rows of each group ``g`` in
    ``(xxhash64(id), id)`` order, the split's hash family, so the
    survivors are stable across runs, partitionings and engines.  Groups
    missing from ``quota`` keep nothing.  One window shuffle keyed by
    group; the quota folds into the filter as a literal CASE, so there is
    no second join.  Adds ``mix_rank``."""
    w = Window.partitionBy(group_col).orderBy(
        checked_id_hash(F.col(id_col)), id_col
    )
    keep: Column = F.lit(0).cast("long")
    for g in sorted(quota, key=str, reverse=True):
        keep = F.when(F.col(group_col) == g, F.lit(quota[g])).otherwise(keep)
    return (
        df.withColumn("mix_rank", F.row_number().over(w))
        .filter(F.col("mix_rank") <= keep)
    )


def mixture_sample(
    df: DataFrame,
    group_col: str,
    weights: dict[str, int],
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic domain-mixture down-sample: keep per-group counts in
    the exact integer proportion of ``weights`` (the DoReMi/data-mixing
    recipe — rebalance sources to a target mixture without RNG state).

    The scarcest group relative to its weight binds the total: with
    ``(g*, n*, w*) = argmin n_g/w_g`` (ties → lexicographically smallest
    group), group g keeps ``n* · w_g // w*`` rows — pure integer
    arithmetic, so the DuckDB oracle reproduces every count exactly, and
    ``keep_g ≤ n_g`` holds by construction.  Which rows survive is
    :func:`_first_k_per_group`'s hash rank.

    Scale shape: one bounded driver pull (a row per DOMAIN — dozens, not
    data-sized), one window shuffle keyed by group.  Skewed domains are
    exactly the hot keys AQE splits.

    Adds ``mix_rank``; returns only surviving rows.
    """
    if any(w <= 0 for w in weights.values()):
        raise ValueError("mixture_sample: weights must be positive")
    # bounded pull: one row per domain (also the missing-weight check —
    # one driver round-trip, not a separate distinct() job)
    counts = {r[0]: r[1] for r in df.groupBy(group_col).count().collect()}
    missing = sorted(g for g in counts if g not in weights)
    if missing:
        raise ValueError(f"mixture_sample: no weight for groups {missing}")
    absent = sorted(g for g in weights if g not in counts)
    if absent:
        # a weighted group with zero rows makes the requested mixture
        # unachievable — fail loudly rather than silently return a
        # degenerate mixture dominated by whatever data exists
        raise ValueError(f"mixture_sample: weighted groups absent from data: {absent}")
    # exact rational argmin (Fraction, not float division: two unequal
    # ratios near 2^53 can collide as doubles and pick the wrong binding
    # group, breaking keep_g <= n_g); the SQL oracle uses the matching
    # integer cross-multiplication form
    star = min(counts, key=lambda g: (Fraction(counts[g], weights[g]), g))
    n_star, w_star = counts[star], weights[star]
    keep = {g: n_star * weights[g] // w_star for g in counts}
    return _first_k_per_group(df, group_col, id_col, keep)


def temperature_resample(
    df: DataFrame,
    group_col: str,
    alpha: float,
    total: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based mixture rebalancing (the multilingual-LM data
    recipe — XLM-R §3.1 / mT5 §3.2 sample languages with probability
    ∝ n_g^α, α ∈ (0, 1]): low-resource groups are UPSAMPLED relative to
    their corpus share (α = 1 reduces to proportional sampling, α → 0 to
    uniform-across-groups).  This is sampling WITHOUT replacement, so
    each target is additionally capped at the group's size.

    Determinism contract (same as :func:`mixture_sample`): the per-group
    counts are a BOUNDED driver pull (one row per group), the float
    ``n^α`` shares and the integerization run in ONE place (the driver —
    never per-executor, so libm/accumulation differences cannot split the
    cluster's view of the targets), largest-remainder rounding makes the
    targets sum EXACTLY to ``min(total, feasible)`` with a tie-break on
    the keys as strings, and which rows survive is
    :func:`_first_k_per_group`'s hash rank.

    NULL groups raise.  Adds ``mix_rank``; returns only surviving rows.
    """
    if not 0 < alpha <= 1:
        raise ValueError("temperature_resample: alpha must be in (0, 1]")
    if total <= 0:
        raise ValueError("temperature_resample: total must be positive")
    counts = {r[0]: int(r[1]) for r in df.groupBy(group_col).count().collect()}
    if not counts:
        raise ValueError("temperature_resample: empty input")
    if None in counts:  # a NULL group matches no target: rows would vanish
        n_null = counts[None]
        raise ValueError(f"temperature_resample: {n_null} rows have a NULL {group_col}")
    shares = {g: float(n) ** alpha for g, n in counts.items()}
    remaining = float(sum(shares.values()))
    left = total
    targets: dict[str, int] = {}
    # iterative largest-remainder with per-group caps: capped groups
    # return their surplus to the pool, redistributed over uncapped
    # groups by the same share rule until stable (≤ #groups rounds)
    open_groups = dict(shares)
    while left > 0 and open_groups:
        quota = {g: left * s / remaining for g, s in open_groups.items()}
        base = {g: min(int(quota[g]), counts[g] - targets.get(g, 0))
                for g in open_groups}
        rem = sorted(
            open_groups,
            key=lambda g: (-(quota[g] - int(quota[g])), str(g)),
        )
        alloc = dict(base)
        short = left - sum(base.values())
        for g in rem:
            if short <= 0:
                break
            room = counts[g] - targets.get(g, 0) - alloc[g]
            if room > 0:
                alloc[g] += 1
                short -= 1
        progressed = False
        for g, k in alloc.items():
            if k > 0:
                targets[g] = targets.get(g, 0) + k
                left -= k
                progressed = True
        open_groups = {
            g: s for g, s in open_groups.items()
            if counts[g] - targets.get(g, 0) > 0
        }
        remaining = float(sum(open_groups.values()))
        if not progressed:
            break
    return _first_k_per_group(df, group_col, id_col, targets)


def cross_split_contamination(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    split_col: str = "split",
    n: int = 13,
    train_name: str = "train",
) -> DataFrame:
    """Benchmark decontamination: for every NON-train document, count how
    many of its distinct word-``n``-grams also appear in ANY train
    document (the GPT-3 §C recipe — 13-gram overlap against the training
    corpus flags eval contamination).  Returns one row per non-train doc:
    ``(id, n_grams, n_contam)`` — exact integers, so the DuckDB oracle
    compares per-doc values with no float games.

    Scale shape: grams are deduplicated PER DOC before the explode (the
    shuffle carries each doc's distinct grams once, not every
    occurrence); the train side collapses to a distinct-gram set (one
    map-side-combined shuffle); the probe is a plain equi-join on the
    gram — AQE handles skewed grams (boilerplate phrases).  At PB scale
    you'd fingerprint grams to 8-byte ``xxhash64`` first to cut shuffle
    width ~10×; the join shape is identical, so this string-keyed form
    is the oracle-checkable twin of that plan."""
    grams = df.select(
        F.col(id_col).alias("id"),
        F.col(split_col).alias("sp"),
        F.explode(
            F.array_distinct(all_word_ngrams(word_tokens(F.col(text_col)), n))
        ).alias("gram"),
    )
    train_grams = grams.filter(F.col("sp") == train_name).select("gram").distinct()
    eval_grams = grams.filter(F.col("sp") != train_name)
    totals = eval_grams.groupBy("id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        eval_grams.join(train_grams, "gram")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_contam"))
    )
    all_eval = df.filter(F.col(split_col) != train_name).select(
        F.col(id_col).alias("id")
    )
    return (
        all_eval.join(totals, "id", "left")
        .join(hits, "id", "left")
        .select(
            "id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_contam", F.lit(0)).cast("long").alias("n_contam"),
        )
    )


def hash_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    numerator: int = 10,
    buckets: int = 100,
) -> DataFrame:
    """Deterministic ``numerator/buckets`` down-sample: keep rows whose
    hash bucket < numerator.  The predicate is a pure function of the id
    column, so it composes with any scan and never resamples."""
    if not 0 <= numerator <= buckets:
        raise ValueError("hash_sample: numerator must be in [0, buckets]")
    return df.filter(hash_bucket(F.col(id_col), buckets) < numerator)

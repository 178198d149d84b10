"""Deduplication operators for training-data pipelines.

Five strategies, all built from JVM-side column expressions (zero Python
in the hot path) and designed for 100TB inputs:

- exact:          md5-hash window — one shuffle on the hash key, keeps
                   the min-id row of each group.
- shingle Jaccard: blocked pairwise 3-gram Jaccard — equi-join blocking
                   keys bound the candidate-pair explosion.
- MinHash + LSH:  shingles → k minhashes → b bands → bucket equi-join.
                   Only same-bucket pairs are verified; shuffle volume is
                   O(rows·bands), never O(rows²).
- SimHash:        64-bit token-weight simhash; near-dups share the hash
                   (or a band of it).
- embedding:      cosine near-dup over `array<float>` with coarse
                   LSH-style length-bucket blocking.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ocr_auto_label_spark.operators.textstats import (
    all_word_ngrams, cased_tokens, let, word_tokens,
)
from ocr_auto_label_spark.operators.util import ensure_parallelism


def char_shingles(col_name: str, width: int = 3) -> Column:
    """Distinct character ``width``-gram shingle array (JVM-side)."""
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(length({col_name}) - {width - 1}, 1)), "
        f"i -> substring({col_name}, i, {width})))"
    )


def word_shingles(col_name: str, width: int = 3) -> Column:
    """Distinct word ``width``-gram shingles (JVM-side).

    The standard document-level alternative to character shingles: ~6×
    fewer shingles per document (one per token instead of one per char),
    so the minhash explode+agg touches ~6× fewer rows at equal recall for
    document-scale near-dup detection."""
    return let(
        word_tokens(F.col(col_name)),
        # a document shorter than ``width`` is ONE shingle: all its words
        lambda t: F.when(
            F.size(t) >= width, F.array_distinct(all_word_ngrams(t, width))
        ).otherwise(F.array(F.array_join(t, " "))),
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id row of each exact-duplicate group (the rows sharing
    ``md5(text)``), with ``dup_count``, the group's size.

    One window shuffle on the content hash, no join; row number and group
    size share the window, and a caller that drops ``dup_count`` drops
    its computation with it."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("dup_count", F.count(F.lit(1)).over(whole))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def jaccard_pairs(
    df: DataFrame,
    block_cols: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_width: int = 3,
) -> DataFrame:
    """Blocked pairwise n-gram Jaccard near-dup pairs.

    Pairs are generated only within equal ``block_cols`` values (equi-join
    → hash join, prunable), then scored with
    |A∩B| / |A∪B| over distinct shingles.  Output:
    (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    """
    base = ensure_parallelism(df).select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("id"),
        char_shingles(text_col, shingle_width).alias("sh"),
    )
    a = base.alias("a")
    b = base.alias("b")
    cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in block_cols]
    # scoring parallelism comes from the probe side (ensure_parallelism
    # above) — with the build side broadcast/AQE-handled, the pair stage
    # inherits `a`'s partitioning.  Repartitioning the pair stream would
    # shuffle two full shingle arrays per pair and pin the stage's
    # partition count; hot blocks under a shuffle join are AQE skew-join
    # territory (spark.sql.adaptive.skewJoin.enabled, session.py).
    pairs = (
        a.join(b, cond, "inner")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"), F.col("b.sh").alias("sh_b"),
        )
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    return (
        pairs.select(
            "id_a", "id_b",
            F.round(inter / F.greatest(union, F.lit(1)), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_width: int = 5,
    shingle_fn=char_shingles,
) -> DataFrame:
    """(id, sig array<bigint>) — k-permutation MinHash.

    h_i(doc) = min over shingles of xxhash64(shingle, i); xxhash64's seed
    argument gives k independent hash families without string concat.

    Physical shape: explode shingles → groupBy(id) with k codegen'd
    ``min`` aggregates → pack into an array.  This stays inside
    whole-stage codegen with map-side partial aggregation; the
    nested-lambda formulation (transform ∘ array_min ∘ transform) runs
    interpreted at ~1µs/hash and is ~10× slower."""
    exploded = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.explode(shingle_fn(text_col, shingle_width)).alias("sh"),
    )
    aggs = [
        F.min(F.xxhash64(F.col("sh"), F.lit(i))).alias(f"h{i}") for i in range(num_hashes)
    ]
    agg = exploded.groupBy("id").agg(*aggs)
    return agg.select("id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig"))


def optimal_bands(num_hashes: int, threshold: float) -> int:
    """Pick the band count whose S-curve best matches ``threshold``.

    Standard LSH tuning (cf. Leskovec/Rajaraman/Ullman ch.3, datasketch's
    ``_optimal_param``): for each divisor pair (b, r) with b·r = k, the
    candidate probability at similarity s is 1-(1-s^r)^b; minimize the
    integrated false-positive mass below the threshold plus false-negative
    mass above it.  A fixed (b, r) tuned for one threshold either floods
    the verifier with candidates (t* ≪ threshold on a dense corpus) or
    silently drops true pairs (t* ≫ threshold).
    """
    import math

    best_b, best_err = num_hashes, math.inf
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        steps = 100
        fp = sum(
            1 - (1 - (threshold * i / steps) ** r) ** b for i in range(steps)
        ) * threshold / steps
        fn = sum(
            1 - (1 - (1 - (threshold + (1 - threshold) * i / steps) ** r) ** b)
            for i in range(steps)
        ) * (1 - threshold) / steps
        err = fp * 0.5 + fn * 0.5
        if err < best_err:
            best_b, best_err = b, err
    return best_b


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_width: int = 5,
    shingle_fn=char_shingles,
    sig: DataFrame | None = None,
) -> DataFrame:
    """MinHash + LSH banding: candidate near-dup pairs.

    rows → signatures → explode into ``bands`` band-hashes → self-join on
    (band, band_hash).  Shuffle is O(rows·bands); the quadratic blowup is
    confined to genuinely colliding buckets (AQE skew-join splits hot
    buckets).  Output: distinct (id_a, id_b) candidates, id_a < id_b.

    Pass a precomputed ``sig`` (from ``minhash_signatures``) to share the
    signature build — the explode-all-shingles + k-min groupBy is the
    dominant stage, and an identical subtree lets Spark's ReuseExchange
    compute it once for every consumer in the same plan.
    """
    rows_per_band = num_hashes // bands
    if sig is None:
        sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_width, shingle_fn)
    banded = sig.select(
        "id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), b -> "
                f"xxhash64(to_json(slice(sig, b * {rows_per_band} + 1, {rows_per_band})), b))"
            )
        ).alias("band", "band_hash"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int | None = None,
    threshold: float = 0.5,
    shingle_width: int = 5,
    shingle_fn=char_shingles,
) -> DataFrame:
    """LSH candidates → cheap signature-estimate prefilter → exact Jaccard.

    ``bands=None`` (default) tunes the banding to the threshold via
    ``optimal_bands`` — the S-curve midpoint lands near the threshold, so
    candidate volume stays bounded on vocabulary-dense corpora instead of
    degenerating toward all-pairs.

    Two-stage verification is what survives skewed corpora: a vocabulary-
    dense corpus makes LSH buckets collide far below the threshold, and
    exact shingle intersection on every candidate (|shingles| string
    compares per pair) becomes the bottleneck.  The signature estimate
    (mean of 32 long equalities via zip_with) is ~two orders cheaper and
    prunes sub-threshold candidates before the exact pass."""
    if bands is None:
        bands = optimal_bands(num_hashes, threshold)
    # ONE signature build threaded through candidates AND the estimate
    # prefilter: the identical subtree means Spark's ReuseExchange runs
    # the explode+groupBy signature stage (the dominant cost) once, not
    # twice — asserted in tests/test_physical_plans.py.
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_width, shingle_fn)
    cands = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes, bands, shingle_width, shingle_fn, sig=sig
    )
    with_sigs = (
        cands.join(sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a")
        .join(sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
    )
    est = F.expr(
        f"aggregate(zip_with(sig_a, sig_b, (x, y) -> if(x = y, 1, 0)), 0, (s, v) -> s + v)"
        f" / cast({num_hashes} as double)"
    )
    # estimator slack: keep anything within ~2σ of the threshold
    survivors = with_sigs.filter(est >= threshold - 0.15).select("id_a", "id_b")
    sh = ensure_parallelism(df).select(
        F.col(id_col).alias("id"), shingle_fn(text_col, shingle_width).alias("sh")
    )
    joined = (
        survivors
        .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        joined.select(
            "id_a", "id_b",
            F.round(inter / F.greatest(union, F.lit(1)), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash64(col_name: str) -> Column:
    """64-bit SimHash over whitespace tokens, pure JVM expressions.

    For each bit position, sum ±1 votes from each token's xxhash64 bit;
    bit set iff the vote is positive.  aggregate() keeps it one pass."""

    def fingerprint(toks: Column) -> Column:
        def vote(j: Column) -> Column:
            # majority vote over tokens of bit j of xxhash64(token)
            return F.aggregate(toks, F.lit(0), lambda v, t: v + F.when(
                F.call_function("shiftright", F.xxhash64(t), j).bitwiseAND(1) == 1, 1
            ).otherwise(-1))

        return F.aggregate(
            F.sequence(F.lit(0), F.lit(63)), F.lit(0).cast("bigint"),
            lambda acc, j: acc
            + F.call_function("shiftleft", (vote(j) > 0).cast("bigint"), j),
        )

    return let(word_tokens(F.col(col_name)), fingerprint)


def simhash_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Docs sharing an identical simhash → duplicate groups."""
    return (
        df.select(F.col(id_col).alias("id"), simhash64(text_col).alias("simhash"))
        .groupBy("simhash")
        .agg(F.min("id").alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Duplicate-CLUSTER extraction from a near-dup pair stream:
    (id, component) per node, component = min node id reachable through
    the pair graph — the standard way a 100TB dedup pipeline goes from
    pairwise evidence to keep/drop decisions (one canonical doc per
    component).

    Min-label propagation WITH pointer jumping: every round each node
    takes the min of its own and its neighbors' labels, then jumps to
    its new label's own (pre-round) label — the path-halving that turns
    O(diameter) convergence into O(log diameter) rounds (the
    alternating-star recipe), so even chain-shaped components converge
    in a handful of O(|edges|) shuffles; the transitive closure is never
    materialized.  The driver-side loop pulls ONE aggregate scalar per
    round (the converged? count), the standard shape for iterative
    DataFrame algorithms (GraphFrames does the same).  Each round's
    labels are eagerly localCheckpoint-ed to cut the otherwise
    exponentially-nesting join lineage; on a fault-tolerant cluster run,
    substitute a durable ``checkpoint()`` (same plan shape).
    """
    if max_iterations < 1:
        raise ValueError("connected_components: max_iterations must be >= 1")
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
    )
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    changed = 0
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("component").alias("nbr_component"))
        )
        step = labels.join(neighbor_min, "id", "left").select(
            "id",
            F.col("component").alias("__old"),
            F.least(
                F.col("component"),
                F.coalesce(F.col("nbr_component"), F.col("component")),
            ).alias("__tmp"),
        )
        # pointer jump: follow the new label to ITS pre-round label
        # (labels always point at real node ids, so the join total-maps)
        parent = labels.select(
            F.col("id").alias("__tmp"), F.col("component").alias("__parent")
        )
        updated = step.join(parent, "__tmp", "left").select(
            "id",
            F.least(F.col("__tmp"), F.coalesce("__parent", "__tmp")).alias("component"),
            (
                F.least(F.col("__tmp"), F.coalesce("__parent", "__tmp"))
                < F.col("__old")
            ).cast("long").alias("__changed"),
        )
        updated = updated.localCheckpoint(eager=True)  # cut lineage growth
        changed = updated.agg(F.sum("__changed")).collect()[0][0] or 0
        labels = updated.drop("__changed")
        if changed == 0:
            break
    else:
        # exhausting the budget without a fixed point would silently split
        # a true duplicate cluster downstream (ADVICE r3) — surface it
        if changed:
            import warnings

            warnings.warn(
                f"connected_components: no convergence after {max_iterations} "
                f"iterations ({changed} labels still moving) — returned "
                "components may be split; raise max_iterations",
                RuntimeWarning,
                stacklevel=2,
            )
    return labels


def remove_duplicated_spans(
    df: DataFrame,
    width: int = 25,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    text_col: str = "text",
) -> DataFrame:
    """Duplicated-substring REMOVAL (Lee et al. 2021 §4, the transform the
    ``duplicated_span_stats`` signal motivates): any exact ``width``-token
    span occurring more than once in the corpus keeps exactly ONE copy —
    the occurrence with the lexicographically-smallest occurrence key
    ``key_cols/zero-padded position`` — and every other occurrence's
    tokens are removed; each row's text is rebuilt from its surviving
    tokens in order.  Overlapping duplicate occurrences union their
    covered positions, so removal never double-counts.

    Deterministic by construction (the canonical pick is a total order),
    engine-portable (ASCII byte order), and all-integer/string — an
    independent SQL replay matches byte-for-byte.

    Scale shape: one span-keyed aggregate (count + min-key, both
    map-side combined — hot boilerplate spans collapse per task before
    the shuffle), one span equi-join back (AQE skew-splittable), a
    coverage explode bounded by ``width × duplicate occurrences``, one
    anti-join on (keys, pos), one per-row regroup.  Nothing is
    all-pairs.  At PB scale, fingerprint the span to ``xxhash64`` for
    the aggregate/join legs (narrower shuffle, same shape).

    Output: ``(*key_cols, new_text, n_tokens, n_kept_tokens)`` — one row
    per input row (rows losing every token, or empty to begin with, come
    back with ``new_text = ''``).
    """
    if width <= 0:
        raise ValueError("remove_duplicated_spans: width must be positive")
    keys = list(key_cols)
    toks = cased_tokens(F.col(text_col))
    base = df.select(
        *keys, toks.alias("__toks"), F.size(toks).alias("n_tokens")
    )
    tok = base.select(
        *keys, F.posexplode(F.col("__toks")).alias("pos", "token")
    )
    okey = F.concat_ws(
        "/",
        *[F.lpad(F.col(c).cast("string"), 12, "0") if c != keys[0]
          else F.col(c).cast("string") for c in keys],
        F.lpad(F.col("p").cast("string"), 12, "0"),
    )
    occ = base.select(
        *keys,
        F.posexplode(all_word_ngrams(F.col("__toks"), width)).alias("p", "span"),
    ).withColumn("okey", okey)
    stats = occ.groupBy("span").agg(
        F.count(F.lit(1)).alias("cnt"), F.min("okey").alias("canon")
    )
    covered = (
        occ.join(stats, "span")
        .filter((F.col("cnt") > 1) & (F.col("okey") != F.col("canon")))
        .select(
            *keys,
            F.explode(
                F.sequence(F.col("p"), F.col("p") + width - 1)
            ).alias("pos"),
        )
        .distinct()
    )
    kept = tok.join(covered, [*keys, "pos"], "left_anti")
    rebuilt = kept.groupBy(*keys).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("token")))
                ),
                lambda x: x.token,
            ),
            " ",
        ).alias("new_text"),
        F.count(F.lit(1)).alias("n_kept_tokens"),
    )
    return base.join(rebuilt, keys, "left").select(
        *keys,
        F.coalesce(F.col("new_text"), F.lit("")).alias("new_text"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.coalesce(F.col("n_kept_tokens"), F.lit(0))
        .cast("long").alias("n_kept_tokens"),
    )

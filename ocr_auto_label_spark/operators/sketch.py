"""Count-min sketch over a token stream: fixed-size, mergeable term-
frequency state with point-query estimates.

Why a CMS at 10¹²-turn scale: an exact term→count table over a web-scale
corpus is itself corpus-sized (the vocabulary of 100 TB of text does not
fit an executor), while a CMS is a CONSTANT-size (depth × width) integer
grid whose cells are plain sums — perfectly map-side combinable, and two
sketches over different data slices merge by cell-wise addition, so the
same operator serves batch partitions and streaming micro-batches
(upgrade path: keep the grid as applyInPandasWithState state).  The
price is one-sided error: estimates only ever OVER-count (collisions add
mass), with the classic (ε, δ) bound width = e/ε, depth = ln(1/δ).

Hash family: row j uses Spark's chained ``xxhash64(j, term)`` — the
IntegerType child hashes 4-byte-LE with seed 42 and its hash seeds the
term's string hash (functions/xxh64_sql.py replays both stages in SQL,
so a DuckDB oracle can rebuild the exact grid).  With a power-of-two
``width``, ``pmod(signed_hash, width)`` equals the unsigned hash mod
width (2⁶⁴ ≡ 0 mod 2^k), which keeps the oracle a one-liner.

Reference tie-in: the reference counts term/label frequencies exactly on
one node (e.g. duplicate-name tallies, app.ts:214-230); this is the
bounded-memory shape those tallies must take at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ocr_auto_label_spark.operators.textstats import word_terms
from ocr_auto_label_spark.operators.util import local_frame

CMS_DEPTH = 4
CMS_WIDTH = 1024


def _bucket(j: int, term, width: int):
    # chained xxhash64: int row index (4-byte LE, seed 42) seeds the
    # term's string hash — the family the SQL oracle replays bit-exactly
    return F.pmod(
        F.xxhash64(F.lit(j).cast("int"), term), F.lit(width)
    ).cast("int")


def cms_build(
    df: DataFrame,
    text_col: str = "text",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """(row_j, bucket, cnt) — the non-empty cells of the depth×width
    grid counting every token OCCURRENCE (not distinct) in ``text_col``.

    One tokenize+explode pass; each token fans out to ``depth`` cells in
    a generated array (no per-row Python anywhere), then a single
    map-side-combined aggregation — ≤ depth·width result rows no matter
    the corpus size.  Absent cells mean count 0."""
    if depth < 1 or width < 1:
        raise ValueError("cms_build: depth and width must be >= 1")
    cells = df.select(F.explode(word_terms(F.col(text_col))).alias("term")).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row_j"),
                        _bucket(j, F.col("term"), width).alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("c")
    )
    return (
        cells.select("c.row_j", "c.bucket")
        .groupBy("row_j", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Cell-wise sum of two same-shaped sketches — the property that
    makes the CMS a distributed/streaming counter: sketch(A ∪ B) ==
    merge(sketch(A), sketch(B)) exactly, for any split of the data."""
    return (
        a.unionByName(b)
        .groupBy("row_j", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    probe_terms: list[str],
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """(term, est) point queries: est = min over rows j of the probed
    cell, the standard CMS estimator (never under the true count).

    The probe side is a tiny literal frame (depth × |probe_terms| rows)
    and the sketch is broadcast — it is ≤ depth·width rows by
    construction, the whole point of the structure — so a missing cell
    reads as 0 through a left join with no shuffle.  ``depth``/``width``
    must match the build call — the sketch carries no header row by
    design (it stays a pure cell table so merges are unions)."""
    if not probe_terms:
        raise ValueError("cms_estimate: probe_terms must be non-empty")
    terms = [t.lower() for t in probe_terms]
    if len(set(terms)) != len(terms):
        raise ValueError("cms_estimate: probe_terms must be distinct")
    spark = sketch.sparkSession
    probes = local_frame(spark, [(t,) for t in terms], "term string")
    cells = probes.select(
        "term",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row_j"),
                        _bucket(j, F.col("term"), width).alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("c"),
    ).select("term", "c.row_j", "c.bucket")
    hit = cells.join(
        F.broadcast(sketch), ["row_j", "bucket"], "left"
    ).select("term", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"))
    return hit.groupBy("term").agg(F.min("cnt").alias("est"))


HLL_P = 10  # 2^10 = 1024 registers


def hll_constants(p: int) -> tuple[int, int, float]:
    """(m, kp1, numer): register count, the exact-integer scaling
    exponent, and the Python-folded double numerator α_m·m²·2^kp1 —
    shared by the operator AND oracle generators so both engines divide
    by the bit-identical constant."""
    m = 1 << p
    kp1 = 64 - p + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    numer = alpha * float(m) * float(m) * float(1 << kp1)
    return m, kp1, numer


def hll_registers(
    df: DataFrame, text_col: str = "text", p: int = HLL_P
) -> DataFrame:
    """(bucket, max_rank): HyperLogLog registers (Flajolet et al. 2007)
    over the corpus's term stream — the constant-size distinct-counting
    state complementing the CMS's frequency state.  Like the CMS it is
    map-side combinable and MERGEABLE (register-wise max), so the same
    operator serves partitions, days, and streaming micro-batches.

    bucket = top ``p`` bits of xxhash64(term); rank = leading zeros of
    the remaining 64−p bits + 1.  The rank is computed with INTEGER/
    STRING ops only — bit length via the base-2 digit string
    (``conv``/``bin``), never a float log2 — so registers are exact and
    the DuckDB oracle matches them value-for-value.  Registers max over
    the raw occurrence stream (max over a multiset equals max over its
    set, so no distinct shuffle is needed before the aggregate)."""
    if not 4 <= p <= 16:
        raise ValueError("hll_registers: p must be in [4, 16]")
    k = 64 - p
    mask = (1 << k) - 1
    rows = (
        df.select(F.explode(word_terms(F.col(text_col))).alias("term"))
        .select(F.xxhash64("term").alias("h"))
        .select(
            F.shiftrightunsigned(F.col("h"), k).cast("int").alias("bucket"),
            F.col("h").bitwiseAND(F.lit(mask)).alias("r"),
        )
    )
    rank = (
        F.when(F.col("r") == 0, F.lit(k + 1))
        .otherwise(F.lit(k + 1) - F.length(F.conv(F.col("r"), 10, 2)))
        .cast("int")
    )
    return (
        rows.select("bucket", rank.alias("rank"))
        .groupBy("bucket")
        .agg(F.max("rank").alias("max_rank"))
    )


def hll_estimate(registers: DataFrame, p: int = HLL_P) -> DataFrame:
    """One row (n_buckets_hit, estimate_raw, estimate): the HLL
    cardinality estimator — raw α_m·m²/Σ2^(−M_j) plus the standard
    small-range LINEAR-COUNTING correction (Flajolet et al. 2007 §4:
    when raw ≤ 2.5m and empty registers exist, m·ln(m/V) with V = empty
    registers is the better estimator; at corpus scale the raw branch
    dominates, but the corrected column is what you'd actually read).

    Float discipline: Σ2^(−M_j) is accumulated as the EXACT integer
    Σ2^((64−p+1)−M_j) — every summand a power of two that fits a long,
    summed losslessly in decimal/hugeint, absent registers contributing
    2^(64−p+1) each — then ONE cast to double and ONE divide by the
    Python-folded constant α_m·m²·2^(64−p+1); ``estimate_raw`` is
    therefore bit-stable across engines.  The corrected branch uses
    ``ln`` (libm, cross-engine ulp jitter) — callers comparing it
    cross-engine quantize it like unigram_nll (1e-3 floor)."""
    if not 4 <= p <= 16:
        raise ValueError("hll_estimate: p must be in [4, 16]")
    m, kp1, numer = hll_constants(p)
    agg = registers.agg(
        F.count(F.lit(1)).alias("n_hit"),
        F.sum(
            F.expr(
                f"CAST(shiftleft(CAST(1 AS BIGINT), {kp1} - max_rank) "
                "AS DECIMAL(38,0))"
            )
        ).alias("s_hit"),
    )
    s_total = (
        F.coalesce(F.col("s_hit"), F.lit(0).cast("decimal(38,0)"))
        + (F.lit(m) - F.col("n_hit")).cast("decimal(38,0)")
        * F.lit(1 << kp1).cast("decimal(38,0)")
    )
    raw = (F.lit(numer) / s_total.cast("double")).alias("estimate_raw")
    out = agg.select(
        F.col("n_hit").cast("long").alias("n_buckets_hit"), raw
    )
    corrected = F.when(
        (F.col("n_buckets_hit") < m)
        & (F.col("estimate_raw") <= F.lit(2.5 * m)),
        F.lit(float(m))
        * F.log(
            F.lit(float(m))
            / (F.lit(m) - F.col("n_buckets_hit")).cast("double")
        ),
    ).otherwise(F.col("estimate_raw"))
    return out.select(
        "n_buckets_hit", "estimate_raw", corrected.alias("estimate")
    )


BLOOM_M = 8192  # bits; power of two so unsigned mod == pmod in SQL


def bloom_build(
    df: DataFrame,
    text_col: str = "text",
    k: int = CMS_DEPTH,
    m: int = BLOOM_M,
) -> DataFrame:
    """(bit_pos): the set bits of a classic Bloom filter over the
    corpus's terms — k hash functions (the SAME chained xxhash64(j,
    term) family as the CMS, so one oracle hash pass serves both
    sketches) into one shared m-bit array.  Constant-size (≤ m rows),
    mergeable by plain DISTINCT UNION, no false negatives ever; false
    positives at the classic (1−e^{−kn/m})^k rate.  The membership
    companion to the CMS (frequency) and HLL (cardinality): at corpus
    scale this is the "might this URL/doc-hash/n-gram be in the
    blocklist?" prefilter that saves the exact anti-join for the few
    candidates that hit."""
    if k < 1 or m < 1:
        raise ValueError("bloom_build: k and m must be >= 1")
    return (
        df.select(F.explode(word_terms(F.col(text_col))).alias("term"))
        .select(
            F.explode(
                F.array(
                    *[_bucket(j, F.col("term"), m) for j in range(k)]
                )
            ).alias("bit_pos")
        )
        .distinct()
    )


def bloom_might_contain(
    bits: DataFrame,
    probe_terms: list[str],
    k: int = CMS_DEPTH,
    m: int = BLOOM_M,
) -> DataFrame:
    """(term, hits, might_contain): hits = how many of the k probed
    bits are set; might_contain ⇔ all k.  The bit table is broadcast
    (≤ m rows by construction)."""
    if not probe_terms:
        raise ValueError("bloom_might_contain: probe_terms must be non-empty")
    terms = [t.lower() for t in probe_terms]
    if len(set(terms)) != len(terms):
        raise ValueError("bloom_might_contain: probe_terms must be distinct")
    spark = bits.sparkSession
    probes = local_frame(spark, [(t,) for t in terms], "term string")
    cells = probes.select(
        "term",
        F.explode(
            F.array(*[_bucket(j, F.col("term"), m) for j in range(k)])
        ).alias("bit_pos"),
    )
    hit = cells.join(
        F.broadcast(bits.withColumn("__set", F.lit(1))), ["bit_pos"], "left"
    )
    return hit.groupBy("term").agg(
        F.sum(F.coalesce(F.col("__set"), F.lit(0))).cast("long").alias("hits"),
        (
            F.sum(F.coalesce(F.col("__set"), F.lit(0))) == F.lit(k)
        ).alias("might_contain"),
    )

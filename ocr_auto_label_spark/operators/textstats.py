"""Text-analysis operators for training-data pipelines.

All pure column expressions (whole-stage codegen, no Python) so they run
JVM-side at 100TB scan speed: token counting, quality scoring, n-gram
language ID, document fingerprinting.  Formulas are deliberately simple
and closed-form so a DuckDB oracle can replicate them exactly.

Text becomes tokens through one of three tokenizers, and word n-grams
come from one builder, all defined here:

- ``word_tokens``: lowercased, space-trimmed, whitespace-split; keeps
  ``''`` tokens (which the lang-id, repetition and span oracles count);
- ``word_terms``: ``word_tokens`` without the ``''`` tokens;
- ``cased_tokens``: case kept, every whitespace class stripped, ``[]``
  for NULL or blank text;
- ``all_word_ngrams``: the n-grams of a token array, in linear time.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window, functions as F

# BPE-ish word tokenizer: word chars / numbers / single punctuation marks
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Tiny per-language stopword panels for the n-gram/stopword language ID.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ist"),
}


def token_count(col: Column) -> Column:
    """Whitespace token count (0 for empty/null-safe at caller)."""
    return F.size(F.split(F.trim(col), r"\s+"))


def word_tokens(col: Column) -> Column:
    return F.split(F.lower(F.trim(col)), r"\s+")


def word_terms(col: Column) -> Column:
    return F.filter(word_tokens(col), lambda w: w != F.lit(""))


def cased_tokens(col: Column) -> Column:
    # regexp strip ≡ str.strip(): F.trim is spaces-only and would leave
    # a phantom '' token on a trailing newline
    stripped = F.regexp_replace(col, r"^\s+|\s+$", "")
    return F.when(
        col.isNull() | (stripped == ""), F.array().cast("array<string>")
    ).otherwise(F.split(stripped, r"\s+"))


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(value)`` with ``value`` evaluated once.  A lambda body that
    reads an expression re-evaluates it on every call (an n-gram
    ``transform`` over a tokenizer re-splits the text per gram, O(n²));
    as the one element of an array it is bound to a lambda variable."""
    return F.element_at(F.transform(F.array(value), body), 1)


def all_word_ngrams(toks: Column, n: int) -> Column:
    """All ``n``-gram strings (space-joined, WITH repeats, element ``i``
    starting at token ``i``) of a token array; empty when it is shorter
    than ``n`` or NULL — a guard, since Spark's ``sequence(1, 0)``
    DESCENDS.  ``toks`` is evaluated once (``let``)."""
    if n <= 0:
        raise ValueError("all_word_ngrams: n must be positive")
    return let(toks, lambda t: F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - n + 1),
            lambda i: F.array_join(F.slice(t, i, F.lit(n)), " "),
        ),
    ).otherwise(F.array().cast("array<string>")))


def dup_word_frac(toks: Column) -> Column:
    """Gopher duplicate-word fraction over a token-array column:
    1 − |distinct words| / |words| (narrow column math, no shuffle).
    Single definition shared by repetition_stats and the curation
    quality gates."""
    return F.lit(1.0) - F.size(F.array_distinct(toks)) / F.size(toks)


def punct_ratio(col: Column) -> Column:
    stripped = F.regexp_replace(col, r"[^\s\w]", "")
    return (F.length(col) - F.length(stripped)) / F.greatest(F.length(col), F.lit(1))


def panel_hits(toks: Column, lang: str) -> Column:
    """|tokens ∩ panel| for one language over an ALREADY-SPLIT token array.

    ``language_id`` scores every language with it, and the registered
    ``text_language_id`` entry groups on ``language_id`` (its DuckDB oracle
    is generated from the same LANG_STOPWORDS table).  Semantically
    identical to summing ``array_contains`` per stopword — the panels are
    distinct words, so |tokens ∩ panel| = Σ contains — but without
    re-splitting the text once
    per stopword (~20 re-splits per row; 2× slower measured)."""
    words = LANG_STOPWORDS[lang]
    return F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))


def quality_score(col: Column) -> Column:
    """Deterministic quality heuristic in [0,1]:
    0.4·length-band + 0.3·(1 - punct ratio) + 0.3·mean-word-length band."""
    n = F.length(col)
    length_band = F.when(n < 20, 0.0).when(n > 8000, 0.3).otherwise(1.0)
    toks = token_count(col)
    mean_word = n / F.greatest(toks, F.lit(1))
    word_band = F.when((mean_word >= 3) & (mean_word <= 12), 1.0).otherwise(0.4)
    return F.round(0.4 * length_band + 0.3 * (1 - punct_ratio(col)) + 0.3 * word_band, 6)


def language_id(col: Column) -> Column:
    """Stopword-panel argmax language guess ('und' when all panels miss).

    Deterministic tie-break: strict ``>`` while visiting languages in
    ascending lexicographic order ⇒ highest score wins, ties go to the
    lexicographically smallest language.

    All four per-language scores share ONE token-split subtree
    (``panel_hits`` over a single ``word_tokens`` Column) — identical
    subtrees collapse to one evaluation under Spark's subexpression
    elimination, so a row is split once, not once per stopword.
    """
    toks = word_tokens(col)
    guess = F.lit("und")
    best = F.lit(0)
    for lang in sorted(LANG_STOPWORDS):
        score = panel_hits(toks, lang)
        guess = F.when(score > best, F.lit(lang)).otherwise(guess)
        best = F.greatest(best, score)
    return guess


def doc_fingerprint(col_name: str, width: int = 8) -> Column:
    """Rolling-hash document fingerprint: min of the hashes of all
    ``width``-gram character shingles (a k=1 MinHash).  xxhash64-based —
    cheap, JVM-side, stable across runs.  Takes a column *name* (used
    inside ``F.expr``)."""
    shingles = F.expr(
        f"transform(sequence(1, greatest(length({col_name}) - {width - 1}, 1)), "
        f"i -> xxhash64(substring({col_name}, i, {width})))"
    )
    return F.array_min(shingles)


def add_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    c = F.col(text_col)
    return (
        df.withColumn("token_cnt", token_count(c))
        .withColumn("char_cnt", F.length(c))
        .withColumn("punct_ratio", F.round(punct_ratio(c), 6))
        .withColumn("quality", quality_score(c))
        .withColumn("lang_guess", language_id(c))
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher/MassiveText-style repetition signals per document — the
    standard "repetitious text" quality gates a training-data pipeline
    runs before dedup (Rae et al. 2021 §A1.1 repetition filters):

    - ``dup_word_frac``: 1 − |distinct words| / |words| (narrow column
      math, no shuffle),
    - ``top_bigram_frac``: occurrences of the most frequent word bigram
      / total bigrams (explode → count → per-doc argmax: one map-side-
      combined shuffle keyed by (doc, gram) — the relational shape that
      holds at 10⁹ docs; docs with <2 tokens report 0).

    All fractions are exact integer ratios (int/int division is the same
    IEEE double in every engine) so a DuckDB oracle hash-matches without
    rounding games.  Output: (id, token_cnt, dup_word_frac, bigram_cnt,
    top_bigram_frac).
    """
    toks = df.select(
        F.col(id_col).alias("id"), word_tokens(F.col(text_col)).alias("toks")
    )
    base = toks.select(
        "id",
        F.size("toks").alias("token_cnt"),
        dup_word_frac(F.col("toks")).alias("dup_word_frac"),
        "toks",
    )
    grams = base.select("id", F.explode(all_word_ngrams(F.col("toks"), 2)).alias("gram"))
    per_gram = grams.groupBy("id", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = per_gram.groupBy("id").agg(
        F.max("cnt").alias("top_cnt"), F.sum("cnt").alias("bigram_cnt")
    )
    return (
        base.drop("toks")
        .join(per_doc, "id", "left")
        .select(
            "id", "token_cnt", "dup_word_frac",
            F.coalesce(F.col("bigram_cnt"), F.lit(0)).cast("long").alias("bigram_cnt"),
            F.coalesce(F.col("top_cnt") / F.col("bigram_cnt"), F.lit(0.0))
            .alias("top_bigram_frac"),
        )
    )


def duplicated_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 25,
) -> DataFrame:
    """Long-duplicated-span signal (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): for each document, the
    fraction of its ``span_tokens``-token window positions whose exact
    token span occurs MORE THAN ONCE in the corpus (any other occurrence
    — another doc or a repeat within the same doc).  High fractions mark
    boilerplate/mirrored content that exact whole-doc dedup misses.

    Relational shape (no suffix array needed for the *metric*): explode
    spans → per-(doc, span) counts (first shuffle, map-side combined) →
    corpus totals via a span-keyed window (second shuffle) → per-doc
    sums.  Span cardinality ≈ token count, so the shuffles are
    O(corpus tokens) — the same budget as any n-gram pass.  Counts are
    exact integers; the emitted fraction is an int/int division (same
    IEEE double in every engine).

    Output: (id, n_spans, dup_spans, dup_span_frac) — one row per doc,
    zeros for docs shorter than ``span_tokens``.
    """
    grams = all_word_ngrams(word_tokens(F.col(text_col)), span_tokens)
    spans = df.select(F.col(id_col).alias("id"), F.explode(grams).alias("span"))
    per = spans.groupBy("id", "span").agg(F.count(F.lit(1)).alias("c"))
    tot = F.sum("c").over(Window.partitionBy("span"))
    doc = (
        per.withColumn("tot", tot)
        .groupBy("id")
        .agg(
            F.sum("c").alias("n_spans"),
            F.sum(F.when(F.col("tot") > 1, F.col("c")).otherwise(0)).alias(
                "dup_spans"
            ),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(doc, "id", "left")
        .select(
            "id",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("dup_spans", F.lit(0)).cast("long").alias("dup_spans"),
            F.coalesce(F.col("dup_spans") / F.col("n_spans"), F.lit(0.0)).alias(
                "dup_span_frac"
            ),
        )
    )


def exact_group_quantiles(
    df: DataFrame,
    value_col: str,
    group_col: str,
    percentiles: tuple[int, ...] = (50, 90, 99),
) -> DataFrame:
    """EXACT per-group quantiles (nearest-rank, ⌈p·n/100⌉) the way you
    compute them at 100 TB: compress the corpus to distinct
    (group, value) counts first — one map-side-combined shuffle whose
    cardinality is distinct values per group, NOT rows — then a
    cumulative-count window over each group's (small) value ladder picks
    the ranked element.  ``approx_percentile`` is the sketch alternative;
    this is the exact path for integer metrics (length/token
    distributions have thousands of distinct values regardless of corpus
    size, so the post-compression state is trivially small).

    Rank arithmetic is pure integers (``(n·p + 99) div 100`` =
    ⌈n·p/100⌉), so a DuckDB ``quantile_disc`` oracle (an independent
    implementation of the same nearest-rank definition) hash-matches
    with no float-boundary games.

    Output: one row per (group, percentile): (group, percentile, n, val).
    """
    if not percentiles or any(not 1 <= p <= 100 for p in percentiles):
        raise ValueError("exact_group_quantiles: percentiles must be in [1, 100]")
    # NULL values are excluded from both n and the rank ladder (matching
    # quantile_disc / any sane quantile definition; an unfiltered NULL
    # rung would sort first and shift every picked rank)
    counts = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(group_col, value_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy(group_col).orderBy(value_col)
    cum = counts.select(
        group_col,
        value_col,
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy(group_col)).alias("n"),
    )
    fanned = cum.withColumn(
        "percentile", F.explode(F.array(*[F.lit(p) for p in percentiles]))
    )
    hit = fanned.filter(
        F.col("cum") >= F.expr("(n * percentile + 99) div 100")
    )
    return hit.groupBy(group_col, "percentile").agg(
        F.max("n").alias("n"), F.min(value_col).alias("val")
    )


def dsir_logweights(
    df: DataFrame,
    target: Column,
    n_buckets: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style hashed n-gram importance log-weights (Xie et al. 2023,
    *Data Selection for Language Models via Importance Resampling*): the
    per-document log importance weight log(p_target/p_raw) under two
    hashed-bigram bag-of-ngrams models — the target distribution is
    estimated from rows where ``target`` is true, the raw distribution
    from the whole corpus, both Laplace-smoothed over ``n_buckets``
    hash buckets (bucket = pmod(xxhash64(bigram), n_buckets)).  High
    weight ≈ "looks like the target domain"; downstream selection keeps
    the top-weighted docs (or Gumbel-resamples on the weights).

    Scale shape: the bucket is computed inline per occurrence —
    ``xxhash64`` is a JVM intrinsic inside whole-stage codegen, so
    hashing per gram is nanoseconds/row while a distinct-vocab
    hash-then-join-back would add two wide stages (that discipline
    belongs in the DuckDB oracle, where the hash is staged int128 SQL
    math and IS worth deduplicating).  Per-(doc, bucket) occurrence
    counts ``k`` collapse the scoring join's left side; the bucket
    distribution table is AT MOST ``n_buckets`` rows (a constant
    independent of corpus size), so its broadcast — unlike a corpus-wide
    vocab (ADVICE r3) — is genuinely bounded, as is the 1-row totals
    frame.  Net: one bucket-count agg, one bounded-broadcast scoring
    join, one per-doc fold.

    Output: (id_col, n_grams, avg_logweight) where avg_logweight =
    Σ k·lw(bucket) / Σ k over the doc's bigram occurrences (raw double —
    callers quantize for cross-engine comparison).  Docs with fewer than
    two tokens have no bigrams and are absent.
    """
    if n_buckets <= 0 or (n_buckets & (n_buckets - 1)) != 0:
        # power of two ⇒ pmod of the signed hash == unsigned remainder,
        # which is what the DuckDB XXH64-SQL oracle replays
        raise ValueError("dsir_logweights: n_buckets must be a power of two")
    grams = df.select(
        F.col(id_col).alias("id"),
        target.alias("is_tgt"),
        F.explode(all_word_ngrams(word_terms(F.col(text_col)), 2)).alias("gram"),
    )
    occ = (
        grams.select(
            "id",
            "is_tgt",
            F.pmod(F.xxhash64(F.col("gram")), F.lit(n_buckets)).alias("bucket"),
        )
        .groupBy("id", "is_tgt", "bucket")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    dist = occ.groupBy("bucket").agg(
        F.sum("k").alias("raw_cnt"),
        F.sum(F.when(F.col("is_tgt"), F.col("k")).otherwise(F.lit(0))).alias(
            "tgt_cnt"
        ),
    )
    totals = dist.agg(
        F.sum("raw_cnt").alias("raw_tot"), F.sum("tgt_cnt").alias("tgt_tot")
    )
    b = F.lit(float(n_buckets))
    lw = dist.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log((F.col("tgt_cnt") + F.lit(1.0)) / (F.col("tgt_tot") + b))
            - F.log((F.col("raw_cnt") + F.lit(1.0)) / (F.col("raw_tot") + b))
        ).alias("lw"),
    )
    return (
        occ.join(F.broadcast(lw), "bucket")
        .groupBy("id")
        .agg(
            F.sum("k").alias("n_grams"),
            (F.sum(F.col("k") * F.col("lw")) / F.sum("k")).alias("avg_logweight"),
        )
        .withColumnRenamed("id", id_col)
    )


def unigram_nll(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing: float = 0.5,
    round_digits: int | None = 6,
) -> DataFrame:
    """Corpus-derived unigram negative log-likelihood per document — the
    CCNet-style language-model quality proxy (high NLL ≈ improbable/noisy
    text): train a unigram table over the corpus itself, score each doc
    by the mean −log p of its tokens (add-``smoothing`` over the observed
    vocabulary).

    Scale shape: ONE explode+groupBy builds the vocabulary (map-side
    combined; the vocab table is tiny relative to the corpus — Zipf), the
    token stream joins it by word — strategy left to AQE, which
    broadcasts when the built vocab is under the threshold and falls back
    to a shuffle join when a corpus-wide vocabulary outgrows broadcast
    limits (an unconditional broadcast hint would OOM at 10⁹-row scale —
    ADVICE r3) — and a per-doc agg folds the scores.  The 1-row totals
    frame stays an explicit broadcast.  Output: (id, token_cnt, avg_nll),
    rounded to ``round_digits`` for cross-run stability (None = raw, for
    callers that re-quantize themselves).
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_terms(F.col(text_col))).alias("word"),
    )
    vocab = toks.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    totals = vocab.agg(
        F.sum("cnt").alias("n_tokens"), F.count(F.lit(1)).alias("v_size")
    )
    scored = (
        toks.join(vocab, "word")
        .crossJoin(F.broadcast(totals))
        .select(
            "id",
            (-F.log(
                (F.col("cnt") + F.lit(smoothing))
                / (F.col("n_tokens") + F.lit(smoothing) * F.col("v_size"))
            )).alias("nll"),
        )
    )
    avg = F.avg("nll")
    if round_digits is not None:
        avg = F.round(avg, round_digits)
    return scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("token_cnt"),
        avg.alias("avg_nll"),
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-``k`` TF-IDF keywords.

    Score = ``tf · (N + 1)/(df + 1)`` — the RATIO idf form rather than
    the log form, deliberately: the score is then one integer-to-double
    multiply and one correctly-rounded division, so every value (and
    therefore every ranking comparison) is bit-identical across engines
    — a log-form idf differs by libm ulps between JVM and C and can flip
    the order of two nearly-tied terms, which no quantization of a SORT
    KEY can repair.  Ties (exactly equal doubles, e.g. same (tf, df))
    break by term ascending; ranking is therefore a total order.

    Scale shape: one (doc, term) count (map-side combined), one term-df
    aggregate over it (cardinality = vocabulary), one term equi-join
    back (AQE skew-splittable on stopword-grade hot terms), a 1-row
    broadcast for N, and a per-doc window bounded by the doc's distinct
    terms.  Output: ``(id_col, rank, term, tf, df_cnt, score)``.
    """
    if k <= 0:
        raise ValueError("tfidf_top_terms: k must be positive")
    words = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_terms(F.col(text_col))).alias("term"),
    )
    tf = words.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_cnt"))
    totals = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * (F.col("n_docs") + F.lit(1)).cast("double")
            / (F.col("df_cnt") + F.lit(1)).cast("double"),
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("id").alias(id_col),
            F.col("rank").cast("long").alias("rank"),
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df_cnt").cast("long").alias("df_cnt"),
            "score",
        )
    )


def stupid_backoff_scores(
    df: DataFrame,
    model_predicate,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.4,
) -> DataFrame:
    """Bigram language-model document scoring with Stupid Backoff
    (Brants et al. 2007 "Large Language Models in Machine Translation"
    §4) — the web-scale LM smoothing that needs only counts, no
    discounting: score(w₂|w₁) = count(w₁w₂)/count(w₁) when the bigram is
    in the model, else α · count(w₂)/N, with the model trained on the
    ``model_predicate`` slice of the corpus (e.g. the target language)
    and every document scored against it — the CCNet-style "how much
    does this doc look like the reference domain" signal, one rung above
    :func:`unigram_nll`.

    Output: (id, token_cnt, sbo_mean) where ``sbo_mean`` is the MEAN
    CONDITIONAL PROBABILITY over the doc's token positions (position 0
    scores by the unigram model; tokens unseen in the model score 0).
    The raw probabilities are used instead of the customary log — each
    per-position score is then one correctly-rounded divide (+ one
    multiply on the backoff path), and the per-doc reduction is an
    ORDERED LEFT FOLD over the positions (collect → sort_array by pos →
    ``aggregate``), so the resulting double is BIT-IDENTICAL across
    engines, partitionings, and reruns — no quantization needed where
    unigram_nll's libm-log + unordered AVG needs a 1e-3 floor.

    Scale shape: positions are one explode of an index-aware
    ``transform`` (narrow); bigram/unigram model tables are
    map-side-combined counts over the model slice joined back by word
    keys (AQE picks broadcast vs shuffle, skew-splits stopword-grade
    heads); the fold is one per-doc aggregation whose state is the
    doc's own positions.  At 10⁹+ docs, hash the grams into buckets
    first (the DSIR layout) if the raw gram vocabulary outgrows the
    join.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        model_predicate.alias("is_model"),
        word_terms(F.col(text_col)).alias("t"),
    ).filter(F.size("t") > 0)
    positions = base.select(
        "id",
        "is_model",
        F.explode(
            F.expr(
                "transform(t, (w, i) -> struct(i AS pos, "
                "CASE WHEN i = 0 THEN NULL ELSE t[i-1] END AS w1, "
                "w AS w2))"
            )
        ).alias("x"),
    ).select("id", "is_model", "x.pos", "x.w1", "x.w2")
    model = positions.filter(F.col("is_model"))
    uni = model.groupBy("w2").agg(F.count(F.lit(1)).alias("uc"))
    totals = uni.agg(F.sum("uc").alias("n_total"))
    big = (
        model.filter(F.col("w1").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("bc"))
    )
    uni1 = uni.select(F.col("w2").alias("w1"), F.col("uc").alias("uc1"))
    p_uni = F.coalesce(
        F.col("uc").cast("double") / F.col("n_total").cast("double"),
        F.lit(0.0),
    )
    score = (
        F.when(F.col("pos") == 0, p_uni)
        .when(
            F.col("bc").isNotNull(),
            F.col("bc").cast("double") / F.col("uc1").cast("double"),
        )
        .otherwise(F.lit(alpha) * p_uni)
    )
    rows = (
        positions.join(uni, "w2", "left")
        .join(uni1, "w1", "left")
        .join(big, ["w1", "w2"], "left")
        .crossJoin(F.broadcast(totals))  # 1-row totals frame
        .select("id", "pos", score.alias("score"))
    )
    return (
        rows.groupBy("id")
        .agg(
            F.sort_array(F.collect_list(F.struct("pos", "score"))).alias(
                "ps"
            )
        )
        .select(
            "id",
            F.size("ps").cast("long").alias("token_cnt"),
            F.expr(
                "aggregate(transform(ps, x -> x.score), "
                "CAST(0.0 AS DOUBLE), (a, s) -> a + s) "
                "/ CAST(size(ps) AS DOUBLE)"
            ).alias("sbo_mean"),
        )
    )

"""End-to-end training-corpus curation: quality gates → exact dedup →
deterministic split → benchmark decontamination → partitioned output.

Chains the individually oracle-backed operators (textstats gates,
exact-dup window, ``operators/sampling`` split + decontamination) the way
a 100-TB curation run would:

- **Stage 1** is one linear pass — gates are narrow column math, dedup is
  a single hash-window shuffle, the split is a pure projection — written
  ``partitionBy(split)``.  Stage counts come from ``Observation`` metrics
  collected during the write itself (zero re-scans; the chain is linear,
  so each observe node fires exactly once).
- **Stage 2** reads the *written* table back for decontamination.  The
  materialize-between-stages boundary is deliberate: the contamination
  probe needs the corpus twice (train grams / eval grams), and re-reading
  the compact curated output is cheaper than recomputing the full gate +
  dedup chain under both branches — at 10¹² rows the upstream would
  otherwise run twice.  Pruned to (id, split, text): column pruning does
  the rest.
- The decontamination *report* is the artifact (train/test overlap is
  something you audit, not silently delete); the job also emits the
  contaminated id list so a training reader can anti-join it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.observation import Observation

from ocr_auto_label_spark.operators.sampling import (
    cross_split_contamination,
    deterministic_split,
)
from ocr_auto_label_spark.operators.textstats import (
    dup_word_frac,
    quality_score,
    token_count,
    word_tokens,
)


def quality_gates(
    df: DataFrame,
    text_col: str = "text",
    min_quality: float = 0.5,
    min_tokens: int = 1,
    max_dup_word_frac: float = 1.0,
) -> DataFrame:
    """Narrow (shuffle-free) per-doc quality gates: heuristic quality
    score, minimum token count, Gopher duplicate-word-fraction cap.
    All three are pure column expressions inside whole-stage codegen.

    Empty/whitespace-only/NULL text counts as ZERO tokens here
    (``split('')`` yields [''] i.e. size 1, so a bare token_count could
    never reject blank docs even at min_tokens=1)."""
    c = F.col(text_col)
    real_tokens = F.when(
        c.isNull() | (F.trim(c) == ""), F.lit(0)
    ).otherwise(token_count(c))
    return df.filter(
        (quality_score(c) >= min_quality)
        & (real_tokens >= min_tokens)
        & (dup_word_frac(word_tokens(c)) <= max_dup_word_frac)
    )


def exact_dedup_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row (min id) per exact text duplicate group — the
    row-preserving twin of ``operators.dedup.exact_dedup`` (which returns
    group stats): one window shuffle on the content hash, no join."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def curate_corpus(
    spark: SparkSession,
    docs: DataFrame,
    output_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.5,
    min_tokens: int = 1,
    max_dup_word_frac: float = 1.0,
    ngram_n: int = 13,
    weights: tuple[int, ...] = (80, 10, 10),
    names: tuple[str, ...] = ("train", "val", "test"),
    pack_budget: int = 0,
    chunk_budget: int = 0,
    chunk_overlap: int = 0,
    embeddings: DataFrame | None = None,
    semdedup_centroids: int = 16,
    semdedup_threshold: float = 0.95,
    semantic_decontam_threshold: float | None = None,
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    dsir_target_lang: str | None = None,
    dsir_keep_percent: int | None = None,
    lang_col: str = "lang",
    span_dedup_width: int = 0,
    bpe_merges: int = 0,
    quality_label_lang: str | None = None,
    quality_keep_percent: int | None = None,
    temperature_alpha: float | None = None,
    temperature_total: int | None = None,
    source_col: str = "source",
) -> dict:
    """Run the full curation pipeline; returns the summary dict.

    Writes ``{output_dir}/curated`` (the corpus, partitioned by split)
    and ``{output_dir}/decontam_report`` (one row per non-train doc:
    id, n_grams, n_contam).  With ``pack_budget > 0`` also writes
    ``{output_dir}/packs``: the sequence-packing assignment
    (``pack_sequences`` with ``within_cols=["split"]`` — packs never
    cross split boundaries).  With ``chunk_budget > 0`` also writes
    ``{output_dir}/chunks``: the token-window chunk rows
    (``chunk_documents`` with ``carry_cols=["split"]`` — chunks inherit
    their doc's split with no join; the narrow complement of packing for
    docs longer than a context window).  With ``embeddings`` (a frame keyed by
    ``vec_id_col`` matching the corpus ids), a SEMANTIC dedup stage runs
    between exact dedup and the split: ``operators.similarity.semdedup``
    eviction ids are anti-joined out, so near-meaning duplicates never
    consume split slots; the summary gains ``semantic_evicted_ids`` (the
    eviction-list size — actual drops show up in the split counts).
    With ``semantic_decontam_threshold`` additionally set, a SEMANTIC
    decontamination report is written beside the n-gram one: eval docs
    whose embedding is cosine-similar (≥ the threshold) to ANY train
    doc's — contamination the exact 13-gram probe cannot see
    (paraphrases, translations, near-duplicates below the eviction bar).
    Pairs are LSH-signature-blocked (the scale path — equi-join-shaped,
    recall < 1 by design: only same-bucket pairs are compared, exactly
    like the ANN probe), and the report rows carry each contaminated
    eval doc's best train partner and cosine.
    With ``span_dedup_width > 0`` the corpus text is REWRITTEN between
    dedup and the split by duplicated-substring removal
    (``remove_duplicated_spans``, Lee et al. 2021 §4): exact-dup dedup
    drops whole-document copies, this drops the repeated PASSAGES inside
    otherwise-unique docs (one canonical copy survives corpus-wide); the
    summary gains ``span_tokens_before``/``span_tokens_after``.
    With ``bpe_merges > 0`` a BPE tokenizer is TRAINED on the curated
    TRAIN split (never on eval text — the same leakage discipline as
    decontamination) and its artifacts land beside the corpus:
    ``{output_dir}/bpe_merges`` (the ordered merge table an encoder
    replays) and ``{output_dir}/bpe_vocab`` (the weighted symbol
    inventory); the summary gains ``bpe_vocab_size``.
    With ``quality_keep_percent`` (+ ``quality_label_lang``) the TRAINED
    quality classifier is put to work as a MODEL-BASED selection stage
    (the fastText-filter step of CCNet/RedPajama): a hashed-LR model is
    trained on the surviving corpus against the target-language label
    (``operators/quality_model.py`` — bit-reproducible training), its
    weights land at ``{output_dir}/quality_model`` and per-doc scores at
    ``{output_dir}/quality_scores`` as audit artifacts, and only docs at
    or above the exact nearest-rank (100−keep)th-percentile score
    survive (MICRO-quantized ladder + ``exact_group_quantiles`` — LR
    scores live in a narrow band around 0.5, so DSIR's milli ladder
    would collapse the ranking).  Runs before DSIR so the two compose:
    model-based first, importance-ratio second.  Docs with no tokens
    have no score and drop.
    With ``dsir_keep_percent`` (+ ``dsir_target_lang``) a DSIR data
    SELECTION stage runs before the split: per-doc hashed-bigram
    importance weights (``dsir_logweights``), milli-quantized, and only
    docs at or above the exact nearest-rank (100−keep)th-percentile
    weight survive — "keep the top X% that look most like the target
    domain"; the summary gains ``dsir_threshold_milli``/``dsir_kept``.
    Deterministic end-to-end: gates and hashes are pure functions of the
    text/id, so re-running produces the same bytes for the same input.
    """
    obs_in = Observation("curate_in")
    obs_gated = Observation("curate_gated")
    obs_dedup = Observation("curate_dedup")

    gated = quality_gates(
        docs.observe(obs_in, F.count(F.lit(1)).alias("rows")),
        text_col,
        min_quality=min_quality,
        min_tokens=min_tokens,
        max_dup_word_frac=max_dup_word_frac,
    ).observe(obs_gated, F.count(F.lit(1)).alias("rows"))
    deduped = exact_dedup_rows(gated, text_col, id_col)
    sem_stats = {}
    if embeddings is not None:
        from ocr_auto_label_spark.operators.similarity import semdedup

        _, _, evicted = semdedup(
            embeddings,
            n_centroids=semdedup_centroids,
            threshold=semdedup_threshold,
            id_col=vec_id_col,
        )
        evict_ids = evicted.select(F.col("id").alias(id_col))
        # no explicit broadcast hint: the eviction list is usually much
        # smaller than the corpus, but at aggressive thresholds it can be
        # a large fraction of it — AQE picks broadcast vs shuffle from
        # the measured size (the unigram_nll lesson, ADVICE r3)
        sem_stats = {"semantic_evicted_ids": evict_ids.count()}
        deduped = deduped.join(evict_ids, id_col, "left_anti")
    if span_dedup_width > 0:
        # duplicated-substring removal (Lee et al. 2021 §4): rewrite each
        # surviving doc's text with all non-canonical copies of every
        # >1x-occurring span removed — exact-dup dedup drops whole-doc
        # copies, this drops the repeated PASSAGES inside otherwise-unique
        # docs.  Runs before the split so eval/train see the same rewrite.
        from ocr_auto_label_spark.operators.dedup import (
            remove_duplicated_spans,
        )

        rewritten = remove_duplicated_spans(
            deduped, width=span_dedup_width, key_cols=(id_col,),
            text_col=text_col,
        )
        # token totals ride an Observation instead of a dedicated agg
        # job (which would re-run the whole span chain just for two
        # sums); it fires on the first downstream action, and every
        # firing sees the same deterministic frame, so first-wins is safe
        obs_span = Observation("curate_span")
        deduped = (
            deduped.drop(text_col)
            .join(
                rewritten.select(
                    id_col,
                    F.col("new_text").alias(text_col),
                    "n_tokens",
                    "n_kept_tokens",
                ),
                id_col,
            )
            .observe(
                obs_span,
                F.sum("n_tokens").alias("before"),
                F.sum("n_kept_tokens").alias("after"),
            )
            .drop("n_tokens", "n_kept_tokens")
        )
        span_stats_get = lambda: {
            "span_tokens_before": int(obs_span.get["before"] or 0),
            "span_tokens_after": int(obs_span.get["after"] or 0),
        }
    else:
        span_stats_get = dict
    qual_stats = {}
    if quality_keep_percent is not None:
        # model-based quality selection: train the hashed-LR filter on
        # the surviving corpus, keep the top X% by score.  Training is
        # bit-reproducible (algebraic sigmoid + ordered folds), so the
        # kept set is identical at any parallelism; the fraction cut
        # reuses the DSIR milli-ladder + exact nearest-rank machinery.
        if quality_label_lang is None:
            raise ValueError(
                "quality_keep_percent requires quality_label_lang"
            )
        if not 1 <= quality_keep_percent <= 99:
            raise ValueError("quality_keep_percent must be in [1, 99]")
        from ocr_auto_label_spark.operators.quality_model import (
            LR_BUCKETS,
            train_quality_lr,
        )
        from ocr_auto_label_spark.operators.textstats import (
            exact_group_quantiles,
        )

        qw, _, qscored = train_quality_lr(
            deduped,
            label_expr=(F.col(lang_col) == quality_label_lang),
            id_col=id_col,
            text_col=text_col,
        )
        qm_path = f"{output_dir}/quality_model"
        spark.createDataFrame(
            [(b, qw[b]) for b in range(LR_BUCKETS)], "bucket int, w double"
        ).write.mode("overwrite").parquet(qm_path)
        qs_path = f"{output_dir}/quality_scores"
        qscored.select(
            F.col("id").alias(id_col),
            "y",
            "score",
            # micro (1e-6) ladder, not DSIR's milli: LR scores live in a
            # narrow band around 0.5, and a coarser ladder would
            # collapse the ranking into one tie bucket
            F.floor(F.col("score") * 1000000).cast("long").alias("ms"),
        ).write.mode("overwrite").parquet(qs_path)
        qms = spark.read.parquet(qs_path).select(id_col, "ms")
        qthr = exact_group_quantiles(
            qms.withColumn("__g", F.lit(1)), "ms", "__g",
            percentiles=(100 - quality_keep_percent,),
        ).first()
        if qthr is None:
            raise ValueError(
                "quality selection: no document produced a score"
            )
        qkeep = qms.filter(F.col("ms") >= qthr["val"]).select(id_col)
        deduped = deduped.join(qkeep, id_col, "left_semi")
        qual_stats = {
            "quality_model_path": qm_path,
            "quality_scores_path": qs_path,
            "quality_threshold_micro": int(qthr["val"]),
            "quality_kept": qkeep.count(),
        }
    dsir_stats = {}
    if dsir_keep_percent is not None:
        # DSIR data SELECTION (Xie et al. 2023): keep the docs that look
        # most like the target domain.  The global fraction cut is done
        # the scale-correct way: weights quantized to milli-units (a
        # bounded integer ladder — a few thousand distinct values
        # regardless of corpus size), threshold = the exact nearest-rank
        # quantile over that ladder (one bounded driver pull), keep =
        # one filter + semi-join.  No global sort, no global rank window.
        # Boundary ties all survive (kept count ≥ the requested percent);
        # docs with <2 tokens have no bigrams, hence no weight, and drop.
        if dsir_target_lang is None:
            raise ValueError("dsir_keep_percent requires dsir_target_lang")
        if not 1 <= dsir_keep_percent <= 99:
            raise ValueError("dsir_keep_percent must be in [1, 99]")
        from ocr_auto_label_spark.operators.textstats import (
            dsir_logweights,
            exact_group_quantiles,
        )

        wts = dsir_logweights(
            deduped, target=(F.col(lang_col) == dsir_target_lang),
            id_col=id_col, text_col=text_col,
        )
        # materialize the weights once (the hashed-bigram job is the
        # expensive part — three lazy consumers below would re-run it
        # three times; ReusedExchange only dedups within one job) and
        # keep them as an audit artifact beside the reports
        wts_path = f"{output_dir}/dsir_weights"
        wts.select(
            id_col,
            "n_grams",
            "avg_logweight",
            F.floor(F.col("avg_logweight") * 1000).cast("long").alias("mw"),
        ).write.mode("overwrite").parquet(wts_path)
        mw = spark.read.parquet(wts_path).select(id_col, "mw")
        thr_row = exact_group_quantiles(
            mw.withColumn("__g", F.lit(1)), "mw", "__g",
            percentiles=(100 - dsir_keep_percent,),
        ).first()
        if thr_row is None:
            raise ValueError(
                "dsir selection: no document produced bigram weights"
            )
        keep_ids = mw.filter(F.col("mw") >= thr_row["val"]).select(id_col)
        deduped = deduped.join(keep_ids, id_col, "left_semi")
        dsir_stats = {
            "dsir_weights_path": wts_path,
            "dsir_threshold_milli": int(thr_row["val"]),
            "dsir_kept": keep_ids.count(),
        }
    mix_stats = {}
    if temperature_alpha is not None or temperature_total is not None:
        # temperature-based source rebalancing (XLM-R/mT5 α-scaling):
        # runs after the content/selection stages so the mixture is
        # computed over what actually survives, and before the split so
        # every split inherits the rebalanced mixture
        if temperature_alpha is None or temperature_total is None:
            raise ValueError(
                "temperature resampling needs BOTH temperature_alpha "
                "and temperature_total"
            )
        from ocr_auto_label_spark.operators.sampling import (
            temperature_resample,
        )

        deduped = temperature_resample(
            deduped, source_col, temperature_alpha, temperature_total,
            id_col=id_col,
        ).drop("mix_rank")
        per = {
            r[0]: int(r[1])
            for r in deduped.groupBy(source_col).count().collect()
        }
        mix_stats = {
            "temperature_alpha": temperature_alpha,
            "temperature_kept": sum(per.values()),
            "temperature_kept_by_source": dict(sorted(per.items())),
        }
    assigned = deterministic_split(
        deduped, id_col, weights, names
    ).observe(
        obs_dedup,
        F.count(F.lit(1)).alias("rows"),
        *[
            F.sum(F.when(F.col("split") == n, 1).otherwise(0)).alias(n)
            for n in names
        ],
    )
    curated_path = f"{output_dir}/curated"
    # STATIC overwrite, overriding the session-wide dynamic mode (which
    # the resumable extraction sink wants): this is a full-corpus rewrite,
    # and dynamic mode would leave a stale partition behind whenever a
    # split receives zero rows on a re-run
    (
        assigned.write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("split")
        .parquet(curated_path)
    )

    # read-backs pin the writer's schema: a zero-row partitioned write
    # leaves only _SUCCESS, and schema inference over that throws
    # UNABLE_TO_INFER_SCHEMA — with an explicit schema an empty curated
    # corpus flows through as an empty frame instead of crashing stage 2
    curated = (
        spark.read.schema(assigned.schema).parquet(curated_path)
        .select(id_col, text_col, "split")
    )
    report = cross_split_contamination(
        curated, id_col, text_col, "split", n=ngram_n, train_name=names[0]
    )
    report_path = f"{output_dir}/decontam_report"
    report.write.mode("overwrite").parquet(report_path)

    contam = (
        spark.read.schema(report.schema).parquet(report_path)
        .agg(
            F.count(F.lit(1)).alias("eval_docs"),
            F.sum(F.when(F.col("n_contam") > 0, 1).otherwise(0)).alias(
                "contaminated_docs"
            ),
            F.sum("n_contam").alias("contaminated_grams"),
        )
        .first()
    )
    pack_stats = {}
    if pack_budget > 0:
        from ocr_auto_label_spark.operators.packing import pack_sequences

        packs_path = f"{output_dir}/packs"
        packed = pack_sequences(
            curated, pack_budget, id_col, text_col, within_cols=["split"]
        )
        packed.write.mode("overwrite").parquet(packs_path)
        agg = (
            spark.read.schema(packed.schema).parquet(packs_path)
            .groupBy("split", "shard", "pack_id").count()
            .groupBy().agg(
                F.count(F.lit(1)).alias("n_packs"),
                F.sum("count").alias("n_docs"),
            )
            .first()
        )
        pack_stats = {
            "packs_path": packs_path,
            "n_packs": int(agg["n_packs"] or 0),
            "packed_docs": int(agg["n_docs"] or 0),
        }
    if semantic_decontam_threshold is not None and embeddings is None:
        raise ValueError(
            "semantic_decontam_threshold requires embeddings — a silent "
            "no-op would report a decontaminated corpus that never was"
        )
    sem_decon_stats = {}
    if embeddings is not None and semantic_decontam_threshold is not None:
        from ocr_auto_label_spark.operators.similarity import (
            cosine_neardup_pairs,
            hyperplane_signature,
        )

        splits = curated.select(
            F.col(id_col).alias(vec_id_col), F.col("split")
        )
        emb = embeddings.join(splits, vec_id_col).withColumn(
            "__sig", hyperplane_signature(vec_col)
        )
        pairs = cosine_neardup_pairs(
            emb, ["__sig"], semantic_decontam_threshold,
            vec_col=vec_col, id_col=vec_id_col,
        )
        sa = splits.select(
            F.col(vec_id_col).alias("id_a"), F.col("split").alias("split_a")
        )
        sb = splits.select(
            F.col(vec_id_col).alias("id_b"), F.col("split").alias("split_b")
        )
        crossed = pairs.join(sa, "id_a").join(sb, "id_b")
        train = names[0]
        # normalize each pair to (eval doc, train partner); a pair can
        # qualify in one direction only (train×train / eval×eval drop out)
        hits = crossed.select(
            F.when(F.col("split_a") != train, F.col("id_a"))
            .otherwise(F.col("id_b")).alias("eval_id"),
            F.when(F.col("split_a") != train, F.col("id_b"))
            .otherwise(F.col("id_a")).alias("train_id"),
            "cosine",
            "split_a",
            "split_b",
        ).filter(
            (F.col("split_a") == train) != (F.col("split_b") == train)
        )
        sem_report = hits.groupBy(F.col("eval_id").alias(id_col)).agg(
            # tie-break equal cosines by the larger train id — determinism
            # under any partitioning (a bare max_by picks arbitrarily)
            F.max_by("train_id", F.struct("cosine", "train_id")).alias(
                "nearest_train_id"
            ),
            F.max("cosine").alias("max_cosine"),
            F.count(F.lit(1)).alias("n_train_matches"),
        )
        sem_report_path = f"{output_dir}/semantic_decontam_report"
        sem_report.write.mode("overwrite").parquet(sem_report_path)
        n_sem = (
            spark.read.schema(sem_report.schema)
            .parquet(sem_report_path).count()
        )
        sem_decon_stats = {
            "semantic_report_path": sem_report_path,
            "semantic_contaminated_docs": int(n_sem),
        }
    chunk_stats = {}
    if chunk_budget > 0:
        from ocr_auto_label_spark.operators.packing import chunk_documents

        chunks_path = f"{output_dir}/chunks"
        chunks = chunk_documents(
            curated, chunk_budget, chunk_overlap, id_col, text_col,
            carry_cols=["split"],
        )
        chunks.write.mode("overwrite").parquet(chunks_path)
        cagg = (
            spark.read.schema(chunks.schema).parquet(chunks_path)
            .agg(
                F.count(F.lit(1)).alias("n_chunks"),
                F.sum(
                    F.when(F.col("n_chunks") > 1, 1).otherwise(0)
                ).alias("split_docs"),
            )
            .first()
        )
        chunk_stats = {
            "chunks_path": chunks_path,
            "n_chunks": int(cagg["n_chunks"] or 0),
            # chunk rows belonging to a doc that needed splitting
            "oversize_chunk_rows": int(cagg["split_docs"] or 0),
        }
    bpe_stats = {}
    if bpe_merges > 0:
        # one distributed word count, then the incremental merge loop on
        # the driver (pytest identity against the greedy reference)
        from ocr_auto_label_spark.operators.bpe import bpe_train, bpe_vocab

        train_docs = curated.filter(F.col("split") == names[0])
        merges, words = bpe_train(train_docs, bpe_merges, text_col=text_col)
        merges_path = f"{output_dir}/bpe_merges"
        spark.createDataFrame(
            [
                (m["step"], m["a"], m["b"], m["merged"], m["total"])
                for m in merges
            ],
            "step long, a string, b string, merged string, total long",
        ).write.mode("overwrite").parquet(merges_path)
        vocab_path = f"{output_dir}/bpe_vocab"
        bpe_vocab(words).write.mode("overwrite").parquet(vocab_path)
        bpe_stats = {
            "bpe_merges_path": merges_path,
            "bpe_vocab_path": vocab_path,
            "bpe_vocab_size": spark.read.parquet(vocab_path).count(),
        }
    stage1 = obs_dedup.get
    # zero-row aggregates yield NULL sums — coerce every count so the
    # JSON contract is always integers, never null
    return {
        **pack_stats,
        **chunk_stats,
        **bpe_stats,
        **sem_stats,
        **sem_decon_stats,
        **span_stats_get(),
        **qual_stats,
        **dsir_stats,
        **mix_stats,
        "rows_in": obs_in.get["rows"],
        "rows_quality_pass": obs_gated.get["rows"],
        "rows_after_dedup": stage1["rows"],
        "split_counts": {n: stage1[n] for n in names},
        "eval_docs": int(contam["eval_docs"] or 0),
        "contaminated_docs": int(contam["contaminated_docs"] or 0),
        "contaminated_grams": int(contam["contaminated_grams"] or 0),
        "curated_path": curated_path,
        "report_path": report_path,
    }

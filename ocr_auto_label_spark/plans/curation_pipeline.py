"""End-to-end training-corpus curation: quality gates → exact dedup →
deterministic split → benchmark decontamination → partitioned output.

Chains the individually oracle-backed operators (textstats gates,
``operators.dedup.exact_dedup``, ``operators/sampling`` split +
decontamination) the way a 100-TB curation run would:

- **Stage 1** is one linear pass — gates are narrow column math, dedup is
  a single hash-window shuffle, the split is a pure projection — written
  ``partitionBy(split)``.  The input and gate counts are ``Observation``
  metrics collected during the first job that runs the chain (no re-scan
  of the input); the after-dedup and per-split counts are read off the
  written ``curated`` table.
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

import functools

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.observation import Observation

from ocr_auto_label_spark.operators.dedup import exact_dedup
from ocr_auto_label_spark.operators.sampling import (
    cross_split_contamination,
    deterministic_split,
)
from ocr_auto_label_spark.operators.textstats import (
    dup_word_frac,
    exact_group_quantiles,
    quality_score,
    token_count,
    word_tokens,
)
from ocr_auto_label_spark.operators.util import local_frame

# the documents and embeddings contract, and the one split layout
ID_COL = "doc_id"
TEXT_COL = "text"
LANG_COL = "lang"
SOURCE_COL = "source"
VEC_ID_COL = "vec_id"
VEC_COL = "embedding"
SPLIT_WEIGHTS = (80, 10, 10)
SPLIT_NAMES = ("train", "val", "test")
TRAIN = SPLIT_NAMES[0]
# excluded while curate_corpus runs: see _observed_counts_survive
_AQE_EXCLUDED_RULES = "spark.sql.adaptive.optimizer.excludedRules"
_AQE_EMPTY_RELATION = (
    "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
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


def _write_back(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_by: str | None = None,
) -> DataFrame:
    """Write ``df`` to ``path`` as parquet, overwriting, and return it read
    back with the writer's schema pinned: a zero-row partitioned write
    leaves only _SUCCESS, and schema inference over that throws
    UNABLE_TO_INFER_SCHEMA, so an empty artifact reads back as an empty
    frame instead of crashing the next stage."""
    writer = df.write.mode("overwrite")
    if partition_by is not None:
        # STATIC overwrite, overriding the session-wide dynamic mode (which
        # the resumable extraction sink wants): this is a full-corpus
        # rewrite, and dynamic mode would leave a stale partition behind
        # whenever a split receives zero rows on a re-run
        writer = writer.option("partitionOverwriteMode", "static")
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)
    return spark.read.schema(df.schema).parquet(path)


def _keep_top_percent(
    spark: SparkSession,
    docs: DataFrame,
    scored: DataFrame,
    ladder: str,
    keep_percent: int,
    path: str,
    no_scores: str,
) -> tuple[DataFrame, int, int]:
    """Keep the ``docs`` whose integer ``ladder`` value in ``scored`` is at
    or above the exact nearest-rank (100 − keep_percent)th percentile;
    returns ``(kept docs, threshold, kept count)``.

    ``scored`` is written to ``path`` as the stage's audit artifact and
    read back, so the scorer runs once for the threshold, the filter and
    the count (ReusedExchange only dedups within one job).  The ladder is
    a bounded set of integers whatever the corpus size, so the threshold
    is one bounded driver pull and the cut is one filter plus a semi-join:
    no global sort, no global rank window.  Boundary ties all survive (the
    kept count is at least the requested percent); unscored docs drop."""
    ranked = _write_back(spark, scored, path).select(ID_COL, ladder)
    thr = exact_group_quantiles(
        ranked.withColumn("__g", F.lit(1)), ladder, "__g",
        percentiles=(100 - keep_percent,),
    ).first()
    if thr is None:
        raise ValueError(no_scores)
    keep = ranked.filter(F.col(ladder) >= thr["val"]).select(ID_COL)
    return docs.join(keep, ID_COL, "left_semi"), int(thr["val"]), keep.count()


def _observed_counts_survive(curate):
    """Run ``curate(spark, ...)`` with AQE's empty-relation rule excluded,
    then restore the session setting.  On an input the planner knows is
    empty (``limit(0)``), the rule replaces the chain above the dedup
    shuffle, stage Observations included, by an empty relation, and
    ``Observation.get`` fails on the empty row it gets back.  Without the
    rule every observed node runs; it only skips work on empty inputs."""

    @functools.wraps(curate)
    def run(spark: SparkSession, *args, **kwargs) -> dict:
        before = spark.conf.get(_AQE_EXCLUDED_RULES, None)
        rules = ",".join(r for r in (before, _AQE_EMPTY_RELATION) if r)
        spark.conf.set(_AQE_EXCLUDED_RULES, rules)
        try:
            return curate(spark, *args, **kwargs)
        finally:
            if before is None:
                spark.conf.unset(_AQE_EXCLUDED_RULES)
            else:
                spark.conf.set(_AQE_EXCLUDED_RULES, before)

    return run


@_observed_counts_survive
def curate_corpus(
    spark: SparkSession,
    docs: DataFrame,
    output_dir: str,
    *,
    min_quality: float = 0.5,
    min_tokens: int = 1,
    max_dup_word_frac: float = 1.0,
    ngram_n: int = 13,
    pack_budget: int = 0,
    chunk_budget: int = 0,
    chunk_overlap: int = 0,
    embeddings: DataFrame | None = None,
    semdedup_centroids: int = 16,
    semdedup_threshold: float = 0.95,
    semantic_decontam_threshold: float | None = None,
    dsir_target_lang: str | None = None,
    dsir_keep_percent: int | None = None,
    span_dedup_width: int = 0,
    bpe_merges: int = 0,
    quality_label_lang: str | None = None,
    quality_keep_percent: int | None = None,
    temperature_alpha: float | None = None,
    temperature_total: int | None = None,
) -> dict:
    """Run the curation pipeline; returns the summary dict.

    Always writes ``{output_dir}/curated`` (partitioned by split) and
    ``{output_dir}/decontam_report`` (per eval doc: id, n_grams, n_contam).
    Optional stages, in pipeline order (each adds its own summary keys):

    - ``embeddings`` (keyed by ``vec_id``): drops SemDeDup evictions;
      ``semantic_evicted_ids``.
    - ``span_dedup_width``: rewrites text without duplicated spans;
      ``span_tokens_before``/``span_tokens_after``.
    - ``quality_keep_percent``: writes ``quality_model``/``quality_scores``;
      their paths, ``quality_threshold_micro``, ``quality_kept``.
    - ``dsir_keep_percent``: writes ``dsir_weights``; ``dsir_weights_path``,
      ``dsir_threshold_milli``, ``dsir_kept``.
    - ``temperature_alpha``/``temperature_total``: resamples sources;
      ``temperature_alpha``, ``temperature_kept(_by_source)``.
    - ``pack_budget``: writes split-pure ``packs``; ``packs_path``,
      ``n_packs``, ``packed_docs``.
    - ``semantic_decontam_threshold``: writes ``semantic_decontam_report``;
      ``semantic_report_path``, ``semantic_contaminated_docs``.
    - ``chunk_budget``: writes ``chunks``; ``chunks_path``, ``n_chunks``,
      ``oversize_chunk_rows``.
    - ``bpe_merges``: trains on the train split, writes ``bpe_merges``/
      ``bpe_vocab``; their paths, ``bpe_vocab_size``.
    """
    # unnamed: a named Observation left registered by a call that raised
    # blocks the next call's get of the same name
    obs_in = Observation()
    obs_gated = Observation()

    gated = quality_gates(
        docs.observe(obs_in, F.count(F.lit(1)).alias("rows")),
        TEXT_COL,
        min_quality=min_quality,
        min_tokens=min_tokens,
        max_dup_word_frac=max_dup_word_frac,
    ).observe(obs_gated, F.count(F.lit(1)).alias("rows"))
    deduped = exact_dedup(gated, TEXT_COL, ID_COL).drop("dup_count")
    sem_stats = {}
    if embeddings is not None:
        from ocr_auto_label_spark.operators.similarity import semdedup

        _, _, evicted = semdedup(
            embeddings,
            n_centroids=semdedup_centroids,
            threshold=semdedup_threshold,
            id_col=VEC_ID_COL,
        )
        # cached until the curated write: the count and the anti join
        # would otherwise each run the whole pair search.  (An Observation
        # on the join's eviction side reports nothing when AQE drops that
        # side as empty: no evictions, or an empty corpus.)  No explicit
        # broadcast hint: the eviction list is usually much smaller than
        # the corpus, but at aggressive thresholds it can be a large
        # fraction of it — AQE picks broadcast vs shuffle from the
        # measured size (the unigram_nll lesson, ADVICE r3)
        evict_ids = evicted.select(F.col("id").alias(ID_COL)).persist()
        sem_stats = {"semantic_evicted_ids": evict_ids.count()}
        deduped = deduped.join(evict_ids, ID_COL, "left_anti")
    if span_dedup_width > 0:
        # duplicated-substring removal (Lee et al. 2021 §4): exact-dup
        # dedup drops whole-doc copies, this drops the repeated PASSAGES
        # inside otherwise-unique docs.  Runs before the split so eval and
        # train see the same rewrite.
        from ocr_auto_label_spark.operators.dedup import (
            remove_duplicated_spans,
        )

        rewritten = remove_duplicated_spans(
            deduped, width=span_dedup_width, key_cols=(ID_COL,),
            text_col=TEXT_COL,
        )
        # token totals ride an Observation instead of a dedicated agg
        # job (which would re-run the whole span chain just for two
        # sums); it fires on the first downstream action, and every
        # firing sees the same deterministic frame, so first-wins is safe
        obs_span = Observation()
        deduped = (
            deduped.drop(TEXT_COL)
            .join(
                rewritten.select(
                    ID_COL,
                    F.col("new_text").alias(TEXT_COL),
                    "n_tokens",
                    "n_kept_tokens",
                ),
                ID_COL,
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
        # model-based selection (the fastText-filter step of CCNet and
        # RedPajama): the hashed-LR model trains on the surviving corpus
        # bit-reproducibly, so the kept set is the same at any
        # parallelism.  Runs before DSIR: model-based first,
        # importance-ratio second.
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

        qw, _, qscored = train_quality_lr(
            deduped,
            label_expr=(F.col(LANG_COL) == quality_label_lang),
            id_col=ID_COL,
            text_col=TEXT_COL,
        )
        qm_path = f"{output_dir}/quality_model"
        _write_back(
            spark,
            local_frame(
                spark,
                [(b, qw[b]) for b in range(LR_BUCKETS)],
                "bucket int, w double",
            ),
            qm_path,
        )
        qs_path = f"{output_dir}/quality_scores"
        deduped, qthr, qkept = _keep_top_percent(
            spark,
            deduped,
            qscored.select(
                F.col("id").alias(ID_COL),
                "y",
                "score",
                # micro (1e-6) ladder, not DSIR's milli: LR scores live in
                # a narrow band around 0.5, and a coarser ladder would
                # collapse the ranking into one tie bucket
                F.floor(F.col("score") * 1000000).cast("long").alias("ms"),
            ),
            "ms",
            quality_keep_percent,
            qs_path,
            "quality selection: no document produced a score",
        )
        qual_stats = {
            "quality_model_path": qm_path,
            "quality_scores_path": qs_path,
            "quality_threshold_micro": qthr,
            "quality_kept": qkept,
        }
    dsir_stats = {}
    if dsir_keep_percent is not None:
        # DSIR data selection (Xie et al. 2023): keep the docs whose
        # hashed-bigram importance weights look most like the target
        # domain.  Docs with fewer than 2 tokens have no weight and drop.
        if dsir_target_lang is None:
            raise ValueError("dsir_keep_percent requires dsir_target_lang")
        if not 1 <= dsir_keep_percent <= 99:
            raise ValueError("dsir_keep_percent must be in [1, 99]")
        from ocr_auto_label_spark.operators.textstats import dsir_logweights

        wts = dsir_logweights(
            deduped, target=(F.col(LANG_COL) == dsir_target_lang),
            id_col=ID_COL, text_col=TEXT_COL,
        )
        wts_path = f"{output_dir}/dsir_weights"
        deduped, dthr, dkept = _keep_top_percent(
            spark,
            deduped,
            wts.select(
                ID_COL,
                "n_grams",
                "avg_logweight",
                F.floor(F.col("avg_logweight") * 1000).cast("long").alias("mw"),
            ),
            "mw",
            dsir_keep_percent,
            wts_path,
            "dsir selection: no document produced bigram weights",
        )
        dsir_stats = {
            "dsir_weights_path": wts_path,
            "dsir_threshold_milli": dthr,
            "dsir_kept": dkept,
        }
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
            deduped, SOURCE_COL, temperature_alpha, temperature_total,
            id_col=ID_COL,
        ).drop("mix_rank")
    assigned = deterministic_split(
        deduped, ID_COL, SPLIT_WEIGHTS, SPLIT_NAMES
    )
    curated_path = f"{output_dir}/curated"
    written = _write_back(spark, assigned, curated_path, partition_by="split")
    if embeddings is not None:
        evict_ids.unpersist()
    # counted on the written corpus: one pass over the curated artifact,
    # none over the input
    per_split = dict(written.groupBy("split").count().collect())
    split_counts = {n: per_split.get(n, 0) for n in SPLIT_NAMES}
    mix_stats = {}
    if temperature_alpha is not None:
        # counted on the written corpus (the split drops no rows): the
        # resampled frame would re-run the whole gate → dedup chain
        per = {
            r[0]: int(r[1])
            for r in written.groupBy(SOURCE_COL).count().collect()
        }
        mix_stats = {
            "temperature_alpha": temperature_alpha,
            "temperature_kept": sum(per.values()),
            "temperature_kept_by_source": dict(sorted(per.items())),
        }
    curated = written.select(ID_COL, TEXT_COL, "split")
    report = cross_split_contamination(
        curated, ID_COL, TEXT_COL, "split", n=ngram_n, train_name=TRAIN
    )
    report_path = f"{output_dir}/decontam_report"
    contam = (
        _write_back(spark, report, report_path)
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
            curated, pack_budget, ID_COL, TEXT_COL, within_cols=["split"]
        )
        agg = (
            _write_back(spark, packed, packs_path)
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
            F.col(ID_COL).alias(VEC_ID_COL), F.col("split")
        )
        emb = embeddings.join(splits, VEC_ID_COL).withColumn(
            "__sig", hyperplane_signature(VEC_COL)
        )
        pairs = cosine_neardup_pairs(
            emb, ["__sig"], semantic_decontam_threshold,
            vec_col=VEC_COL, id_col=VEC_ID_COL,
        )
        sa = splits.select(
            F.col(VEC_ID_COL).alias("id_a"), F.col("split").alias("split_a")
        )
        sb = splits.select(
            F.col(VEC_ID_COL).alias("id_b"), F.col("split").alias("split_b")
        )
        crossed = pairs.join(sa, "id_a").join(sb, "id_b")
        # normalize each pair to (eval doc, train partner); a pair can
        # qualify in one direction only (train×train / eval×eval drop out)
        hits = crossed.select(
            F.when(F.col("split_a") != TRAIN, F.col("id_a"))
            .otherwise(F.col("id_b")).alias("eval_id"),
            F.when(F.col("split_a") != TRAIN, F.col("id_b"))
            .otherwise(F.col("id_a")).alias("train_id"),
            "cosine",
            "split_a",
            "split_b",
        ).filter(
            (F.col("split_a") == TRAIN) != (F.col("split_b") == TRAIN)
        )
        sem_report = hits.groupBy(F.col("eval_id").alias(ID_COL)).agg(
            # tie-break equal cosines by the larger train id — determinism
            # under any partitioning (a bare max_by picks arbitrarily)
            F.max_by("train_id", F.struct("cosine", "train_id")).alias(
                "nearest_train_id"
            ),
            F.max("cosine").alias("max_cosine"),
            F.count(F.lit(1)).alias("n_train_matches"),
        )
        sem_report_path = f"{output_dir}/semantic_decontam_report"
        n_sem = _write_back(spark, sem_report, sem_report_path).count()
        sem_decon_stats = {
            "semantic_report_path": sem_report_path,
            "semantic_contaminated_docs": int(n_sem),
        }
    chunk_stats = {}
    if chunk_budget > 0:
        from ocr_auto_label_spark.operators.packing import chunk_documents

        chunks_path = f"{output_dir}/chunks"
        chunks = chunk_documents(
            curated, chunk_budget, chunk_overlap, ID_COL, TEXT_COL,
            carry_cols=["split"],
        )
        cagg = (
            _write_back(spark, chunks, chunks_path)
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

        if split_counts[TRAIN]:
            train_docs = curated.filter(F.col("split") == TRAIN)
            merges, words = bpe_train(train_docs, bpe_merges, text_col=TEXT_COL)
        else:  # bpe_train raises on a corpus with no pairs to merge
            merges, words = [], local_frame(
                spark, [], "word string, cnt long, seq string"
            )
        merges_path = f"{output_dir}/bpe_merges"
        _write_back(
            spark,
            local_frame(
                spark,
                [
                    (m["step"], m["a"], m["b"], m["merged"], m["total"])
                    for m in merges
                ],
                "step long, a string, b string, merged string, total long",
            ),
            merges_path,
        )
        vocab_path = f"{output_dir}/bpe_vocab"
        bpe_stats = {
            "bpe_merges_path": merges_path,
            "bpe_vocab_path": vocab_path,
            "bpe_vocab_size": _write_back(
                spark, bpe_vocab(words), vocab_path
            ).count(),
        }
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
        "rows_after_dedup": sum(per_split.values()),
        "split_counts": split_counts,
        "eval_docs": int(contam["eval_docs"] or 0),
        "contaminated_docs": int(contam["contaminated_docs"] or 0),
        "contaminated_grams": int(contam["contaminated_grams"] or 0),
        "curated_path": curated_path,
        "report_path": report_path,
    }

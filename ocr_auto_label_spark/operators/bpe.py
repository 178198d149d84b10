"""Distributed BPE tokenizer training (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units" §3.2).

The classic algorithm: start from characters, repeatedly merge the most
frequent adjacent symbol pair.  Training data for the pair statistics is
the DISTINCT-WORD vocabulary weighted by word frequency — the same
distinct-value compression every heavy operator here uses (a 100 TB
corpus has ~10⁷–10⁸ distinct words, not 10¹²; all pair counting happens
on that vocabulary table, never on the token stream).

Shape (the production tokenizer-trainer design — HuggingFace tokenizers /
SentencePiece train exactly this way): ONE map-side-combined word count
runs distributed, the top ``max_vocab`` words by (cnt DESC, word) are a
BOUNDED driver pull, and the merge loop is the standard incremental
algorithm (Sennrich's reference ``learn_bpe`` index structure): pair
counts plus a pair→words inverted index, updated per merge by re-counting
ONLY the words whose sequence contains the merged pair.  Ties break by
(count DESC, a ASC, b ASC), a total order, so training is bit-
reproducible and replayable as a static chained-CTE SQL oracle.

A word's symbol sequence is stored as a STRING — symbols joined by two
spaces, padded with one space on each end (symbols never contain
whitespace, by tokenization).  The DuckDB oracle replays one merge as a
single literal ``replace(seq, ' a  b ', ' ab ')``: ``replace`` scans
left-to-right non-overlapping, which is EXACTLY the greedy merge of
:func:`_merge_symbols` including the ``a a a → (aa) a`` case, and the
one-vs-two-space framing makes cross-symbol-boundary false matches
impossible ('xa b' does not contain ' a  b ').
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ocr_auto_label_spark.operators.textstats import word_terms


def word_frequencies(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) over the corpus — the weighted training vocabulary."""
    return (
        df.select(F.explode(word_terms(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# split back to symbols: trim the outer pad, split on the 2-space joiner
_SYMS = "split(trim(seq), '  ')"


def _merge_symbols(syms: list[str], a: str, b: str) -> list[str]:
    """One merge step on a symbol list: left-to-right, non-overlapping —
    the exact semantics of ``replace(seq, ' a  b ', ' ab ')`` on the
    two-space-joined string (so ``a a a → (aa) a``)."""
    out: list[str] = []
    i, n = 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _local_bpe_delta(
    vocab: list[tuple[str, int]], n_merges: int
) -> tuple[list[dict], list[list[str]]]:
    """The merge loop of :func:`bpe_train` over a driver-local
    ``(word, cnt)`` vocabulary: O(affected words) per step instead of a
    full vocabulary pass; tie-break (count DESC, a ASC, b ASC).  Returns
    the merge table and each word's final symbol list."""
    seqs = [list(w) for w, _ in vocab]
    cnts = [c for _, c in vocab]
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    for idx, syms in enumerate(seqs):
        c = cnts[idx]
        for p in zip(syms, syms[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + c
            pair_words.setdefault(p, set()).add(idx)
    merges: list[dict] = []
    for step in range(n_merges):
        if not pair_counts:
            raise ValueError(
                f"bpe_train: no adjacent pairs left at step {step} — "
                "n_merges exceeds the corpus's merge capacity"
            )
        (a, b), total = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        merges.append(
            {"step": step, "a": a, "b": b, "merged": a + b, "total": total}
        )
        for idx in pair_words.get((a, b), set()).copy():
            old = seqs[idx]
            new = _merge_symbols(old, a, b)
            c = cnts[idx]
            # subtract the word's old adjacencies, add the new ones —
            # the per-word form of Sennrich's update_pair_statistics.
            # Occurrence Counters, not per-position loops: a pair can
            # occur several times in one word, but its index-set
            # membership flips at most once.
            old_pc = Counter(zip(old, old[1:]))
            new_pc = Counter(zip(new, new[1:]))
            for p, k in old_pc.items():
                left = pair_counts[p] - c * k
                if left:
                    pair_counts[p] = left
                else:
                    del pair_counts[p]
            for p, k in new_pc.items():
                pair_counts[p] = pair_counts.get(p, 0) + c * k
            for p in old_pc.keys() - new_pc.keys():
                ws = pair_words[p]
                ws.discard(idx)
                if not ws:
                    del pair_words[p]
            for p in new_pc.keys():
                pair_words.setdefault(p, set()).add(idx)
            seqs[idx] = new
    return merges, seqs


def apply_merges(
    words: DataFrame, merges: list[dict], word_col: str = "word"
) -> DataFrame:
    """Add ``seq`` (two-space joined, padded) to a ``(word, …)`` frame by
    replaying the trained merge table per word — the BPE ENCODER for
    words outside the trainer's collected vocabulary (and for unseen
    text).  Per-word replay in global merge order is identical to the
    global replace-chain replay: each ``replace`` only reads the word's
    own sequence.  Arrow-batched pandas UDF (the merge table broadcasts
    in the closure; it is merges-sized, never corpus-sized)."""
    from pyspark.sql.functions import pandas_udf

    pairs = [(m["a"], m["b"]) for m in merges]

    @pandas_udf("string")
    def _seq(col: pd.Series) -> pd.Series:
        def enc(w: str) -> str:
            syms = list(w)
            present = set(zip(syms, syms[1:]))
            for a, b in pairs:
                if (a, b) in present:
                    syms = _merge_symbols(syms, a, b)
                    present = set(zip(syms, syms[1:]))
            return " " + "  ".join(syms) + " "

        return col.map(enc)

    return words.withColumn("seq", _seq(F.col(word_col)))


def bpe_train(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    max_vocab: int = 4_000_000,
) -> tuple[list[dict], DataFrame]:
    """Train ``n_merges`` BPE merges on ``df[text_col]``.

    Returns ``(merges, words)``: ``merges`` is the ordered merge table
    (step, a, b, merged, total), and ``words`` is the vocabulary frame
    (word, cnt, seq) with ``seq`` holding each word's FINAL symbol
    sequence (two-space joined, padded) — the segmenter state that
    :func:`bpe_segment_counts` and any encoder join against.  Raises if
    the corpus runs out of mergeable pairs before ``n_merges``.

    Only the top ``max_vocab`` words by (cnt DESC, word) reach the driver
    (the cap is the same knob as every production trainer's
    min-frequency cutoff).  Words beyond the cap never influence pair
    statistics and get their final segmentation from the trained table
    via :func:`apply_merges`.
    """
    if n_merges < 1:
        raise ValueError("bpe_train: n_merges must be >= 1")
    wf = word_frequencies(df, text_col)
    head = wf.orderBy(F.desc("cnt"), F.asc("word")).limit(max_vocab).toArrow()
    merges, seqs = _local_bpe_delta(
        list(zip(head["word"].to_pylist(), head["cnt"].to_pylist())), n_merges
    )
    # Back to Spark as an Arrow table, not a row list: below
    # spark.sql.execution.arrow.localRelationThreshold it becomes a
    # LocalRelation whose size estimate is rows × row width, so joins
    # against it (bpe_segment_counts) broadcast the vocabulary.  A row
    # list becomes an RDD scan that reports Long.MaxValue bytes, and the
    # planner then broadcasts the corpus side instead.  Above the
    # threshold the RDD path is what a 4M-word vocabulary should get.
    trained = df.sparkSession.createDataFrame(head.append_column(
        "seq", pa.array([" " + "  ".join(s) + " " for s in seqs], pa.string())
    ))
    if head.num_rows < max_vocab:
        return merges, trained
    rest = wf.join(
        trained.select("word"), "word", "left_anti"
    )
    return merges, trained.unionByName(apply_merges(rest, merges))


def bpe_vocab(words: DataFrame) -> DataFrame:
    """(symbol, total) — occurrence-weighted counts of the final symbol
    inventory (chars + merged units)."""
    return (
        words.select(
            "cnt", F.explode(F.expr(_SYMS)).alias("symbol")
        )
        .groupBy("symbol")
        .agg(F.sum("cnt").alias("total"))
    )


def bpe_segment_counts(
    df: DataFrame,
    words: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_symbols, n_words) — per-document token counts AFTER the
    trained merges (the compression the tokenizer buys).  One explode +
    one word-keyed equi-join against the vocabulary's per-word symbol
    count (AQE broadcast-or-shuffle; every corpus word is in the
    vocabulary by construction)."""
    per_word = words.select(
        "word", F.size(F.expr(_SYMS)).alias("n_sym")
    )
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(word_terms(F.col(text_col))).alias("word"),
        )
        .join(per_word, "word")
        .groupBy("id")
        .agg(
            F.sum("n_sym").cast("long").alias("n_symbols"),
            F.count(F.lit(1)).alias("n_words"),
        )
    )

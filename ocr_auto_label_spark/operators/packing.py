"""Sequence packing: assign documents to fixed-token-budget packs.

LLM pretraining consumes documents as packed fixed-length sequences:
concatenate the corpus in a deterministic order and cut every ``budget``
tokens; each document belongs to the pack where it *starts*.  This module
computes that assignment relationally:

- **Deterministic order**: ``(xxhash64(id), id)`` — the same engine-stable
  hash family as the split/mixture operators, so the packing is identical
  across runs, partitionings, and engines (and is a cheap corpus shuffle:
  hash order ≈ random order, which is what training wants).
- **Sharded, not global**: a global running sum would serialize the
  corpus through one partition.  Real pipelines pack per worker; here
  each ``shard = pmod(xxhash64(id), n_shards)`` packs independently —
  one window shuffle keyed by shard, embarrassingly parallel, and the
  pack key is ``(shard, pack_id)``.
- **Pure integer math**: ``pack_id = start_offset // budget`` with
  ``start_offset`` the running token count before the doc — so a DuckDB
  oracle reproduces every assignment exactly.

A document longer than ``budget`` still gets the pack where it starts
(training cuts it across pack boundaries downstream); packs therefore
hold ≥1 document and their pre-overflow totals are < budget + the last
doc's length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ocr_auto_label_spark.operators.sampling import checked_id_hash
from ocr_auto_label_spark.operators.textstats import cased_tokens, token_count


def chunk_documents(
    df: DataFrame,
    budget: int,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Split documents longer than ``budget`` tokens into overlapping
    token-window chunks — the complement of :func:`pack_sequences`
    (packing concatenates short docs up to a context window; chunking
    cuts long docs down to fit one).

    Chunk ``i`` covers tokens ``[i·stride, i·stride + budget)`` with
    ``stride = budget − overlap``; the chunk count is the minimal number
    that covers every token (``1 + ceil((n − budget)/stride)`` for
    ``n > budget``, else one chunk), so a doc never loses its tail and a
    short doc passes through whole.  NULL/whitespace-only text emits one
    empty chunk — the doc stays addressable downstream.  All integer
    arithmetic (`div`-based ceil), so an independent SQL replay matches
    every boundary exactly.

    Narrow op: tokenize → per-row ``sequence`` → ``posexplode`` — ZERO
    shuffles, embarrassingly parallel, composes with any upstream
    partitioning.  ``carry_cols`` projects extra per-doc columns onto
    every chunk (e.g. ``["split"]`` after ``deterministic_split`` — chunks
    inherit their doc's split with no join).  Output: ``(id_col,
    *carry_cols, chunk_idx, start_tok, n_chunk_tokens, chunk_text,
    n_tokens, n_chunks)``.
    """
    if budget <= 0:
        raise ValueError("chunk_documents: budget must be positive")
    if not 0 <= overlap < budget:
        raise ValueError("chunk_documents: need 0 <= overlap < budget")
    stride = budget - overlap
    carry = list(carry_cols or [])
    toks = cased_tokens(F.col(text_col))  # no phantom '' → no empty chunk
    base = df.select(F.col(id_col), *carry, toks.alias("__toks")).select(
        id_col,
        *carry,
        "__toks",
        F.size("__toks").alias("n_tokens"),
    ).withColumn(
        "n_chunks",
        F.when(
            F.col("n_tokens") > budget,
            1 + F.expr(f"(n_tokens - {budget} + {stride} - 1) div {stride}"),
        ).otherwise(F.lit(1)).cast("long"),
    )
    exploded = base.select(
        id_col,
        *carry,
        "__toks",
        "n_tokens",
        "n_chunks",
        F.posexplode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias(
            "chunk_idx", "__i"
        ),
    )
    start = F.col("chunk_idx").cast("long") * stride
    k = F.least(F.lit(budget).cast("long"), F.col("n_tokens") - start)
    return exploded.select(
        id_col,
        *carry,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        start.alias("start_tok"),
        k.alias("n_chunk_tokens"),
        F.array_join(
            F.slice(F.col("__toks"), start.cast("int") + 1, k.cast("int")), " "
        ).alias("chunk_text"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "n_chunks",
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 8,
    within_cols: list[str] | None = None,
) -> DataFrame:
    """Add ``(shard, n_tokens, start_offset, pack_id)`` per document.

    ``start_offset`` is the cumulative whitespace-token count of all
    earlier docs in the shard's ``(xxhash64(id), id)`` order;
    ``pack_id = start_offset // budget``.

    ``within_cols`` adds boundary columns to the pack partitioning — a
    pack never mixes rows across them.  The canonical use is
    ``within_cols=["split"]`` after ``deterministic_split``: training
    packs must never contain eval documents, so each (split, shard)
    stream packs independently.
    """
    if budget <= 0 or n_shards <= 0:
        raise ValueError("pack_sequences: budget and n_shards must be positive")
    within = list(within_cols or [])
    hash_col = checked_id_hash(F.col(id_col))
    w = (
        Window.partitionBy(*within, "shard")
        .orderBy(hash_col, id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_tokens = df.select(
        id_col,
        *within,
        F.pmod(hash_col, F.lit(n_shards)).cast("long").alias("shard"),
        # NULL text packs as 0 tokens (explicitly — a bare token_count
        # would propagate NULL through the running sum and leave the row
        # with pack_id NULL, silently outside every pack)
        F.coalesce(token_count(F.col(text_col)), F.lit(0))
        .cast("long").alias("n_tokens"),
    )
    return with_tokens.select(
        id_col,
        *within,
        "shard",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_offset"),
    ).withColumn(
        # integral `div`, not double division + cast: offsets can exceed
        # 2^53 at corpus scale, where double rounding would corrupt ids
        "pack_id", F.expr(f"start_offset div {budget}")
    )

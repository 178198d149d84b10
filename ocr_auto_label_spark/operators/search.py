"""Inverted index + boolean search over a document corpus.

The reference's contains-search (F5, ``images.ts:143-149``) scans every
row's strings per query; that is fine for 5 000 photos and wrong for
10¹² documents.  The corpus-scale shape is an INVERTED INDEX — term →
(df, sorted posting list) — built once, and term-exact queries answered
by posting-list intersection without touching the text again.  This
module is that pair of operators, both pure relational:

- :func:`build_inverted_index`: one (doc, term)-distinct aggregate (the
  explode carries each doc's DISTINCT terms once) and one term-keyed
  aggregate; posting lists are ``sort_array``-pinned so the index is
  byte-deterministic under any partitioning.  The materialized form is
  :func:`write_search_index` — written ``partitionBy(pmod(xxhash64(term),
  B))`` so a query prunes to its terms' partitions (the IVF-index
  pattern, ``similarity.py:ivf_write_index``; pruning plan-asserted),
  with (id, tf) postings and a doc-length sidecar so BM25 runs from the
  index too (:func:`bm25_search_indexed`, bit-identical scores).
- :func:`boolean_search`: AND-semantics over the index — explode the
  query terms' postings, count per doc, keep docs hit by ALL terms.
  Work is O(Σ posting lengths of the query terms), never a corpus scan;
  hot stopword-grade terms are the caller's to exclude (their postings
  are the whole corpus — exactly why search engines drop them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ocr_auto_label_spark.operators.textstats import word_terms
from ocr_auto_label_spark.operators.util import local_frame

BM25_K1 = 1.2
BM25_B = 0.75


def build_inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """(term, df_cnt, postings) — postings sorted ascending, so the
    index is deterministic and mergeable.

    ``max_df`` is the BUILD-TIME stopword exclusion: a stopword-grade
    term's posting list is the whole corpus's ids in one aggregation
    buffer, so at 10¹²-doc scale the cutoff must happen before the
    posting collect, not at query time.  With ``max_df`` set, a cheap
    df count-aggregate runs first and only terms with ``df <= max_df``
    reach the posting aggregate (the pairs→surviving-terms equi-join is
    AQE-planned).  ``None`` skips the extra pass — fine for bounded
    corpora and tests."""
    pairs = df.select(
        F.col(id_col).alias("id"), F.explode(word_terms(F.col(text_col))).alias("term")
    ).distinct()
    if max_df is not None:
        if max_df <= 0:
            raise ValueError("build_inverted_index: max_df must be positive")
        keep = (
            pairs.groupBy("term")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("term")
        )
        pairs = pairs.join(keep, "term")
    return pairs.groupBy("term").agg(
        F.count(F.lit(1)).alias("df_cnt"),
        F.sort_array(F.collect_list("id")).alias("postings"),
    )


def merge_inverted_index(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two inverted indexes built over DISJOINT document sets:
    per term, df counts add and posting lists concatenate + re-sort —
    so the index can be built incrementally (per partition, per day,
    per ingest batch) and folded together, exactly like the sketches:
    index(A ∪ B) == merge(index(A), index(B)) when A ∩ B = ∅ (the
    caller's contract; overlapping ids would double-count df)."""
    return (
        a.unionByName(b)
        .groupBy("term")
        .agg(
            F.sum("df_cnt").alias("df_cnt"),
            F.sort_array(F.flatten(F.collect_list("postings"))).alias(
                "postings"
            ),
        )
    )


def write_search_index(
    df: DataFrame,
    path: str,
    n_buckets: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> None:
    """Materialize the search index, PARTITIONED BY TERM-HASH BUCKET —
    the IVF-index pattern (``similarity.py:ivf_write_index``) applied to
    text: ``term_bucket = pmod(xxhash64(term), n_buckets)`` is the
    partition column, so a query's index read prunes at the file-listing
    level to its terms' buckets instead of scanning the whole index
    (plan-asserted in tests/test_search.py::
    test_search_index_probe_is_partition_pruned).

    Two tables under ``path``:
    - ``{path}/terms``: (term, df_cnt, postings, tf_postings) — sorted id
      postings for boolean intersection plus (id, tf) postings for
      index-backed BM25, partitioned by term_bucket;
    - ``{path}/doclens``: (id, dl) — the per-document token lengths BM25
      needs for its saturation term (a corpus-keyed sidecar: doc lengths
      are query-independent, so they live outside the bucketed layout).

    ``max_df`` is the same build-time stopword cutoff as
    :func:`build_inverted_index` — at corpus scale a stopword's posting
    list must never reach an aggregation buffer.

    ``{path}/meta`` holds the bucket count, so readers never probe with
    a mismatched modulus (which silently drops ~half the query terms).
    It is also the commit marker: NULL while the tables are rewritten,
    so a write that fails part-way leaves an index readers reject."""

    def write_meta(n: int | None) -> None:
        meta = local_frame(df.sparkSession, [(n,)], "n_buckets int")
        meta.write.mode("overwrite").parquet(f"{path}/meta")

    write_meta(None)
    tok_rows = df.select(
        F.col(id_col).alias("id"), F.explode(word_terms(F.col(text_col))).alias("term")
    )
    tf = tok_rows.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    if max_df is not None:
        if max_df <= 0:
            raise ValueError("write_search_index: max_df must be positive")
        keep = (
            tf.groupBy("term")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("term")
        )
        tf = tf.join(keep, "term")
    index = (
        tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df_cnt"),
            F.sort_array(F.collect_list("id")).alias("postings"),
            F.sort_array(F.collect_list(F.struct("id", "tf"))).alias(
                "tf_postings"
            ),
        )
        .withColumn(
            "term_bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets))
        )
    )
    index.write.mode("overwrite").partitionBy("term_bucket").parquet(
        f"{path}/terms"
    )
    dl = tok_rows.groupBy("id").agg(F.count(F.lit(1)).alias("dl"))
    dl.write.mode("overwrite").parquet(f"{path}/doclens")
    write_meta(int(n_buckets))


def index_n_buckets(spark, path: str) -> int:
    """The bucket count a materialized index was written with."""
    n = spark.read.parquet(f"{path}/meta").collect()[0].n_buckets
    if n is None:
        raise ValueError(f"index at {path} is incomplete: a write did not finish")
    return int(n)


def term_buckets(spark, terms: list[str], n_buckets: int) -> list[int]:
    """The index buckets holding ``terms`` — one tiny Spark job so the
    hash family stays the single JVM implementation (the same device
    ``lsh_bucketed_topk`` uses for the query signature).  Bounded pull:
    len(terms) rows."""
    tdf = local_frame(spark, [(t,) for t in terms], "term string")
    rows = tdf.select(
        F.pmod(F.xxhash64("term"), F.lit(n_buckets)).alias("b")
    ).collect()
    return sorted({int(r.b) for r in rows})


def read_index_terms(
    spark, path: str, terms: list[str], n_buckets: int | None = None
) -> DataFrame:
    """The query terms' slice of a materialized index: the term_bucket
    predicate prunes partitions at file listing, the term predicate
    prunes row groups inside the surviving buckets.  ``n_buckets``
    defaults to the count PERSISTED with the index; passing a different
    value is rejected rather than silently dropping ~half the terms."""
    stored = index_n_buckets(spark, path)
    if n_buckets is None:
        n_buckets = stored
    elif n_buckets != stored:
        raise ValueError(
            f"read_index_terms: index at {path} was written with "
            f"n_buckets={stored}, got {n_buckets}"
        )
    buckets = term_buckets(spark, terms, n_buckets)
    return (
        spark.read.parquet(f"{path}/terms")
        .filter(F.col("term_bucket").isin(buckets))
        .filter(F.col("term").isin(list(terms)))
    )


def boolean_search_indexed(
    spark, path: str, must_terms: list[str], n_buckets: int | None = None
) -> DataFrame:
    """:func:`boolean_search` against a MATERIALIZED index — reads only
    the query terms' buckets (partition-pruned)."""
    must_terms = [t.lower() for t in must_terms]
    return boolean_search(
        read_index_terms(spark, path, must_terms, n_buckets), must_terms
    )


def bm25_from_index_slice(
    spark,
    idx_slice: DataFrame,
    path: str,
    terms: list[str],
    k1: float = BM25_K1,
    b: float = BM25_B,
    top_k: int | None = None,
) -> DataFrame:
    """BM25 over an ALREADY-READ index slice (the query terms' rows of
    ``read_index_terms``) — lets a caller that needs several views of
    the same slice (postings + boolean + ranked) read it once."""
    tf = idx_slice.select(
        "term", F.explode("tf_postings").alias("p")
    ).select(F.col("p.id").alias("id"), "term", F.col("p.tf").alias("tf"))
    dft = idx_slice.select("term", F.col("df_cnt").alias("df_t"))
    dl = spark.read.parquet(f"{path}/doclens")
    return _bm25_score(tf, dft, dl, terms, k1, b, top_k)


def bm25_search_indexed(
    spark,
    path: str,
    query_terms: list[str],
    n_buckets: int | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
    top_k: int | None = None,
) -> DataFrame:
    """:func:`bm25_search` answered from the MATERIALIZED index: tf rows
    come from the query terms' (partition-pruned) tf_postings, df from
    the stored df_cnt, lengths from the doclens sidecar — no corpus
    scan.  Bit-identical scores to the corpus-scan path (same exact op
    tree over equal integer inputs; pytest identity)."""
    terms = [t.lower() for t in query_terms]
    if not terms:
        raise ValueError("bm25_search_indexed: query_terms must be non-empty")
    if len(set(terms)) != len(terms):
        raise ValueError("bm25_search_indexed: query_terms must be distinct")
    idx = read_index_terms(spark, path, terms, n_buckets)
    return bm25_from_index_slice(spark, idx, path, terms, k1, b, top_k)


def boolean_search(index: DataFrame, must_terms: list[str]) -> DataFrame:
    """Doc ids containing ALL of ``must_terms`` (AND semantics), by
    posting intersection: explode only the query terms' postings, count
    hits per doc, keep counts == len(must_terms).  Returns (id).

    Terms are lowercased to match the index's ``word_terms``
    normalization (an un-normalized 'Spark' would otherwise silently
    match nothing); terms that collapse after lowercasing are rejected
    like any other duplicate."""
    must_terms = [t.lower() for t in must_terms]
    if not must_terms:
        raise ValueError("boolean_search: must_terms must be non-empty")
    if len(set(must_terms)) != len(must_terms):
        raise ValueError("boolean_search: must_terms must be distinct")
    hits = (
        index.filter(F.col("term").isin(list(must_terms)))
        .select(F.explode("postings").alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return hits.filter(F.col("n_hit") == len(must_terms)).select("id")


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
    top_k: int | None = None,
) -> DataFrame:
    """Ranked (OR-semantics) retrieval: BM25-family scoring of every doc
    containing ≥1 query term.  Returns (id, dl, score), optionally the
    global top-``top_k`` by (score DESC, id ASC).

    Scoring uses the RATIO form of idf — ``(N - df + 0.5)/(df + 0.5)``
    without the log — times the standard BM25 tf-saturation term.  The
    log is omitted deliberately (same design as tfidf_top_terms): each
    arithmetic step here is a single IEEE-correctly-rounded op on
    identical operands, so the double scores are BIT-IDENTICAL across
    engines and the top-k cut is oracle-safe; ``ln`` is a libm call
    whose ulps differ cross-engine and would flip near-ties.  Per-term
    ordering is unchanged (the map is monotone); only the relative
    weighting of multi-term sums differs from log-idf BM25, which is a
    documented scoring-variant choice, not an approximation.

    Scale shape: one tokenize+explode map pass; doc lengths are a
    map-side-combined count; the per-(doc, query-term) tf aggregation
    touches only rows whose term is in the query (filter BEFORE the
    shuffle); df/avgdl are tiny broadcast frames.  The per-doc score sum
    is a fixed-order chain of per-term columns (conditional-agg pivot),
    never a float SUM whose accumulation order could vary by partition.
    """
    terms = [t.lower() for t in query_terms]
    if not terms:
        raise ValueError("bm25_search: query_terms must be non-empty")
    if len(set(terms)) != len(terms):
        raise ValueError("bm25_search: query_terms must be distinct")
    tok_rows = df.select(
        F.col(id_col).alias("id"), F.explode(word_terms(F.col(text_col))).alias("term")
    )
    dl = tok_rows.groupBy("id").agg(F.count(F.lit(1)).alias("dl"))
    tf = (
        tok_rows.filter(F.col("term").isin(terms))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    return _bm25_score(tf, dft, dl, terms, k1, b, top_k)


def _bm25_score(
    tf: DataFrame,
    dft: DataFrame,
    dl: DataFrame,
    terms: list[str],
    k1: float,
    b: float,
    top_k: int | None,
) -> DataFrame:
    """The shared BM25 scoring tail over (id, term, tf) / (term, df_t) /
    (id, dl) parts — ONE implementation for the corpus-scan and
    materialized-index paths, so their score doubles are bit-identical by
    construction (the parts are integer-valued and equal)."""
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("tot_dl")
    )
    # constants are folded in PYTHON and embedded as exact double
    # literals so the oracle generator can embed the very same values
    k1p1, omb = k1 + 1.0, 1.0 - b
    avgdl = F.col("tot_dl").cast("double") / F.col("n_docs").cast("double")
    idf = (
        (F.col("n_docs") - F.col("df_t")).cast("double") + F.lit(0.5)
    ) / (F.col("df_t").cast("double") + F.lit(0.5))
    tf_d = F.col("tf").cast("double")
    sat = (tf_d * F.lit(k1p1)) / (
        tf_d
        + F.lit(k1)
        * (F.lit(omb) + F.lit(b) * (F.col("dl").cast("double") / avgdl))
    )
    scored = (
        tf.join(F.broadcast(dft), "term")
        .join(dl, "id")
        .crossJoin(F.broadcast(stats))  # 1-row stats frame
        .select("id", "dl", "term", (idf * sat).alias("contrib"))
    )
    per_term = scored.groupBy("id", "dl").agg(
        *[
            F.max(F.when(F.col("term") == t, F.col("contrib"))).alias(
                f"__c{i}"
            )
            for i, t in enumerate(terms)
        ]
    )
    score = F.coalesce(F.col("__c0"), F.lit(0.0))
    for i in range(1, len(terms)):  # fixed left-to-right addition order
        score = score + F.coalesce(F.col(f"__c{i}"), F.lit(0.0))
    out = per_term.select("id", "dl", score.alias("score"))
    if top_k is not None:
        if top_k <= 0:
            raise ValueError("bm25_search: top_k must be positive")
        out = out.orderBy(F.col("score").desc(), F.col("id")).limit(top_k)
    return out


def phrase_search(
    df: DataFrame,
    phrase: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-phrase search via a POSITIONAL index: (id, n_match) for
    every doc where the tokens of ``phrase`` occur consecutively,
    ``n_match`` = number of start positions.

    Shape: posexplode gives (id, pos, term) once; each phrase word's
    postings are filtered from that one pass and shifted to its start
    offset (pos - i), then the words are intersected with equi-joins on
    (id, start) — work is O(Σ postings of the phrase's words), never a
    text rescan, and each join key (id, start) is near-unique so the
    joins stay skew-free even for common words.  Positions are 0-based
    indices into the ``word_terms`` sequence."""
    terms = [t.lower() for t in phrase]
    if len(terms) < 2:
        raise ValueError("phrase_search: phrase needs >= 2 words")
    pos_rows = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(word_terms(F.col(text_col))).alias("pos", "term"),
    )
    starts = None
    for i, t in enumerate(terms):
        leg = pos_rows.filter(F.col("term") == t).select(
            "id", (F.col("pos") - F.lit(i)).alias("start")
        )
        starts = leg if starts is None else starts.join(leg, ["id", "start"])
    return starts.groupBy("id").agg(F.count(F.lit(1)).alias("n_match"))

"""Inverted index + boolean/BM25/phrase search (operators/search.py)
vs from-scratch Python twins; AND semantics edge cases; BM25 score
bit-exactness (the twin replays the operator's exact IEEE op tree)."""

from __future__ import annotations

import re
from collections import defaultdict

import pytest

from ocr_auto_label_spark.operators.search import (
    BM25_B,
    BM25_K1,
    bm25_search,
    boolean_search,
    build_inverted_index,
    phrase_search,
)


def _py_tokens(text):
    return [w for w in re.split(r"\s+", text.strip().lower()) if w]


def _py_bm25(rows, terms, k1=BM25_K1, b=BM25_B):
    """Twin of bm25_search: ratio-idf × tf-saturation, contributions
    added in query-term order — every float op in the same order as the
    operator, so equality below is EXACT, not approx."""
    toks = {d: _py_tokens(t) for d, t in rows}
    dl = {d: len(ws) for d, ws in toks.items() if ws}
    n, tot = len(dl), sum(dl.values())
    avgdl = float(tot) / float(n)
    k1p1, omb = k1 + 1.0, 1.0 - b
    dft = {
        w: sum(1 for d in dl if w in toks[d]) for w in terms
    }
    out = {}
    for d in dl:
        score, hit = 0.0, False
        for w in terms:
            f = toks[d].count(w)
            if f == 0 or dft[w] == 0:
                score = score + 0.0
                continue
            hit = True
            idf = (float(n - dft[w]) + 0.5) / (float(dft[w]) + 0.5)
            sat = (float(f) * k1p1) / (
                float(f) + k1 * (omb + b * (float(dl[d]) / avgdl))
            )
            score = score + idf * sat
        if hit:
            out[d] = (dl[d], score)
    return out


def _py_index(rows):
    post = defaultdict(set)
    for doc_id, text in rows:
        for w in set(re.split(r"\s+", text.strip().lower())):
            if w:
                post[w].add(doc_id)
    return {t: sorted(ids) for t, ids in post.items()}


def test_index_matches_python_twin(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = [(r.doc_id, r.text) for r in df.collect()]
    got = {r.term: (r.df_cnt, list(r.postings))
           for r in build_inverted_index(df).collect()}
    want = _py_index(rows)
    assert set(got) == set(want)
    for t, ids in want.items():
        assert got[t] == (len(ids), ids), t


def test_boolean_and_search(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = [(r.doc_id, r.text) for r in df.collect()]
    idx = build_inverted_index(df)
    post = _py_index(rows)
    must = ["merge", "spark", "window"]
    want = set(post[must[0]])
    for t in must[1:]:
        want &= set(post[t])
    got = {r.id for r in boolean_search(idx, must).collect()}
    assert got == want and 0 < len(got) < len(rows)
    # query terms are normalized like the index's tokens
    assert {r.id for r in boolean_search(idx, ["Merge", "SPARK", "window"])
            .collect()} == want
    # a term absent from the corpus empties an AND query
    assert boolean_search(idx, ["merge", "zzz_not_a_word"]).count() == 0
    with pytest.raises(ValueError):
        boolean_search(idx, [])
    with pytest.raises(ValueError):
        boolean_search(idx, ["merge", "merge"])
    with pytest.raises(ValueError):
        boolean_search(idx, ["merge", "MERGE"])  # collapse post-lowering


def test_bm25_scores_bit_exact_vs_python_twin(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = [(r.doc_id, r.text) for r in df.collect()]
    terms = ["merge", "spark", "window"]
    want = _py_bm25(rows, terms)
    got = {r.id: (r.dl, r.score) for r in bm25_search(df, terms).collect()}
    assert got == want  # exact == on the doubles, no tolerance
    # a query term absent from the corpus contributes exactly 0.0
    got2 = {
        r.id: (r.dl, r.score)
        for r in bm25_search(df, terms + ["zzz_absent"]).collect()
    }
    assert got2 == _py_bm25(rows, terms + ["zzz_absent"])
    # top_k cuts by (score DESC, id ASC) — the global head of the twin
    top = bm25_search(df, terms, top_k=7).collect()
    ordered = sorted(want.items(), key=lambda kv: (-kv[1][1], kv[0]))
    assert [(r.id, (r.dl, r.score)) for r in top] == ordered[:7]
    with pytest.raises(ValueError):
        bm25_search(df, [])
    with pytest.raises(ValueError):
        bm25_search(df, ["a", "A"])
    with pytest.raises(ValueError):
        bm25_search(df, terms, top_k=0)


def _py_phrase(rows, phrase):
    out = {}
    for d, t in rows:
        ws = _py_tokens(t)
        n = sum(
            1
            for i in range(len(ws) - len(phrase) + 1)
            if ws[i : i + len(phrase)] == phrase
        )
        if n:
            out[d] = n
    return out


def test_phrase_search_matches_python_twin(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = [(r.doc_id, r.text) for r in df.collect()]
    for phrase in (["table", "hash"], ["key", "agg", "row"]):
        want = _py_phrase(rows, phrase)
        got = {
            r.id: r.n_match for r in phrase_search(df, phrase).collect()
        }
        assert got == want, phrase
    assert len(_py_phrase(rows, ["table", "hash"])) > 0
    # repeated-word phrases join the same posting leg shifted — still
    # exact (e.g. "a a" hits consecutive identical tokens)
    want = _py_phrase(rows, ["a", "a"])
    got = {
        r.id: r.n_match for r in phrase_search(df, ["a", "a"]).collect()
    }
    assert got == want
    with pytest.raises(ValueError):
        phrase_search(df, ["solo"])


def test_max_df_excludes_hot_terms_at_build_time(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = [(r.doc_id, r.text) for r in df.collect()]
    post = _py_index(rows)
    cut = max(len(v) for v in post.values()) - 1  # drop only the hottest tier
    got = {r.term: (r.df_cnt, list(r.postings))
           for r in build_inverted_index(df, max_df=cut).collect()}
    want = {t: (len(ids), ids) for t, ids in post.items() if len(ids) <= cut}
    assert got == want and len(want) < len(post)
    with pytest.raises(ValueError):
        build_inverted_index(df, max_df=0)


def test_search_operators_survive_empty_corpus(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert bm25_search(empty, ["merge"]).count() == 0
    assert phrase_search(empty, ["a", "b"]).count() == 0
    assert build_inverted_index(empty).count() == 0


def test_inverted_index_merge_identity(spark):
    from pyspark.sql import functions as F

    from ocr_auto_label_spark.operators.search import merge_inverted_index

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = build_inverted_index(df.filter(F.col("doc_id") % 2 == 0))
    b = build_inverted_index(df.filter(F.col("doc_id") % 2 == 1))
    merged = {
        r.term: (r.df_cnt, list(r.postings))
        for r in merge_inverted_index(a, b).collect()
    }
    whole = {
        r.term: (r.df_cnt, list(r.postings))
        for r in build_inverted_index(df).collect()
    }
    assert merged == whole  # incremental build == one-shot build


def test_materialized_index_identity_and_bm25(spark, tmp_path):
    """The materialized term-bucketed index answers boolean AND + BM25
    identically to the in-plan / corpus-scan paths — including the BM25
    score doubles (shared scoring tail over equal integer parts)."""
    from ocr_auto_label_spark.operators.search import (
        bm25_search,
        bm25_search_indexed,
        boolean_search,
        boolean_search_indexed,
        build_inverted_index,
        write_search_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "search_index")
    write_search_index(docs, path, n_buckets=8)
    terms = ["merge", "spark", "window"]

    want_bool = {r.id for r in boolean_search(build_inverted_index(docs), terms).collect()}
    got_bool = {r.id for r in boolean_search_indexed(spark, path, terms, 8).collect()}
    assert got_bool == want_bool and want_bool

    want_bm = {(r.id, r.dl, r.score) for r in bm25_search(docs, terms, top_k=25).collect()}
    got_bm = {(r.id, r.dl, r.score)
              for r in bm25_search_indexed(spark, path, terms, 8, top_k=25).collect()}
    assert got_bm == want_bm


@pytest.mark.parametrize("failing", ["terms", "doclens", "meta"])
def test_failed_index_rewrite_never_answers_with_a_stale_modulus(
    spark, tmp_path, monkeypatch, failing
):
    """Rewriting an index with a new bucket count and failing part-way
    (at the terms, doclens or final meta write) leaves an index that
    still answers as the old one did, or raises — never new terms probed
    with the old modulus (which silently drops query terms)."""
    from pyspark.sql.readwriter import DataFrameWriter

    from ocr_auto_label_spark.operators.search import (
        bm25_search_indexed,
        write_search_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "search_index")
    terms = ["merge", "spark", "window", "the", "data"]
    write_search_index(docs, path, n_buckets=8)
    want = {(r.id, r.dl, r.score)
            for r in bm25_search_indexed(spark, path, terms, top_k=25).collect()}
    assert want

    written = []
    real_parquet = DataFrameWriter.parquet

    def parquet(self, target, *args, **kwargs):
        table = target.rsplit("/", 1)[-1]
        # "meta" fails the write that commits the index, after the terms
        if table == failing and (failing != "meta" or "terms" in written):
            raise OSError(f"injected failure writing {table}")
        written.append(table)
        return real_parquet(self, target, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    with pytest.raises(OSError, match="injected"):
        write_search_index(docs, path, n_buckets=5)
    monkeypatch.undo()
    try:
        got = {(r.id, r.dl, r.score)
               for r in bm25_search_indexed(spark, path, terms, top_k=25).collect()}
    except ValueError as e:
        assert "incomplete" in str(e)
    else:
        assert got == want


def test_search_index_probe_is_partition_pruned(spark, tmp_path):
    """A materialized-index query reads ONLY its terms' buckets: the scan's
    partition filters carry term_bucket (mirror of the IVF index test) —
    the detail that keeps index reads sub-linear at web scale."""
    from ocr_auto_label_spark.operators.search import (
        boolean_search_indexed,
        read_index_terms,
        term_buckets,
        write_search_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "search_index")
    write_search_index(docs, path, n_buckets=8)
    terms = ["merge", "spark", "window"]
    # the probe must hit a strict subset of buckets for pruning to mean
    # anything on this fixture
    assert len(term_buckets(spark, terms, 8)) < 8

    probe = read_index_terms(spark, path, terms, 8)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "term_bucket" in plan.split("PartitionFilters")[1][:300]

    out = boolean_search_indexed(spark, path, terms, 8)
    plan2 = out._jdf.queryExecution().executedPlan().toString()
    assert "term_bucket" in plan2.split("PartitionFilters")[1][:300]
    assert out.count() >= 1

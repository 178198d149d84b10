"""Operator tests: dedup family, similarity search, text stats, range join,
naming windows — each validated against an independent Python/pandas oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from ocr_auto_label_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_dedup,
    simhash_dedup,
)
from ocr_auto_label_spark.operators.naming import (
    find_duplicate_names,
    notebook_ordinal_names,
    resolve_duplicate_names,
    webapp_ordinal_names,
)
from ocr_auto_label_spark.operators.range_join import time_range_self_join
from ocr_auto_label_spark.operators.similarity import (
    brute_force_topk,
    cosine_neardup_pairs,
    lsh_bucketed_topk,
)
from ocr_auto_label_spark.operators.textstats import add_text_stats, doc_fingerprint


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy dog", "en"),   # exact dup of 0
        (2, "the quick brown fox jumps over a lazy dog", "en"),     # near dup of 0
        (3, "el rapido zorro marron salta sobre el perro y que", "es"),
        (4, "completely different content about spark engines", "en"),
        (5, "der hund ist und die katze das haus", "de"),
    ]
    return spark.createDataFrame(rows, "doc_id: long, text: string, lang: string")


def test_exact_dedup(spark, docs):
    """One row per content hash, the min id, carrying its group's size."""
    kept = {r.doc_id: r.dup_count for r in exact_dedup(docs).collect()}
    assert kept == {0: 2, 2: 1, 3: 1, 4: 1, 5: 1}


def test_jaccard_pairs_vs_python(spark, docs):
    got = {(r.id_a, r.id_b): r.jaccard for r in jaccard_pairs(docs, ["lang"], threshold=0.3).collect()}

    def shingles(s):
        return {s[i:i + 3] for i in range(max(len(s) - 2, 1))}

    rows = {r.doc_id: (r.text, r.lang) for r in docs.collect()}
    want = {}
    for a in rows:
        for b in rows:
            if a < b and rows[a][1] == rows[b][1]:
                sa, sb = shingles(rows[a][0]), shingles(rows[b][0])
                j = round(len(sa & sb) / len(sa | sb), 6)
                if j >= 0.3:
                    want[(a, b)] = j
    assert got == want
    assert (0, 1) in got and got[(0, 1)] == 1.0


def test_minhash_lsh_finds_near_dups(spark, docs):
    out = {(r.id_a, r.id_b) for r in minhash_lsh_dedup(docs, threshold=0.5).collect()}
    assert (0, 1) in out          # exact dup always collides
    assert (0, 2) in out or (1, 2) in out  # near dup should collide in ≥1 band
    assert all(a < b for a, b in out)


def test_simhash_exact_dups_collide(spark, docs):
    out = simhash_dedup(docs).collect()
    assert any(r.dup_count >= 2 for r in out)


def test_textstats_fields(spark, docs):
    out = add_text_stats(docs).filter(F.col("doc_id") == 0).collect()[0]
    assert out.token_cnt == 9
    assert out.char_cnt == len("the quick brown fox jumps over the lazy dog")
    assert out.punct_ratio == 0.0
    assert 0.0 <= out.quality <= 1.0
    assert out.lang_guess == "en"
    langs = {r.doc_id: r.lang_guess for r in add_text_stats(docs).collect()}
    assert langs[3] == "es" and langs[5] == "de"


def test_doc_fingerprint_deterministic(spark, docs):
    a = {r.doc_id: r.fp for r in docs.select("doc_id", doc_fingerprint("text").alias("fp")).collect()}
    b = {r.doc_id: r.fp for r in docs.select("doc_id", doc_fingerprint("text").alias("fp")).collect()}
    assert a == b
    assert a[0] == a[1] and a[0] != a[4]


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(11)
    base = rng.normal(size=(6, 8))
    base[1] = base[0] + rng.normal(scale=0.01, size=8)  # near dup of 0
    rows = [(i, [float(x) for x in base[i]], int(i % 2)) for i in range(6)]
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<double>, label: int")


def test_brute_force_topk_vs_numpy(spark, vectors):
    pdf = vectors.toPandas()
    q = list(pdf.embedding[0])
    got = [(r.vec_id, r.cosine) for r in brute_force_topk(vectors, q, k=3).collect()]
    M = np.stack(pdf.embedding.to_numpy())
    qv = np.array(q)
    cos = (M @ qv) / (np.linalg.norm(M, axis=1) * np.linalg.norm(qv))
    order = sorted(range(6), key=lambda i: (-round(cos[i], 6), i))[:3]
    assert [g[0] for g in got] == order
    for vid, c in got:
        assert abs(c - cos[vid]) < 1e-5
    assert got[0][0] == 0 and got[1][0] == 1  # self first, near-dup second


def test_lsh_topk_contains_self(spark, vectors):
    pdf = vectors.toPandas()
    q = list(pdf.embedding[0])
    got = [r.vec_id for r in lsh_bucketed_topk(vectors, q, k=3, bits=2).collect()]
    assert 0 in got  # the query's own bucket always contains it


def test_cosine_neardup_pairs(spark, vectors):
    out = {(r.id_a, r.id_b): r.cosine for r in
           cosine_neardup_pairs(vectors, block_cols=["label"], threshold=0.95).collect()}
    assert (0, 1) not in out or out[(0, 1)] >= 0.95  # 0,1 share label? labels 0,1 differ
    # 0 and 1 have labels 0 and 1 → blocked apart; force no-block check
    out2 = {(r.id_a, r.id_b) for r in
            cosine_neardup_pairs(vectors.withColumn("one", F.lit(1)),
                                 block_cols=["one"], threshold=0.99).collect()}
    assert (0, 1) in out2


def test_time_range_self_join_vs_python(spark):
    rows = [(i, (pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=s)).to_pydatetime(), 1)
            for i, s in enumerate([0, 30, 100, 121, 500, 530, 1000])]
    df = spark.createDataFrame(rows, "event_id: long, ts: timestamp, user_id: int")
    got = {(r.a_id, r.b_id) for r in
           time_range_self_join(df, key_cols=["user_id"], window_seconds=120).collect()}
    secs = {i: s for i, s in enumerate([0, 30, 100, 121, 500, 530, 1000])}
    want = {(a, b) for a in secs for b in secs if a != b and abs(secs[a] - secs[b]) <= 120}
    assert got == want


def test_webapp_ordinal_names(spark):
    rows = [("a", "g one", 1, "x.jpg"), ("b", "g one", 2, "y.MP.JPG"), ("c", "g one", 3, "z.png"),
            ("d", "other", 1, "w.jpg")]
    df = spark.createDataFrame(rows, "id: string, group: string, created_at: long, original_name: string")
    out = {r.id: r.new_name for r in
           webapp_ordinal_names(df, order_cols=["created_at", "id"]).collect()}
    # sanitize: 'g one' → 'g_one'; first bare, then _2/_3; last-dot ext
    assert out == {"a": "g_one.jpg", "b": "g_one_2.JPG", "c": "g_one_3.png", "d": "other.jpg"}


def test_notebook_ordinal_names(spark):
    rows = [("a", "G1", 1, "x.jpg"), ("b", "G1", 2, "y.MP.JPG"), ("c", "G2", 1, "noext")]
    df = spark.createDataFrame(rows, "id: string, group: string, __row_order: long, original_name: string")
    out = {r.id: r.new_name for r in notebook_ordinal_names(df).collect()}
    # every member numbered from _1; FIRST-dot extension; default jpg
    assert out == {"a": "G1_1.jpg", "b": "G1_2.MP.JPG", "c": "G2_1.jpg"}


def test_duplicate_name_resolution(spark):
    rows = [("a", "G.jpg", 1, "G", "a.jpg"), ("b", "G.jpg", 2, "G", "b.jpg"),
            ("c", "H.jpg", 3, "H", "c.jpg")]
    df = spark.createDataFrame(
        rows, "id: string, new_name: string, created_at: long, group: string, original_name: string")
    dups = find_duplicate_names(df).collect()
    assert len(dups) == 1 and dups[0].dup_count == 2
    resolved = {r.id: r.new_name for r in resolve_duplicate_names(df).collect()}
    assert resolved["a"] == "G.jpg"      # earliest keeps the name
    assert resolved["b"] == "G_2.jpg"    # regenerated via webapp rule
    assert resolved["c"] == "H.jpg"
    # idempotent: no duplicates remain
    df2 = spark.createDataFrame([(k, v, i, "G", "x.jpg") for i, (k, v) in enumerate(resolved.items())],
                                "id: string, new_name: string, created_at: long, group: string, original_name: string")
    assert find_duplicate_names(df2).count() == 0


def test_ivf_topk_recall_and_determinism(spark, vectors):
    from ocr_auto_label_spark.operators.similarity import ivf_assign, ivf_topk

    pdf = vectors.toPandas()
    q = list(pdf.embedding[0])
    # exhaustive probing == brute force (recall 1 by construction)
    full = [r.vec_id for r in
            ivf_topk(vectors, q, k=3, n_centroids=4, nprobe=4).collect()]
    brute = [r.vec_id for r in brute_force_topk(vectors, q, k=3).collect()]
    assert full == brute
    # single-probe: the query's own cell contains it → self always found
    one = [r.vec_id for r in
           ivf_topk(vectors, q, k=3, n_centroids=4, nprobe=1).collect()]
    assert 0 in one
    # deterministic centroids and assignment across invocations
    a1, c1 = ivf_assign(vectors, n_centroids=4)
    a2, c2 = ivf_assign(vectors, n_centroids=4)
    assert c1 == c2
    m1 = {r.vec_id: r.ivf_cluster for r in a1.collect()}
    m2 = {r.vec_id: r.ivf_cluster for r in a2.collect()}
    assert m1 == m2


def test_ordered_distinct_union_and_first_non_null(spark):
    """A6/U5 exact semantics: unique + first-seen order (extend_unique) and
    first non-empty scalar (merge), against a pandas oracle, invariant to
    input partitioning."""
    from ocr_auto_label_spark.operators.merge_agg import (
        first_non_null,
        ordered_distinct_union,
    )

    rows = [
        ("g1", 3, "b", ""), ("g1", 1, "a", None), ("g1", 2, "b", "x"),
        ("g1", 4, "a", "y"), ("g2", 1, "z", None), ("g2", 2, "z", " "),
        ("g2", 3, "q", "w"),
    ]
    df = spark.createDataFrame(rows, "g string, ord int, item string, v string") \
        .repartition(7)  # scramble physical order

    got = {r.g: list(r["items"]) for r in
           ordered_distinct_union(df, "g", "item", ["ord"]).collect()}
    assert got == {"g1": ["a", "b"], "g2": ["z", "q"]}

    fv = {r.g: r.v for r in first_non_null(df, "g", "v", ["ord"]).collect()}
    assert fv == {"g1": "x", "g2": "w"}


def test_connected_components_matches_union_find(spark):
    """Min-label propagation == classic union-find on a graph with
    chains, a clique, singleton-free isolates and multiple components."""
    import random

    from ocr_auto_label_spark.operators.dedup import connected_components

    rng = random.Random(3)
    edges = set()
    # a 30-node chain (diameter stress), a 10-node clique, random noise
    for i in range(100, 129):
        edges.add((i, i + 1))
    for i in range(200, 210):
        for j in range(i + 1, 210):
            if rng.random() < 0.4:
                edges.add((i, j))
    for _ in range(40):
        a, b = rng.randint(0, 60), rng.randint(0, 60)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    pairs = spark.createDataFrame(
        [(a, b) for a, b in sorted(edges)], "id_a: long, id_b: long"
    )

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {n: find(n) for n in parent}

    got = {r.id: r.component for r in connected_components(pairs).collect()}
    assert got == want


def test_pq_adc_distance_and_search(spark):
    """Product quantization invariants:
    1. codes are m small ints in [0, k) — the 64-float → m-byte
       compression claim;
    2. the SQL ADC distance EQUALS the true squared distance between the
       normalized query and the RECONSTRUCTED vector (codes decoded to
       centroids) — exact by construction, checked vs numpy;
    3. search is deterministic and beats chance overlap with the exact
       cosine top-k (the synthetic embeddings are near-random — top-10
       cosines sit 0.30-0.33 against a 0.28 bulk — so high recall is a
       data impossibility here, not an implementation property).
    """
    import numpy as np

    from ocr_auto_label_spark.operators.similarity import (
        brute_force_topk,
        pq_encode,
        pq_topk,
        pq_train,
    )

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    q = [float(v) for v in emb.filter("vec_id = 0").collect()[0].embedding]

    m, k = 16, 32
    books = pq_train(emb, m=m, k=k)
    assert len(books) == m and len(books[0]) == k and len(books[0][0]) == 64 // m

    codes = {r.id: list(r.pq_code) for r in pq_encode(emb, books).collect()}
    assert all(len(c) == m and all(0 <= x < k for x in c) for c in codes.values())

    # ADC == distance to the reconstruction, recomputed independently
    qv = np.asarray(q)
    qv = qv / np.linalg.norm(qv)
    adc = {r.vec_id: r.approx_d2
           for r in pq_topk(emb, books, q, k=500).collect()}
    for vid in list(codes)[:50]:
        recon = np.concatenate([np.asarray(books[s][codes[vid][s]]) for s in range(m)])
        want = float(np.sum((qv - recon) ** 2))
        assert abs(adc[vid] - want) < 1e-4, (vid, adc[vid], want)

    got1 = [r.vec_id for r in pq_topk(emb, books, q, k=10).collect()]
    got2 = [r.vec_id for r in pq_topk(emb, books, q, k=10).collect()]
    assert got1 == got2  # deterministic

    exact = [r.vec_id for r in brute_force_topk(emb, q, k=10).collect()]
    overlap = len(set(got1) & set(exact))
    assert overlap >= 2  # chance is 10·10/500 = 0.2


def test_unigram_nll_matches_python(spark):
    """Corpus unigram NLL == a pure-Python recomputation (same smoothing,
    same tokenization), and ordering is sane: a doc of corpus-frequent
    words scores lower NLL than one of rare words."""
    import math
    from collections import Counter

    from ocr_auto_label_spark.operators.textstats import unigram_nll

    docs = [
        (0, "the cat sat on the mat"),
        (1, "the dog sat on the rug"),
        (2, "zyzzyva qwerty flummox"),
        (3, "the the the the"),
    ]
    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    got = {r.id: (r.token_cnt, r.avg_nll) for r in unigram_nll(df).collect()}

    counts = Counter(w for _, t in docs for w in t.lower().split())
    n, v, s = sum(counts.values()), len(counts), 0.5
    for doc_id, text in docs:
        toks = text.lower().split()
        want = round(
            sum(-math.log((counts[w] + s) / (n + s * v)) for w in toks) / len(toks), 6
        )
        assert got[doc_id][0] == len(toks)
        assert abs(got[doc_id][1] - want) < 1e-6, (doc_id, got[doc_id][1], want)
    assert got[3][1] < got[0][1] < got[2][1]  # frequent < mixed < rare


def test_repetition_stats_matches_python(spark):
    """Gopher-style repetition signals == a pure-Python recomputation,
    including the <2-token degenerate case and a fully-repetitious doc."""
    from collections import Counter

    from ocr_auto_label_spark.operators.textstats import repetition_stats

    docs = [
        (0, "the cat sat on the mat"),
        (1, "spam spam spam spam spam"),
        (2, "one"),
        (3, "alpha beta alpha beta alpha beta"),
        (4, "all distinct words here today"),
    ]
    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    got = {
        r.id: (r.token_cnt, r.dup_word_frac, r.bigram_cnt, r.top_bigram_frac)
        for r in repetition_stats(df).collect()
    }
    for doc_id, text in docs:
        words = text.lower().split()
        dup = 1.0 - len(set(words)) / len(words)
        grams = [f"{a} {b}" for a, b in zip(words, words[1:])]
        top = (max(Counter(grams).values()) / len(grams)) if grams else 0.0
        assert got[doc_id] == (len(words), dup, len(grams), top), doc_id
    assert got[1][1] == 0.8  # 5 spams -> 1 distinct
    assert got[1][3] == 1.0  # every bigram identical
    assert got[2] == (1, 0.0, 0, 0.0)  # single-token degenerate case


def test_replicated_transcripts_remaps_and_scales(spark, tmp_path):
    """The data-scaling bench input builder: factor× rows, conv_ids
    remapped per copy (r{k}- prefix) so replicas never merge
    conversations, content otherwise identical per copy."""
    from pyspark.sql import functions as F

    from ocr_auto_label_spark.datagen import (
        replicated_transcripts,
        transcripts_parquet,
    )

    base_path = transcripts_parquet(1_500)
    out = replicated_transcripts(spark, 1_500, 3, base_dir=str(tmp_path))
    base = spark.read.parquet(base_path)
    rep = spark.read.parquet(out)
    assert rep.count() == 3 * base.count()
    assert rep.select("conv_id").distinct().count() == \
        3 * base.select("conv_id").distinct().count()
    prefixes = {
        r.p for r in rep.select(
            F.regexp_extract("conv_id", "^(r[0-9]+)-", 1).alias("p")
        ).distinct().collect()
    }
    assert prefixes == {"r0", "r1", "r2"}
    # per-copy content identical to the base (conv_id aside)
    base_hash = base.select(F.md5(F.concat_ws("\x1f", "conv_id", "turn_idx", "text"))
                            .alias("h"))
    r1_hash = rep.filter(F.col("conv_id").startswith("r1-")).select(
        F.md5(F.concat_ws("\x1f", F.expr("substring(conv_id, 4)"), "turn_idx", "text"))
        .alias("h"))
    assert base_hash.subtract(r1_hash).count() == 0
    assert r1_hash.subtract(base_hash).count() == 0


def test_exact_group_quantiles_vs_python(spark):
    """Nearest-rank ⌈p·n/100⌉ per group, exact — vs a sorted-list Python
    oracle, on groups crossing the rank boundaries (n=1, ties, skew)."""
    import math
    import random

    from ocr_auto_label_spark.operators.textstats import exact_group_quantiles

    rng = random.Random(3)
    data = [("g1", 1)]                                   # degenerate n=1
    data += [("g2", v) for v in [5, 5, 5, 5, 7]]          # heavy ties
    data += [("g3", rng.randint(0, 50)) for _ in range(137)]
    data += [("g4", rng.randint(0, 5)) for _ in range(100)]  # n multiple of 100
    df = spark.createDataFrame(data, "g: string, v: int")
    got = {
        (r.g, r.percentile): (r.n, r.val)
        for r in exact_group_quantiles(df, "v", "g", (1, 25, 50, 90, 99, 100)).collect()
    }
    from collections import defaultdict
    groups = defaultdict(list)
    for g, v in data:
        groups[g].append(v)
    for g, vals in groups.items():
        vals.sort()
        n = len(vals)
        for p in (1, 25, 50, 90, 99, 100):
            want = vals[max(math.ceil(n * p / 100), 1) - 1]
            assert got[(g, p)] == (n, want), (g, p)


def test_duplicated_span_stats_vs_python(spark):
    """Per-doc duplicated-span fractions (cross-doc AND within-doc
    repeats, short-doc zeros) vs a from-scratch python reference."""
    from ocr_auto_label_spark.operators.textstats import duplicated_span_stats

    base = "a b c d e"
    df = spark.createDataFrame(
        [
            (1, f"{base} x y z"),          # shares the 5-span with doc 2
            (2, f"q r {base} s"),
            (3, "u v w"),                   # shorter than the span
            (4, "m n o p m n o p m n o p"), # within-doc repeated span
            (5, "unique words only here never repeated anywhere at all"),
        ],
        "doc_id: long, text: string",
    )
    got = {
        r.id: (r.n_spans, r.dup_spans, r.dup_span_frac)
        for r in duplicated_span_stats(df, span_tokens=5).collect()
    }
    import re
    from collections import defaultdict

    corpus = defaultdict(int)
    per = {}
    for did, text in df.select("doc_id", "text").collect():
        toks = re.split(r"\s+", text.strip().lower())
        spans = [" ".join(toks[i:i + 5]) for i in range(len(toks) - 4)]
        per[did] = spans
        for s in spans:
            corpus[s] += 1
    for did, spans in per.items():
        tot = len(spans)
        dup = sum(1 for s in spans if corpus[s] > 1)
        assert got[did] == (tot, dup, dup / tot if tot else 0.0), did
    assert got[3] == (0, 0, 0.0)
    assert got[4][1] > 0  # within-doc repeats count as duplicated


def test_exact_group_quantiles_ignores_nulls(spark):
    """NULL values are excluded from both n and the rank ladder, matching
    DuckDB quantile_disc (an unfiltered NULL rung sorts first and shifts
    every picked rank)."""
    from ocr_auto_label_spark.operators.textstats import exact_group_quantiles

    df = spark.createDataFrame(
        [("g", 1), ("g", None), ("g", 3), ("g", None), ("g", 5)],
        "g: string, v: int",
    )
    got = {
        r.percentile: (r.n, r.val)
        for r in exact_group_quantiles(df, "v", "g", (50, 100)).collect()
    }
    assert got == {50: (3, 3), 100: (3, 5)}


def test_exact_group_quantiles_validates_percentiles(spark):
    import pytest as _pytest

    from ocr_auto_label_spark.operators.textstats import exact_group_quantiles

    df = spark.createDataFrame([("g", 1)], "g: string, v: int")
    with _pytest.raises(ValueError):
        exact_group_quantiles(df, "v", "g", ())
    with _pytest.raises(ValueError):
        exact_group_quantiles(df, "v", "g", (0,))
    with _pytest.raises(ValueError):
        exact_group_quantiles(df, "v", "g", (101,))

"""SemDeDup (Abbas et al. 2023) — the full pipeline against a pure-Python
twin built from scratch: centroid rule (smallest signed xxhash64 of the
8-byte-LE id, from the spec-level ``xxh64_ref``), left-to-right double
cosine with Spark's HALF_UP round(…, 6), first-max argmax, within-cluster
pairs, keep-lowest-id eviction.  Plus the scale assertions: the
assignment stage is shuffle-free and the pair join is cluster-blocked."""

from __future__ import annotations

import struct
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import functions as F

from ocr_auto_label_spark.operators.similarity import (
    cosine_neardup_pairs,
    semdedup,
    semdedup_assign,
)
from test_xxh64_sql import xxh64_ref

SF_DIR = "/root/testdata/sf0.001"
K, THR = 16, 0.3


def _r6(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _cos(a, b):
    # left-to-right float64 accumulation — Spark's aggregate fold order
    dot = 0.0
    for x, y in zip(a, b):
        dot += float(x) * float(y)
    na = 0.0
    for x in a:
        na += float(x) * float(x)
    nb = 0.0
    for y in b:
        nb += float(y) * float(y)
    return _r6(dot / (na ** 0.5 * nb ** 0.5))


def _py_semdedup(rows):
    signed = {}
    for r in rows:
        u = xxh64_ref(struct.pack("<q", r.vec_id), 42)
        signed[r.vec_id] = u - (1 << 64) if u >= (1 << 63) else u
    order = sorted(rows, key=lambda r: (signed[r.vec_id], r.vec_id))
    cents = [[float(x) for x in r.embedding] for r in order[:K]]
    assign, by_cluster = {}, {}
    for r in rows:
        v = [float(x) for x in r.embedding]
        scores = [_cos(v, c) for c in cents]
        best = max(scores)
        cid = scores.index(best)  # first max = lowest c_id on ties
        assign[r.vec_id] = (cid, best)
        by_cluster.setdefault(cid, []).append((r.vec_id, v))
    pairs, evicted = set(), set()
    for cid, members in by_cluster.items():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                c = _cos(members[i][1], members[j][1])
                if c >= THR:
                    pairs.add((cid, members[i][0], members[j][0], c))
                    evicted.add((cid, members[j][0]))
    return assign, pairs, evicted


def test_semdedup_matches_python_twin(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = emb.collect()
    want_assign, want_pairs, want_evict = _py_semdedup(rows)

    a, p, e = semdedup(emb, n_centroids=K, threshold=THR)
    got_assign = {r.vec_id: (r.sd_cluster, r.sd_cos) for r in a.collect()}
    got_pairs = {(r.sd_cluster, r.id_a, r.id_b, r.cosine) for r in p.collect()}
    got_evict = {(r.sd_cluster, r.id) for r in e.collect()}

    assert got_assign == want_assign
    assert got_pairs == want_pairs
    assert got_evict == want_evict
    # the synthetic corpus actually exercises every stage
    assert len(want_pairs) > 0 and len(want_evict) > 0


def test_semdedup_assign_is_shuffle_free(spark):
    """Assignment is one narrow pass: literal centroid fold — no
    hash/range Exchange (at 10^9 rows this stage reads the corpus once
    and moves no data by key).  The only Exchange permitted is the
    round-robin spread ``ensure_parallelism`` adds for single-file LOCAL
    inputs (a no-op on a real multi-file table)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df = semdedup_assign(emb, n_centroids=K)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "BatchEvalPython" not in plan


def test_semdedup_eviction_keeps_cluster_representative(spark):
    """Every cluster retains at least one member (the keep-lowest-id
    policy can never evict a whole cluster: a cluster's smallest id is
    never an id_b)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a, _, e = semdedup(emb, n_centroids=K, threshold=THR)
    sizes = {r.sd_cluster: r.n for r in
             a.groupBy("sd_cluster").agg(F.count("*").alias("n")).collect()}
    ev = {r.sd_cluster: r.n for r in
          e.groupBy("sd_cluster").agg(F.count("*").alias("n")).collect()}
    for cid, n in sizes.items():
        assert ev.get(cid, 0) < n


def test_keep_block_cols_preserves_pair_schema(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = cosine_neardup_pairs(emb, ["label"], threshold=0.3)
    kept = cosine_neardup_pairs(emb, ["label"], threshold=0.3,
                                keep_block_cols=True)
    assert base.columns == ["id_a", "id_b", "cosine"]
    assert kept.columns == ["label", "id_a", "id_b", "cosine"]
    assert base.count() == kept.count()


def test_semantic_dup_clusters_via_connected_components(spark):
    """Composition: SemDeDup pair evidence → duplicate CLUSTERS via
    connected_components (pointer-jumping min-label), checked against a
    Python union-find over the twin's pairs — pairwise evidence to
    keep/drop groups, the decision a real pipeline acts on."""
    from ocr_auto_label_spark.operators.dedup import connected_components

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    _, want_pairs, _ = _py_semdedup(emb.collect())

    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for _, a, b, _c in want_pairs:
        parent[find(a)] = find(b)
    want = {}
    for node in parent:
        root = find(node)
        want.setdefault(root, set()).add(node)
    want_comps = {frozenset(v) for v in want.values()}

    _, p, _ = semdedup(emb, n_centroids=K, threshold=THR)
    cc = connected_components(p.select("id_a", "id_b"))
    got = {}
    for r in cc.collect():
        got.setdefault(r.component, set()).add(r.id)
    got_comps = {frozenset(v) for v in got.values()}
    assert got_comps == want_comps
    assert any(len(c) > 2 for c in got_comps)  # non-trivial clusters occur

"""Deterministic split / hash-sample operator (operators/sampling.py).

The properties that make hash-based splits THE production recipe:
partition-layout invariance (the assignment is a pure function of the
id), exact bucket arithmetic (pmod of the signed hash), weight coverage,
and sample ⊆ corpus with the same rows on every run.
"""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from ocr_auto_label_spark.operators.sampling import (
    deterministic_split,
    hash_bucket,
    hash_sample,
)
from test_xxh64_sql import xxh64_ref

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_split_matches_python_reference(spark):
    rows = deterministic_split(_docs(spark)).select(
        "doc_id", "bucket", "split"
    ).collect()
    assert len(rows) > 0
    for r in rows:
        u = xxh64_ref(struct.pack("<q", r.doc_id), 42)
        s = u - 2**64 if u >= 2**63 else u
        b = ((s % 100) + 100) % 100
        assert r.bucket == b
        assert r.split == ("train" if b < 80 else "val" if b < 90 else "test")


def test_split_is_partition_layout_invariant(spark):
    """Same assignment no matter how the corpus is partitioned or ordered
    — the property that lets every engine replica compute the split
    independently with no stored assignment table."""
    docs = _docs(spark)
    base = {r.doc_id: (r.bucket, r.split)
            for r in deterministic_split(docs).select("doc_id", "bucket", "split").collect()}
    shuffled = docs.repartition(17).sortWithinPartitions(F.desc("doc_id"))
    again = {r.doc_id: (r.bucket, r.split)
             for r in deterministic_split(shuffled).select("doc_id", "bucket", "split").collect()}
    assert base == again


def test_split_covers_all_rows_and_weights(spark):
    docs = _docs(spark)
    counts = dict(
        deterministic_split(docs).groupBy("split").count().collect()
    )
    assert sum(counts.values()) == docs.count()
    assert set(counts) <= {"train", "val", "test"}
    # 80/10/10 must dominate: train strictly largest on any non-tiny corpus
    assert counts["train"] > counts.get("val", 0)
    assert counts["train"] > counts.get("test", 0)


def test_split_validates_weights(spark):
    docs = _docs(spark)
    with pytest.raises(ValueError, match="sum"):
        deterministic_split(docs, weights=(50, 10, 10))
    with pytest.raises(ValueError, match="len"):
        deterministic_split(docs, weights=(90, 10), names=("a", "b", "c"))


def test_hash_sample_is_a_stable_subset(spark):
    docs = _docs(spark)
    s1 = sorted(r.doc_id for r in hash_sample(docs, numerator=10).select("doc_id").collect())
    s2 = sorted(r.doc_id for r in hash_sample(docs, numerator=10).select("doc_id").collect())
    assert s1 == s2
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert set(s1) <= all_ids
    # sample == the bucket<10 slice of the split (same hash family)
    want = sorted(
        r.doc_id for r in deterministic_split(docs).filter(F.col("bucket") < 10)
        .select("doc_id").collect()
    )
    assert s1 == want
    with pytest.raises(ValueError, match="numerator"):
        hash_sample(docs, numerator=101)


def test_split_plan_is_narrow(spark):
    """The assignment must add zero Exchanges — a pure projection over
    the scan (at 100 TB the split rides the scan for free)."""
    plan = deterministic_split(_docs(spark))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan  # JVM-side, no Python in the path


def test_cross_split_contamination_vs_python(spark):
    """13-gram eval-vs-train overlap counts must equal a from-scratch
    Python set-intersection reference on the real corpus + real split."""
    import re

    from ocr_auto_label_spark.operators.sampling import cross_split_contamination

    docs = deterministic_split(_docs(spark))
    got = {
        r.id: (r.n_grams, r.n_contam)
        for r in cross_split_contamination(docs, "doc_id", "text", "split").collect()
    }
    rows = docs.select("doc_id", "text", "split").collect()
    train_grams, eval_docs = set(), {}
    for r in rows:
        toks = re.split(r"\s+", r.text.strip().lower())
        grams = {" ".join(toks[i:i + 13]) for i in range(len(toks) - 12)}
        if r.split == "train":
            train_grams |= grams
        else:
            eval_docs[r.doc_id] = grams
    assert set(got) == set(eval_docs)
    for did, grams in eval_docs.items():
        assert got[did] == (len(grams), len(grams & train_grams)), did
    # the fixture must actually exercise the op: some contamination exists
    assert any(c for _, c in got.values())


def test_cross_split_contamination_short_docs(spark):
    """Docs with < n tokens yield zero grams (the sequence(1,0)-descends
    guard) and still appear in the output with (0, 0)."""
    from ocr_auto_label_spark.operators.sampling import cross_split_contamination

    df = spark.createDataFrame(
        [
            (1, "a b c d e", "train"),
            (2, "a b c d e", "test"),   # full overlap at n=3
            (3, "x y", "test"),         # too short for any 3-gram
            (4, "p q r s", "val"),      # grams but no overlap
        ],
        "doc_id: long, text: string, split: string",
    )
    got = {
        r.id: (r.n_grams, r.n_contam)
        for r in cross_split_contamination(df, "doc_id", "text", "split", n=3).collect()
    }
    assert got == {2: (3, 3), 3: (0, 0), 4: (2, 0)}


def test_mixture_sample_vs_python(spark):
    """Scarcest-group-bound integer proportions + (xxhash64, id) rank:
    per-group kept sets must equal a from-scratch Python reference."""
    from ocr_auto_label_spark.operators.sampling import mixture_sample

    docs = _docs(spark)
    weights = {f"src{i}": i + 1 for i in range(20)}
    got = {}
    for r in mixture_sample(docs, "source", weights).select(
        "doc_id", "source", "mix_rank"
    ).collect():
        got.setdefault(r.source, []).append((r.mix_rank, r.doc_id))
    rows = docs.select("doc_id", "source").collect()
    groups = {}
    for r in rows:
        groups.setdefault(r.source, []).append(r.doc_id)
    star = min(groups, key=lambda g: (len(groups[g]) / weights[g], g))
    n_star, w_star = len(groups[star]), weights[star]
    for g, ids in groups.items():
        keep = n_star * weights[g] // w_star
        ranked = sorted(ids, key=lambda i: (_signed_hash(i), i))[:keep]
        want = [(rk + 1, did) for rk, did in enumerate(ranked)]
        assert sorted(got.get(g, [])) == want, g
    # proportions bind: every group keeps <= its total, scarcest keeps all
    assert len(got.get(star, [])) == n_star


def _signed_hash(doc_id: int) -> int:
    u = xxh64_ref(struct.pack("<q", doc_id), 42)
    return u - 2**64 if u >= 2**63 else u


def test_mixture_sample_validates_inputs(spark):
    from ocr_auto_label_spark.operators.sampling import mixture_sample

    docs = _docs(spark)
    with pytest.raises(ValueError, match="no weight"):
        mixture_sample(docs, "source", {"src0": 1})
    with pytest.raises(ValueError, match="positive"):
        mixture_sample(
            docs, "source", {f"src{i}": (0 if i == 3 else 1) for i in range(20)}
        )


def test_null_id_fails_loudly(spark):
    """xxhash64(NULL) silently evaluates to the seed — every hash-ordered
    operator must raise instead of collapsing null-id rows into one
    bucket (and silently diverging from the SQL oracles, which propagate
    NULL)."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkRuntimeError

    df = spark.createDataFrame([(1, "a"), (None, "b")], "doc_id: long, text: string")
    with pytest.raises((Py4JJavaError, PySparkRuntimeError, Exception)) as e:
        deterministic_split(df).collect()
    assert "non-null long" in str(e.value)


def test_split_refuses_column_collision(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id: long, split: string")
    with pytest.raises(ValueError, match="refusing to silently overwrite"):
        deterministic_split(df)


def test_hash_bucket_range(spark):
    rows = _docs(spark).select(
        hash_bucket(F.col("doc_id"), 7).alias("b")
    ).distinct().collect()
    assert all(0 <= r.b < 7 for r in rows)


def _skewed_groups(spark):
    # three groups with sizes 600 / 90 / 10 — skewed enough that
    # temperature scaling visibly reshapes the mixture
    rows = [(i, "big" if i < 600 else ("mid" if i < 690 else "rare"))
            for i in range(700)]
    return spark.createDataFrame(rows, "doc_id long, grp string")


def test_temperature_resample_invariants(spark):
    from ocr_auto_label_spark.operators.sampling import temperature_resample

    df = _skewed_groups(spark)
    for alpha, total in ((1.0, 350), (0.5, 350), (0.3, 120), (1.0, 700)):
        out = temperature_resample(df, "grp", alpha, total)
        per = {r[0]: r[1] for r in out.groupBy("grp").count().collect()}
        assert sum(per.values()) == min(total, 700), (alpha, total, per)
        assert per.get("big", 0) <= 600 and per.get("mid", 0) <= 90
        assert per.get("rare", 0) <= 10
    # infeasible total caps at the corpus: everything kept exactly once
    full = temperature_resample(df, "grp", 0.7, 10_000)
    assert full.count() == 700
    assert full.select("doc_id").distinct().count() == 700


def test_temperature_resample_alpha_semantics(spark):
    from ocr_auto_label_spark.operators.sampling import temperature_resample

    df = _skewed_groups(spark)
    # alpha = 1 is proportional sampling: each group's kept count is
    # within one largest-remainder unit of total * n_g / n
    prop = {r[0]: r[1] for r in temperature_resample(df, "grp", 1.0, 350)
            .groupBy("grp").count().collect()}
    for g, n in (("big", 600), ("mid", 90), ("rare", 10)):
        assert abs(prop.get(g, 0) - 350 * n / 700) <= 1, (g, prop)
    # lower temperature upsamples the rare group's SHARE, strictly
    cool = {r[0]: r[1] for r in temperature_resample(df, "grp", 0.3, 350)
            .groupBy("grp").count().collect()}
    assert cool["rare"] > prop["rare"]
    assert cool["rare"] == 10  # capped at the group's size here
    assert cool["big"] < prop["big"]


def test_temperature_resample_is_deterministic_and_layout_invariant(spark):
    from ocr_auto_label_spark.operators.sampling import temperature_resample

    df = _skewed_groups(spark)
    a = {(r.doc_id, r.grp, r.mix_rank)
         for r in temperature_resample(df, "grp", 0.5, 200).collect()}
    b = {(r.doc_id, r.grp, r.mix_rank)
         for r in temperature_resample(
             df.repartition(7, "doc_id"), "grp", 0.5, 200).collect()}
    assert a == b and len(a) == 200
    # survivors are the (xxhash64(id), id) rank prefix per group
    ranks = {}
    for _, grp, rank in a:
        ranks.setdefault(grp, []).append(rank)
    for grp, rs in ranks.items():
        assert sorted(rs) == list(range(1, len(rs) + 1)), grp


def test_temperature_resample_validates(spark):
    from ocr_auto_label_spark.operators.sampling import temperature_resample

    df = _skewed_groups(spark)
    with pytest.raises(ValueError):
        temperature_resample(df, "grp", 0.0, 100)
    with pytest.raises(ValueError):
        temperature_resample(df, "grp", 1.5, 100)
    with pytest.raises(ValueError):
        temperature_resample(df, "grp", 0.5, 0)
    # a NULL group matches no target: it must raise, not silently vanish
    with_null = df.unionByName(
        spark.createDataFrame([(700, None), (701, None)], "doc_id long, grp string")
    )
    with pytest.raises(ValueError, match="2 rows have a NULL grp"):
        temperature_resample(with_null, "grp", 0.5, 100)
    # keys tie-break as strings: 9 and 10 tie on the remainder, and the
    # extra row goes to "10" < "9"
    ints = spark.createDataFrame(
        [(i, 9 if i < 5 else 10) for i in range(10)], "doc_id long, grp long"
    )
    per = {r[0]: r[1] for r in temperature_resample(ints, "grp", 1.0, 5)
           .groupBy("grp").count().collect()}
    assert per == {9: 2, 10: 3}

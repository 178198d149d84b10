"""End-to-end curation pipeline (plans/curation_pipeline.py).

The whole chain — quality gates → exact dedup → hash split → 13-gram
decontamination — is verified against a from-scratch pure-Python
reference (own tokenizer, own quality formula with Spark's HALF_UP
rounding, own md5 grouping, own XXH64 split, own gram set intersection),
so a regression in ANY stage or in their composition shows up as a
doc-level diff, not just a count drift.
"""

from __future__ import annotations

import hashlib
import re
import struct
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest
from pyspark.sql import functions as F

from ocr_auto_label_spark.operators.dedup import exact_dedup
from ocr_auto_label_spark.plans.curation_pipeline import (
    curate_corpus,
    quality_gates,
)
from test_xxh64_sql import xxh64_ref

SF_DIR = "/root/testdata/sf0.001"
GATES = dict(min_quality=0.5, min_tokens=20, max_dup_word_frac=0.65)


def _py_quality(t: str) -> float:
    """quality_score replicated from scratch, incl. Spark's
    round(double, 6) = BigDecimal(HALF_UP over Double.toString)."""
    n = len(t)
    lb = 0.0 if n < 20 else (0.3 if n > 8000 else 1.0)
    stripped = re.sub(r"[^\s\w]", "", t, flags=re.ASCII)
    pr = (n - len(stripped)) / max(n, 1)
    toks = len(re.split(r"\s+", t.strip()))
    mw = n / max(toks, 1)
    wb = 1.0 if 3 <= mw <= 12 else 0.4
    raw = 0.4 * lb + 0.3 * (1 - pr) + 0.3 * wb
    return float(Decimal(repr(raw)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _py_reference(rows, n=13):
    """The full pipeline in pure Python: returns (kept {id: split},
    report {id: (n_grams, n_contam)})."""
    kept = []
    for did, text in rows:
        toks = re.split(r"\s+", text.strip().lower())
        dwf = 1 - len(set(toks)) / len(toks)
        if (
            _py_quality(text) >= GATES["min_quality"]
            and len(re.split(r"\s+", text.strip())) >= GATES["min_tokens"]
            and dwf <= GATES["max_dup_word_frac"]
        ):
            kept.append((did, text))
    by_hash = {}
    for did, text in sorted(kept):
        h = hashlib.md5(text.encode()).hexdigest()
        by_hash.setdefault(h, (did, text))
    split = {}
    for did, _ in by_hash.values():
        u = xxh64_ref(struct.pack("<q", did), 42)
        s = u - 2**64 if u >= 2**63 else u
        b = ((s % 100) + 100) % 100
        split[did] = "train" if b < 80 else ("val" if b < 90 else "test")
    train_grams, report = set(), {}
    texts = dict(rows)
    for did, sp in split.items():
        toks = re.split(r"\s+", texts[did].strip().lower())
        grams = {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
        if sp == "train":
            train_grams |= grams
    for did, sp in split.items():
        if sp != "train":
            toks = re.split(r"\s+", texts[did].strip().lower())
            grams = {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
            report[did] = (len(grams), len(grams & train_grams))
    return split, report


@pytest.fixture(scope="module")
def curated(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("curation"))
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    summary = curate_corpus(spark, docs, out, **GATES)
    return out, summary


def test_curation_matches_python_reference(spark, curated):
    out, summary = curated
    rows = [
        (r.doc_id, r.text)
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text").collect()
    ]
    want_split, want_report = _py_reference(rows)

    got_split = {
        r.doc_id: r.split
        for r in spark.read.parquet(f"{out}/curated").select("doc_id", "split").collect()
    }
    assert got_split == want_split

    got_report = {
        r.id: (r.n_grams, r.n_contam)
        for r in spark.read.parquet(f"{out}/decontam_report").collect()
    }
    assert got_report == want_report

    assert summary["rows_in"] == len(rows)
    assert summary["rows_after_dedup"] == len(want_split)
    want_counts = {"train": 0, "val": 0, "test": 0}
    for sp in want_split.values():
        want_counts[sp] += 1
    assert summary["split_counts"] == want_counts
    assert summary["eval_docs"] == len(want_report)
    assert summary["contaminated_docs"] == sum(
        1 for _, c in want_report.values() if c
    )
    assert summary["contaminated_grams"] == sum(c for _, c in want_report.values())
    # the fixture must exercise every stage: gates drop rows, decontam hits
    assert summary["rows_quality_pass"] < summary["rows_in"]
    assert summary["contaminated_docs"] > 0


def test_curation_rerun_is_deterministic(spark, curated, tmp_path):
    out, summary = curated
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out2 = str(tmp_path / "rerun")
    summary2 = curate_corpus(spark, docs, out2, **GATES)
    assert {k: v for k, v in summary.items() if "path" not in k} == {
        k: v for k, v in summary2.items() if "path" not in k
    }
    con = duckdb.connect()
    for sub in ("curated", "decontam_report"):
        a, b = f"{out}/{sub}", f"{out2}/{sub}"
        diff = con.sql(
            f"SELECT count(*) FROM ("
            f"SELECT * FROM '{a}/**/*.parquet' EXCEPT SELECT * FROM '{b}/**/*.parquet' "
            f"UNION ALL "
            f"SELECT * FROM '{b}/**/*.parquet' EXCEPT SELECT * FROM '{a}/**/*.parquet')"
        ).fetchone()[0]
        assert diff == 0, sub


def test_curation_with_packing(spark, tmp_path):
    """pack_budget > 0 writes the split-pure packing assignment; every
    curated doc is packed exactly once and packs never mix splits."""
    out = str(tmp_path / "packed")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    summary = curate_corpus(spark, docs, out, pack_budget=512, **GATES)
    assert summary["packed_docs"] == summary["rows_after_dedup"]
    assert summary["n_packs"] > 3
    rows = spark.read.parquet(f"{out}/packs").collect()
    assert len(rows) == summary["rows_after_dedup"]
    curated_split = {
        r.doc_id: r.split for r in spark.read.parquet(f"{out}/curated").collect()
    }
    for r in rows:
        assert r.split == curated_split[r.doc_id]
        assert r.pack_id == r.start_offset // 512


def test_curation_with_chunking(spark, tmp_path):
    """chunk_budget > 0 writes token-window chunks of the curated docs;
    chunks inherit the doc's split, reconstruct its token stream, and
    match chunk_documents applied to the curated output directly."""
    from ocr_auto_label_spark.operators.packing import chunk_documents

    out = str(tmp_path / "chunked")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    summary = curate_corpus(
        spark, docs, out, chunk_budget=32, chunk_overlap=8, **GATES
    )
    rows = spark.read.parquet(f"{out}/chunks").collect()
    assert len(rows) == summary["n_chunks"] > summary["rows_after_dedup"]
    curated = spark.read.parquet(f"{out}/curated")
    want = sorted(
        tuple(r)
        for r in chunk_documents(
            curated, 32, 8, carry_cols=["split"]
        ).collect()
    )
    assert sorted(tuple(r) for r in rows) == want
    # per-doc: every chunked doc appears with a chunk_idx-0 chunk and its
    # chunk rows carry exactly the doc's split
    curated_rows = {r.doc_id: r for r in curated.collect()}
    seen = {}
    for r in rows:
        assert r.split == curated_rows[r.doc_id].split
        seen.setdefault(r.doc_id, set()).add(r.chunk_idx)
    assert set(seen) == set(curated_rows)
    for doc_id, idxs in seen.items():
        assert idxs == set(range(len(idxs)))


def test_curation_survives_empty_corpus(spark, tmp_path):
    """Gates that reject every doc must yield a zeroed summary, not an
    UNABLE_TO_INFER_SCHEMA crash on a zero-row read-back (the
    schema-pinned read path every artifact write goes through)."""
    out = str(tmp_path / "empty")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    summary = curate_corpus(
        spark, docs, out, min_tokens=10_000, pack_budget=512,
        chunk_budget=32, bpe_merges=4,
    )
    assert summary["rows_quality_pass"] == 0
    assert summary["rows_after_dedup"] == 0
    assert summary["eval_docs"] == 0
    assert summary["contaminated_docs"] == 0
    assert summary["contaminated_grams"] == 0
    assert summary["n_packs"] == 0
    assert summary["packed_docs"] == 0
    assert summary["n_chunks"] == 0
    assert summary["oversize_chunk_rows"] == 0
    assert summary["bpe_vocab_size"] == 0


def test_curation_with_semantic_decontam(spark, tmp_path):
    """semantic_decontam_threshold reports eval docs cosine-similar to a
    train doc within the same LSH bucket — verified against a from-scratch
    Python twin (own spec-XXH64 plane weights, own blocking, own cosine
    with Spark's HALF_UP rounding)."""
    from decimal import ROUND_HALF_UP, Decimal

    from ocr_auto_label_spark.functions.xxh64_sql import xxh64_int4_py

    out = str(tmp_path / "semdecon")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    thr = 0.3
    summary = curate_corpus(
        spark, docs, out,
        embeddings=emb, semdedup_threshold=0.9,  # high bar: no eviction
        semantic_decontam_threshold=thr, **GATES,
    )
    got = {
        r.doc_id: (r.nearest_train_id, r.max_cosine, r.n_train_matches)
        for r in spark.read.parquet(f"{out}/semantic_decontam_report").collect()
    }

    # --- twin ---
    splits = {r.doc_id: r.split
              for r in spark.read.parquet(f"{out}/curated").collect()}
    vecs = {r.vec_id: [float(x) for x in r.embedding]
            for r in emb.collect() if r.vec_id in splits}
    dim = len(next(iter(vecs.values())))
    weights = [
        [1.0 if (xxh64_int4_py(p, xxh64_int4_py(i, 42)) >> 1) & 1 else -1.0
         for i in range(dim)]
        for p in range(8)
    ]

    def sig(v):
        s = 0
        for p in range(8):
            acc = 0.0
            for x, w in zip(v, weights[p]):
                acc += x * w
            s += (1 if acc > 0 else 0) << p
        return s

    def norm(v):
        acc = 0.0
        for x in v:
            acc += x * x
        return acc ** 0.5

    def cos6(va, vb):
        acc = 0.0
        for x, y in zip(va, vb):
            acc += x * y
        raw = acc / (norm(va) * norm(vb))
        return float(Decimal(repr(raw)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP))

    sigs = {i: sig(v) for i, v in vecs.items()}
    want = {}
    for e_id, e_split in splits.items():
        if e_split == "train":
            continue
        matches = [
            (cos6(vecs[e_id], vecs[t_id]), t_id)
            for t_id, t_split in splits.items()
            if t_split == "train" and sigs[t_id] == sigs[e_id]
        ]
        matches = [(c, t) for c, t in matches if c >= thr]
        if matches:
            best = max(matches)
            want[e_id] = (best[1], best[0], len(matches))
    assert set(got) == set(want)
    assert summary["semantic_contaminated_docs"] == len(want)
    for e_id, (t_id, c, n) in want.items():
        g_t, g_c, g_n = got[e_id]
        assert (g_t, g_n) == (t_id, n), e_id
        assert abs(g_c - c) < 1e-9, e_id


def test_curation_with_dsir_selection(spark, tmp_path):
    """dsir_keep_percent keeps exactly the docs at or above the exact
    nearest-rank milli-weight threshold (from-scratch twin: test_dsir's
    python DSIR on the gated+deduped set), and the kept set skews toward
    the target domain."""
    import math

    from test_dsir import _py_dsir

    out = str(tmp_path / "dsir")
    base_out = str(tmp_path / "dsir_base")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    keep_pct = 40
    curate_corpus(spark, docs, base_out, **GATES)  # no-dsir baseline
    summary = curate_corpus(
        spark, docs, out,
        dsir_target_lang="en", dsir_keep_percent=keep_pct, **GATES,
    )
    base_rows = [
        (r.doc_id, r.lang, r.text)
        for r in spark.read.parquet(f"{base_out}/curated").collect()
    ]
    wts = _py_dsir(base_rows, target_lang="en")
    mw = {i: math.floor(avg * 1000) for i, (_, avg) in wts.items()}
    ladder = sorted(mw.values())
    rank = -(-len(ladder) * (100 - keep_pct) // 100)  # ceil(n*p/100)
    thr = ladder[rank - 1]
    want_kept = {i for i, v in mw.items() if v >= thr}
    got_kept = {
        r.doc_id for r in spark.read.parquet(f"{out}/curated").collect()
    }
    assert got_kept == want_kept
    assert summary["dsir_kept"] == len(want_kept)
    assert summary["dsir_threshold_milli"] == thr
    # selection property: the kept set is more target-domain than the pool
    lang = {i: l for i, l, _ in base_rows}
    frac = lambda ids: sum(lang[i] == "en" for i in ids) / len(ids)
    assert frac(got_kept) > frac(set(lang))


def test_curation_with_span_dedup_rewrite(spark, tmp_path):
    """span_dedup_width rewrites the corpus text (Lee et al. removal on
    the gated+deduped set — verified against test_span_removal's python
    twin) — and at width == ngram_n it empties the n-gram contamination
    report: a span surviving exactly once corpus-wide cannot sit in both
    a train and an eval doc (new token adjacencies could in principle
    mint colliding grams; none occur on this corpus)."""
    from test_span_removal import _py_remove_spans

    out = str(tmp_path / "spandd")
    base_out = str(tmp_path / "spandd_base")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base = curate_corpus(spark, docs, base_out, **GATES)
    assert base["contaminated_docs"] > 0  # the fixture IS contaminated
    summary = curate_corpus(
        spark, docs, out, span_dedup_width=13, **GATES
    )
    assert summary["contaminated_docs"] == 0
    assert summary["contaminated_grams"] == 0
    assert summary["span_tokens_after"] < summary["span_tokens_before"]
    # text equality vs the python twin applied to the baseline curated set
    base_rows = {
        (r.doc_id,): r.text
        for r in spark.read.parquet(f"{base_out}/curated").collect()
    }
    want = _py_remove_spans(base_rows, 13)
    got = {
        (r.doc_id,): r.text
        for r in spark.read.parquet(f"{out}/curated").collect()
    }
    assert got == {k: t for k, (t, _, _) in want.items()}


def test_misconfigured_optional_stages_raise(spark, tmp_path):
    import pytest as _pytest

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    with _pytest.raises(ValueError, match="requires embeddings"):
        curate_corpus(spark, docs, str(tmp_path / "x1"),
                      semantic_decontam_threshold=0.3, **GATES)
    with _pytest.raises(ValueError, match="requires dsir_target_lang"):
        curate_corpus(spark, docs, str(tmp_path / "x2"),
                      dsir_keep_percent=40, **GATES)
    with _pytest.raises(ValueError, match="keep_percent"):
        curate_corpus(spark, docs, str(tmp_path / "x3"),
                      dsir_target_lang="en", dsir_keep_percent=100, **GATES)


def test_exact_dedup_rows_keeps_min_id(spark):
    """The dedup step curate_corpus runs keeps the min id of each content
    group wherever it sits in the input, and counts the group."""
    df = spark.createDataFrame(
        [(3, "same text"), (1, "same text"), (2, "other"), (7, "same text")],
        "doc_id: long, text: string",
    )
    got = sorted(
        (r.doc_id, r.text, r.dup_count) for r in exact_dedup(df).collect()
    )
    assert got == [(1, "same text", 3), (2, "other", 1)]


def test_quality_gates_drop_degenerate_docs(spark):
    df = spark.createDataFrame(
        [
            (1, "ab"),                                  # too short: quality 0.42
            (2, "a a a a a a a a a a a a a a a a a a"), # dup_word_frac ≈ 0.94
            (3, "the quick brown fox jumps over the lazy dog again today"),
        ],
        "doc_id: long, text: string",
    )
    kept = [
        r.doc_id
        for r in quality_gates(df, max_dup_word_frac=0.65).collect()
    ]
    assert kept == [3]


def test_quality_gates_are_narrow(spark):
    """Gates must add zero Exchanges — pure column math over the scan."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = (
        quality_gates(docs, min_tokens=20)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_curation_with_semantic_dedup(spark, tmp_path):
    """The optional SemDeDup stage: curated output equals the
    no-semdedup output minus exactly the Python-twin eviction ids, and
    the summary reports the eviction-list size."""
    from test_semdedup import _py_semdedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    base = curate_corpus(spark, docs, str(tmp_path / "plain"), **GATES)
    sem = curate_corpus(
        spark, docs, str(tmp_path / "sem"), **GATES,
        embeddings=emb, semdedup_centroids=16, semdedup_threshold=0.3,
    )

    _, _, want_evict = _py_semdedup(emb.collect())
    evict_ids = {doc for _, doc in want_evict}
    assert sem["semantic_evicted_ids"] == len(evict_ids)

    base_ids = {r.doc_id for r in
                spark.read.parquet(str(tmp_path / "plain/curated")).collect()}
    sem_ids = {r.doc_id for r in
               spark.read.parquet(str(tmp_path / "sem/curated")).collect()}
    assert sem_ids == base_ids - evict_ids
    assert len(sem_ids) < len(base_ids)  # the stage actually fired


def test_semantic_dedup_count_when_aqe_drops_the_anti_join(spark, tmp_path):
    """The eviction count does not depend on the anti join running its
    eviction side: with no evictions (threshold 1.0) and with every
    document gated out, AQE replaces the join by one of its inputs, and
    the summary still reports the eviction-list size."""
    from test_semdedup import _py_semdedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    none = curate_corpus(
        spark, docs, str(tmp_path / "none"), **GATES,
        embeddings=emb, semdedup_centroids=16, semdedup_threshold=1.0,
    )
    assert none["semantic_evicted_ids"] == 0
    assert none["rows_after_dedup"] > 0

    gated = curate_corpus(
        spark, docs, str(tmp_path / "gated"), min_tokens=10_000,
        embeddings=emb, semdedup_centroids=16, semdedup_threshold=0.3,
    )
    _, _, want_evict = _py_semdedup(emb.collect())
    assert gated["rows_quality_pass"] == 0
    assert gated["semantic_evicted_ids"] == len({doc for _, doc in want_evict})


def _without_paths(summary: dict) -> dict:
    return {k: v for k, v in summary.items() if not k.endswith("_path")}


def test_curation_after_a_failed_call_completes(spark, tmp_path):
    """A call that raises after attaching its stage Observations (an empty
    embeddings frame has no centroids) leaves nothing behind that the
    next call waits on: the next call finishes in bounded time with the
    summary a call before the failure reported."""
    import threading

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    before = curate_corpus(spark, docs, str(tmp_path / "before"), **GATES)
    with pytest.raises(ValueError, match="no vectors"):
        curate_corpus(
            spark, docs, str(tmp_path / "failed"), **GATES,
            embeddings=emb.limit(0),
        )
    after = {}
    call = threading.Thread(
        target=lambda: after.update(
            curate_corpus(spark, docs, str(tmp_path / "after"), **GATES)
        ),
        daemon=True,
    )
    call.start()
    call.join(timeout=300)
    assert not call.is_alive(), "curate_corpus blocked after a failed call"
    assert _without_paths(after) == _without_paths(before)


def test_curation_of_a_statically_empty_input_counts_zero(spark, tmp_path):
    """``docs.limit(0)`` is empty at planning time, so AQE would replace
    the whole chain above the dedup shuffle by an empty relation and the
    stage Observations inside it would come back without a row.  Every
    document count is 0; ``semantic_evicted_ids`` counts the embeddings'
    own eviction list, which the documents do not change."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    sem = dict(embeddings=emb, semdedup_centroids=16, semdedup_threshold=0.3)
    full = curate_corpus(spark, docs, str(tmp_path / "full"), **GATES, **sem)
    empty = curate_corpus(
        spark, docs.limit(0), str(tmp_path / "empty"), **GATES, **sem
    )
    assert empty["semantic_evicted_ids"] == full["semantic_evicted_ids"]
    assert empty["split_counts"] == {"train": 0, "val": 0, "test": 0}
    for key in ("rows_in", "rows_quality_pass", "rows_after_dedup",
                "eval_docs", "contaminated_docs", "contaminated_grams"):
        assert empty[key] == 0, key


def test_curation_with_bpe_tokenizer_training(spark, tmp_path):
    from collections import Counter

    from test_bpe import _ref_train, _word_counts

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = str(tmp_path / "bpe")
    summary = curate_corpus(spark, docs, out, bpe_merges=4, **GATES)
    merges = sorted(
        (r.step, r.a, r.b, r.merged, r.total)
        for r in spark.read.parquet(summary["bpe_merges_path"]).collect()
    )
    vocab = {
        r.symbol: r.total
        for r in spark.read.parquet(summary["bpe_vocab_path"]).collect()
    }
    assert summary["bpe_vocab_size"] == len(vocab) > 0
    assert len(merges) == 4
    # the stage must equal the greedy reference trained on the curated
    # TRAIN split alone (tokenizer never sees eval text)
    train = spark.read.parquet(f"{out}/curated").filter("split = 'train'")
    wc = _word_counts([r.text for r in train.select("text").collect()])
    want_merges, want_seqs, _ = _ref_train(wc, 4)
    assert merges == want_merges
    want_vocab = Counter()
    for w, syms in want_seqs.items():
        for sym in syms:
            want_vocab[sym] += wc[w]
    assert vocab == dict(want_vocab)


def test_curation_with_quality_model_selection(spark, tmp_path):
    from test_quality_model import _py_train

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = str(tmp_path / "qual")
    summary = curate_corpus(
        spark, docs, out,
        quality_label_lang="en", quality_keep_percent=40, **GATES,
    )
    # twin: replicate gates+dedup survivors, train the same model, and
    # apply the same milli-quantized nearest-rank cut
    survivors = {
        r.doc_id: (r.lang, r.text)
        for r in spark.read.parquet(f"{out}/quality_scores")
        .join(docs, "doc_id").collect()
    }
    rows = [(d, lang == "en", t) for d, (lang, t) in survivors.items()]
    _, scores = _py_train(rows)
    import math

    ms = sorted(math.floor(s * 1000000) for _, s in scores.values())
    rank = math.ceil(60 * len(ms) / 100)  # (100-keep)th nearest-rank
    thr = ms[rank - 1]
    want_kept = {
        d for d, (_, s) in scores.items() if math.floor(s * 1000000) >= thr
    }
    assert summary["quality_threshold_micro"] == thr
    assert summary["quality_kept"] == len(want_kept)
    got_kept = {
        r.doc_id
        for r in spark.read.parquet(f"{out}/curated").collect()
    }
    assert got_kept == want_kept
    # the model artifact matches the twin's trained weights exactly
    ww, _ = _py_train(rows)
    got_w = {
        r.bucket: r.w
        for r in spark.read.parquet(f"{out}/quality_model").collect()
    }
    assert got_w == {b: ww[b] for b in range(len(ww))}
    with pytest.raises(ValueError):
        curate_corpus(spark, docs, str(tmp_path / "bad"),
                      quality_keep_percent=40, **GATES)


def test_curation_with_temperature_resampling(spark, tmp_path, monkeypatch):
    """The temperature stage rebalances sources before the split: exact
    total, per-source caps respected, split counts sum to the resampled
    total, and the run is deterministic."""
    from ocr_auto_label_spark.operators import sampling
    from ocr_auto_label_spark.plans.curation_pipeline import curate_corpus

    # per-source survivors of the gates and dedup, counted on the frame
    # the resampler receives
    survived = {}
    real_resample = sampling.temperature_resample

    def counting_resample(df, group_col, *args, **kwargs):
        survived.update(
            {r[0]: r[1] for r in df.groupBy(group_col).count().collect()}
        )
        return real_resample(df, group_col, *args, **kwargs)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "cur_temp")
    monkeypatch.setattr(sampling, "temperature_resample", counting_resample)
    s1 = curate_corpus(
        spark, docs, out, min_tokens=20, max_dup_word_frac=0.65,
        temperature_alpha=0.5, temperature_total=200,
    )
    monkeypatch.undo()
    assert s1["temperature_kept"] == 200
    assert sum(s1["temperature_kept_by_source"].values()) == 200
    assert sum(s1["split_counts"].values()) == 200
    # per-source kept never exceeds what survived the gates per source
    assert sum(survived.values()) > 200
    for src, k in s1["temperature_kept_by_source"].items():
        assert k <= survived[src], (src, k, survived[src])
    s2 = curate_corpus(
        spark, docs, str(tmp_path / "cur_temp2"), min_tokens=20,
        max_dup_word_frac=0.65, temperature_alpha=0.5,
        temperature_total=200,
    )
    assert s2["temperature_kept_by_source"] == s1["temperature_kept_by_source"]
    assert s2["split_counts"] == s1["split_counts"]
    # both knobs are required together
    import pytest as _pytest

    with _pytest.raises(ValueError, match="BOTH"):
        curate_corpus(
            spark, docs, str(tmp_path / "cur_bad"), min_tokens=20,
            temperature_alpha=0.5,
        )

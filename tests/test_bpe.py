"""BPE tokenizer training (operators/bpe.py) vs a from-scratch Python
greedy reference (the Sennrich et al. 2016 algorithm implemented
directly on symbol lists — no string-replace trick), plus the
representation-edge cases the string form must survive."""

from __future__ import annotations

import re
from collections import Counter

import pytest

from ocr_auto_label_spark.operators.bpe import (
    bpe_segment_counts,
    bpe_train,
    bpe_vocab,
)


def _ref_train(word_counts, n_merges):
    """List-based greedy BPE: merge the (count DESC, a, b) argmax pair,
    left-to-right non-overlapping within each word."""
    seqs = {w: list(w) for w in word_counts}
    merges = []
    for step in range(n_merges):
        pc = Counter()
        for w, syms in seqs.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += word_counts[w]
        if not pc:
            return merges, seqs, True
        (a, b), tot = sorted(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[0]
        merges.append((step, a, b, a + b, tot))
        for w, syms in seqs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            seqs[w] = out
    return merges, seqs, False


def _word_counts(rows):
    wc = Counter()
    for text in rows:
        wc.update(w for w in re.split(r"\s+", text.strip().lower()) if w)
    return wc


def test_bpe_train_matches_greedy_reference_on_fixture(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    wc = _word_counts([r.text for r in df.select("text").collect()])
    want_merges, want_seqs, _ = _ref_train(wc, 6)
    merges, words = bpe_train(df, 6)
    got = [(m["step"], m["a"], m["b"], m["merged"], m["total"]) for m in merges]
    assert got == want_merges
    # final segmentations equal the reference's, word by word
    got_seqs = {
        r.word: r.seq.strip().split("  ") for r in words.collect()
    }
    assert got_seqs == {w: s for w, s in want_seqs.items()}
    # vocab = weighted symbol counts of the final segmentation
    want_voc = Counter()
    for w, syms in want_seqs.items():
        for s in syms:
            want_voc[s] += wc[w]
    assert {
        r.symbol: r.total for r in bpe_vocab(words).collect()
    } == dict(want_voc)
    # per-doc encoded length = sum of per-word symbol counts
    seg = {r.id: (r.n_symbols, r.n_words)
           for r in bpe_segment_counts(df, words).collect()}
    for r in df.select("doc_id", "text").collect():
        ws = [w for w in re.split(r"\s+", r.text.strip().lower()) if w]
        want = (sum(len(want_seqs[w]) for w in ws), len(ws))
        assert seg[r.doc_id] == want, r.doc_id
    # merging buys real compression on this corpus
    assert sum(n for n, _ in seg.values()) < sum(
        len(w) * c for w, c in wc.items()
    )


def test_bpe_adjacency_and_boundary_edges(spark):
    # 'aaa' must merge greedily left-to-right ((aa) a), and 'xab' must
    # NOT match the (a, b) pair across the 'xa' symbol boundary once
    # 'x a' merges first
    data = [(0, "aaa aaa xab ab ab ab")]
    df = spark.createDataFrame(data, "doc_id long, text string")
    wc = _word_counts([data[0][1]])
    want_merges, want_seqs, _ = _ref_train(wc, 3)
    merges, words = bpe_train(df, 3)
    got = [(m["step"], m["a"], m["b"], m["merged"], m["total"]) for m in merges]
    assert got == want_merges
    assert {
        r.word: r.seq.strip().split("  ") for r in words.collect()
    } == want_seqs
    with pytest.raises(ValueError):
        bpe_train(df, 0)


def test_bpe_exhaustion_raises(spark):
    # single-char words have no adjacent pairs at all
    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="merge capacity"):
        bpe_train(df, 1)


def test_bpe_backslash_symbols_survive_sql_escaping(spark):
    # review finding: Spark string literals process backslash escapes,
    # so an unescaped '\' in a merge pattern silently corrupted the
    # rewrite; symbols from code/path corpora must merge correctly
    data = [(0, r"a\b a\b a\b x\ x\ x\ c'd c'd")]
    df = spark.createDataFrame(data, "doc_id long, text string")
    wc = _word_counts([data[0][1]])
    want_merges, want_seqs, _ = _ref_train(wc, 3)
    merges, words = bpe_train(df, 3)
    got = [(m["step"], m["a"], m["b"], m["merged"], m["total"]) for m in merges]
    assert got == want_merges
    assert {
        r.word: r.seq.strip().split("  ") for r in words.collect()
    } == want_seqs


def test_bpe_train_identity_with_greedy_reference(spark):
    """The incremental (delta-update) trainer must be bit-identical to
    the from-scratch greedy reference: same merge table, same final
    segmentations — on a real corpus deep enough that merged symbols
    themselves merge again."""
    from ocr_auto_label_spark.datagen import transcripts_parquet

    df = spark.read.parquet(transcripts_parquet(2_000))
    wc = _word_counts([r.text for r in df.select("text").collect()])
    want_merges, want_seqs, _ = _ref_train(wc, 24)
    merges, words = bpe_train(df, 24)
    got = [(m["step"], m["a"], m["b"], m["merged"], m["total"]) for m in merges]
    assert got == want_merges
    assert any(len(m[1]) > 1 for m in want_merges)  # merges of merges
    got_seqs = {
        r.word: (r.cnt, r.seq.strip().split("  ")) for r in words.collect()
    }
    assert got_seqs == {w: (wc[w], s) for w, s in want_seqs.items()}


def test_bpe_apply_merges_equals_global_replay(spark):
    """Per-word replay of the trained merge table (the encoder path used
    for beyond-cap words) equals the trainer's own segmentation."""
    from ocr_auto_label_spark.operators.bpe import apply_merges

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    merges, words = bpe_train(df, 6)
    replayed = apply_merges(words.drop("seq"), merges)
    want = {(r.word, r.seq) for r in words.select("word", "seq").collect()}
    got = {(r.word, r.seq) for r in replayed.select("word", "seq").collect()}
    assert got == want


def test_bpe_train_capped_vocab(spark):
    """max_vocab below the distinct-word count: pair statistics come from
    the top-cap words only (frequency-cutoff semantics), beyond-cap words
    still get a seq via the encoder, and every word appears exactly once."""
    from ocr_auto_label_spark.operators.bpe import (
        apply_merges,
        word_frequencies,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    wf = word_frequencies(df)
    n_words = wf.count()
    cap = 12
    assert cap < n_words
    merges, words = bpe_train(df, 4, max_vocab=cap)
    # merge table == reference trained on the capped vocabulary
    import pyspark.sql.functions as F

    head = {
        r.word: r.cnt
        for r in wf.orderBy(F.desc("cnt"), F.asc("word")).limit(cap).collect()
    }
    want_merges, _, _ = _ref_train(Counter(head), 4)
    got = [(m["step"], m["a"], m["b"], m["merged"], m["total"]) for m in merges]
    assert got == want_merges
    rows = words.collect()
    assert len(rows) == n_words
    assert len({r.word for r in rows}) == n_words
    # beyond-cap words carry the encoder's replay of the same merge table
    replay = {
        r.word: r.seq
        for r in apply_merges(wf.select("word", "cnt"), merges).collect()
    }
    for r in rows:
        assert r.seq == replay[r.word], r.word

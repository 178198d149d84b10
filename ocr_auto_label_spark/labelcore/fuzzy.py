"""Fuzzy match against the canonical sample-ID list.

The reference resolves near-miss codes generatively via OCR prompt rules
(gemini.ts:164-187); we re-express that as a deterministic approximate
join: blocking on (country prefix, segment count) — the broadcast-join
blocking key of SURVEY.md J6 — then Levenshtein distance with a trigram
(3-gram) Jaccard similarity score.  Pure Python here; the Spark plan uses
the same blocking key with ``F.levenshtein`` on the broadcast dim table.
"""

from __future__ import annotations

from functools import lru_cache

from ocr_auto_label_spark.labelcore.canonical import canonical_blocks, canonical_label_set


def levenshtein(a: str, b: str, cap: int | None = None) -> int:
    """Classic DP edit distance with optional early-exit cap."""
    if a == b:
        return 0
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    if cap is not None and abs(la - lb) > cap:
        return cap + 1
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        row_min = i
        ca = a[i - 1]
        for j in range(1, lb + 1):
            cost = 0 if ca == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if cur[j] < row_min:
                row_min = cur[j]
        if cap is not None and row_min > cap:
            return cap + 1
        prev = cur
    return prev[lb]


def _within_one_edit(a: str, b: str) -> bool:
    """Exact O(n) test for levenshtein(a, b) == 1 given a != b.

    The DP above is ~100× slower, and ``canonical_match``'s one-edit
    check is on the extraction hot path.
    """
    la, lb = len(a), len(b)
    if la == lb:  # exactly one substitution
        diff = 0
        for x, y in zip(a, b):
            if x != y:
                diff += 1
                if diff > 1:
                    return False
        return diff == 1
    if abs(la - lb) != 1:
        return False
    if la > lb:
        a, b, la, lb = b, a, lb, la
    i = 0
    while i < la and a[i] == b[i]:  # one insertion into the shorter
        i += 1
    return a[i:] == b[i + 1:]


def trigrams(s: str) -> set[str]:
    padded = f"##{s}##"
    return {padded[i:i + 3] for i in range(len(padded) - 2)}


def trigram_similarity(a: str, b: str) -> float:
    ta, tb = trigrams(a), trigrams(b)
    if not ta or not tb:
        return 0.0
    inter = len(ta & tb)
    return inter / (len(ta) + len(tb) - inter)


@lru_cache(maxsize=256)
def _bucket_deletion_index(prefix: str, arity: int) -> dict[str, tuple[str, ...]]:
    """SymSpell-style d=1 index for one blocking bucket: every canonical
    and each of its single-character deletions → the canonicals that
    produced it.  Any pair within one edit shares a key (substitution at
    i ⇒ equal deletions at i; insertion/deletion ⇒ one string IS a
    deletion of the other), so probing a query's own deletion variants
    yields a complete d≤1 candidate set — each candidate still verified
    exactly with ``_within_one_edit``, so results are identical to the
    full bucket scan at ~bucket_size/len(label) fewer comparisons."""
    index: dict[str, tuple[str, ...]] = {}
    for canon in canonical_blocks().get((prefix, arity), ()):
        keys = {canon}
        keys.update(canon[:i] + canon[i + 1:] for i in range(len(canon)))
        for k in keys:
            index[k] = index.get(k, ()) + (canon,)
    return index


@lru_cache(maxsize=1 << 16)
def canonical_match(label: str) -> tuple[str | None, float]:
    """(matched canonical label, similarity in [0,1]).

    Exact member → (label, 1.0).  Otherwise the nearest canonical within
    one edit inside the blocking bucket, scored by trigram Jaccard; ties
    broken by (trigram sim desc, label asc) for full determinism.  No
    match → (None, 0.0).

    Pure function of its argument → safe to memoize; real corpora repeat
    the same few thousand labels, so the per-executor-process cache turns
    the fuzzy pass into a dict lookup for the common case.
    """
    if label in canonical_label_set():
        return label, 1.0
    segs = label.split(".")
    # deletion-index candidate generation (exact for d≤1), then the exact
    # O(n) verification — same result set as the full bucket scan
    index = _bucket_deletion_index(segs[0], len(segs))
    cands: set[str] = set()
    for i in range(len(label) + 1):
        probe = label if i == len(label) else label[:i] + label[i + 1:]
        hit = index.get(probe)
        if hit:
            cands.update(hit)
    best: tuple[float, str] | None = None
    for canon in cands:
        if not _within_one_edit(label, canon):
            continue
        sim = trigram_similarity(label, canon)
        if best is None or (-sim, canon) < (-best[0], best[1]):
            best = (sim, canon)
    if best is None:
        return None, 0.0
    return best[1], round(best[0], 6)

"""Text and color similarity — the grouping-score ingredients.

Exact ports of the reference semantics (quirks included):

- word-overlap text similarity     grouping.ts:309-324
  (counts *duplicate* words: each word of text1 that appears anywhere in
  text2 counts once per occurrence in text1; denominator is
  max(len(words1), len(words2)) over non-deduped token lists)
- color normalization              grouping.ts:266-271
- color synonym groups             grouping.ts:283-301
- color-set similarity             grouping.ts:243-259
- grouping score + threshold       grouping.ts:157-206
  (desc tiers 0.8/0.6/0.3 at sims ≥0.8/≥0.6/≥0.4; color sim ×0.6 when
  ≥0.5; time decay max(0, 1-Δt/window) × 0.2; accept strictly > 0.35,
  strictly > running best → first-seen wins)
"""

from __future__ import annotations

import re
from functools import lru_cache

TIME_WINDOW_MS = 2 * 60 * 1000  # grouping.ts:123
ACCEPT_THRESHOLD = 0.35         # grouping.ts:201

_WS_SPLIT = re.compile(r"\s+")
_INTENSITY = re.compile(r"\b(light|dark|bright|deep|pale|vivid)\s+")
_MULTI_WS = re.compile(r"\s+")

COLOR_SYNONYMS: tuple[tuple[str, ...], ...] = (
    ("brown", "chocolate", "sienna", "tan", "beige"),
    ("orange", "tangerine", "amber"),
    ("red", "crimson", "scarlet"),
    ("blue", "navy", "azure"),
    ("green", "lime", "forest"),
    ("yellow", "gold", "golden"),
    ("purple", "violet", "magenta"),
    ("pink", "rose", "salmon"),
    ("gray", "grey", "silver"),
    ("black", "charcoal"),
    ("white", "cream", "ivory"),
)


@lru_cache(maxsize=1 << 14)
def _tokenized(text_lower: str) -> tuple[tuple[str, ...], frozenset[str]]:
    """Memoized tokenization — the grouping fold scores every candidate
    pair, so each description is tokenized O(neighborhood) times."""
    words = tuple(_WS_SPLIT.split(text_lower))
    return words, frozenset(words)


def text_similarity(text1: str | None, text2: str | None) -> float:
    """grouping.ts:309-324 — duplicate-counting word overlap.

    Membership in a set is semantically identical to the reference's
    ``words2.includes(w)`` (each words1 occurrence still counts once)."""
    if not text1 or not text2:
        return 0.0
    words1, _ = _tokenized(text1.lower())
    words2, set2 = _tokenized(text2.lower())
    matches = sum(1 for w in words1 if w in set2)
    return matches / max(len(words1), len(words2))


@lru_cache(maxsize=1 << 12)
def normalize_color(color: str) -> str:
    """grouping.ts:266-271."""
    c = _INTENSITY.sub("", color.lower())
    return _MULTI_WS.sub(" ", c).strip()


@lru_cache(maxsize=1 << 14)
def colors_are_similar(color1: str, color2: str) -> bool:
    """grouping.ts:264-304."""
    n1, n2 = normalize_color(color1), normalize_color(color2)
    if n1 == n2:
        return True
    if n1 in n2 or n2 in n1:
        return True
    for group in COLOR_SYNONYMS:
        if n1 in group and n2 in group:
            return True
    return False


def color_similarity(colors1: list[str], colors2: list[str]) -> float:
    """grouping.ts:243-259 — each color of set1 counted once on first match."""
    if not colors1 or not colors2:
        return 0.0
    matches = 0
    for c1 in colors1:
        for c2 in colors2:
            if colors_are_similar(c1, c2):
                matches += 1
                break
    return matches / max(len(colors1), len(colors2))


def grouping_score(
    target_desc: str | None,
    cand_desc: str | None,
    target_colors: list[str],
    cand_colors: list[str],
    delta_ms: float,
) -> float:
    """grouping.ts:157-199 — one candidate's score against the target."""
    score = 0.0
    if target_desc and cand_desc:
        sim = text_similarity(target_desc.lower(), cand_desc.lower())
        if sim >= 0.8:
            score += 0.8
        elif sim >= 0.6:
            score += 0.6
        elif sim >= 0.4:
            score += 0.3
    csim = color_similarity(target_colors, cand_colors)
    if csim >= 0.5:
        score += csim * 0.6
    score += max(0.0, 1.0 - (abs(delta_ms) / TIME_WINDOW_MS)) * 0.2
    return score


@lru_cache(maxsize=1 << 16)
def _text_tier(desc_l1: str, desc_l2: str) -> float:
    """The desc-tier contribution (grouping.ts:165-176) for a pair of
    ALREADY-LOWERED descriptions — a pure function of the pair, cached."""
    sim = text_similarity(desc_l1, desc_l2)
    if sim >= 0.8:
        return 0.8
    if sim >= 0.6:
        return 0.6
    if sim >= 0.4:
        return 0.3
    return 0.0


@lru_cache(maxsize=1 << 16)
def _color_part(colors1: tuple[str, ...], colors2: tuple[str, ...]) -> float:
    """The color contribution (grouping.ts:179-184) for a pair of color
    tuples — cached per distinct pair."""
    csim = color_similarity(list(colors1), list(colors2))
    return csim * 0.6 if csim >= 0.5 else 0.0

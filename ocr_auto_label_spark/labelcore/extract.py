"""The extraction core: raw turn payload → normalized text + ranked label candidates.

Pipeline per turn (pure Python; wrapped by the Arrow pandas UDF in
``functions/udfs.py`` — same module, so byte-equal by construction):

  1. candidate token scan over the *raw* string (spans index into the raw
     payload, FIXTURES.md §3)
  2. normalize = trim+upper (sampleCodePatterns.ts:114)
  3. grammar validation (grammar.py) with confusion-correction fan-out on
     failure (confusion.py — gemini.ts:94-98,107-114,166 semantics)
  4. canonical-list fuzzy match (fuzzy.py — Levenshtein + trigram)
  5. deterministic confidence (scoring.py) + noise gate
  6. per-turn rank: confidence desc, first-seen wins (strict ``>`` like
     grouping.ts:201-206) → (begin asc, source order) tiebreak
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import lru_cache

from ocr_auto_label_spark.labelcore.boilerplate import normalize_text
from ocr_auto_label_spark.labelcore.confusion import best_correction
from ocr_auto_label_spark.labelcore.fuzzy import canonical_match
from ocr_auto_label_spark.labelcore.grammar import normalize_code
from ocr_auto_label_spark.labelcore.scoring import NOISE_THRESHOLD, confidence

# Candidate token: 3 leading alphanumerics (letters may be confusion-corrupted
# digits, e.g. "MW1" → "MWI"), a '.'/'-' separator, then a dotted/dashed tail
# ending on an alphanumeric.  Lookarounds keep us off the middle of larger
# tokens; a trailing sentence period is excluded.
TOKEN_RE = re.compile(
    r"(?<![A-Za-z0-9.\-])[A-Za-z0-9]{3}[.\-][A-Za-z0-9][A-Za-z0-9.\-]*[A-Za-z0-9](?![A-Za-z0-9])"
)

_SOURCE_ORDER = {"text": 0, "tool": 1}


@dataclass(frozen=True)
class Candidate:
    label: str            # normalized corrected label
    raw: str              # raw token as it appeared (pre-correction)
    begin: int            # char offset into the raw source string
    end: int
    source_col: str       # 'text' | 'tool'
    pattern_id: str
    corrections: int
    canonical: str | None  # matched canonical label (None if no match)
    canonical_sim: float
    confidence: float
    rank: int = 0


@lru_cache(maxsize=1 << 16)
def analyze_token(token: str) -> tuple[str, str, int, str | None, float, float] | None:
    """Steps 2-5 for one raw token: (label, pattern_id, corrections,
    canonical, canonical_sim, confidence), or None if noise.

    Pure function of the token string → memoized per executor process;
    label tokens repeat heavily in real transcripts (a finite sample-ID
    universe), so the common case collapses to a dict hit.
    """
    norm = normalize_code(token)
    corrected = best_correction(norm)
    if corrected is None:
        return None  # classified noise
    label, edits, pattern_id = corrected
    canon, sim = canonical_match(label)
    conf = confidence(True, sim, edits)
    if conf <= NOISE_THRESHOLD:
        return None
    return label, pattern_id, edits, canon, sim, conf


def scan_candidates(raw: str | None, source_col: str) -> list[dict]:
    """Steps 1-5 on one source string: unranked candidate rows, as dicts
    keyed in :class:`Candidate` field order (``rank`` 0).  Dicts, not
    Candidates: the Arrow UDF hands these rows straight to the struct
    build (Candidate objects measured ~30% slower per 100k turns)."""
    if not raw:
        return []
    out = []
    for m in TOKEN_RE.finditer(raw):
        token = m.group(0)
        analyzed = analyze_token(token)
        if analyzed is None:
            continue
        label, pattern_id, edits, canon, sim, conf = analyzed
        out.append({
            "label": label, "raw": token, "begin": m.start(),
            "end": m.end(), "source_col": source_col,
            "pattern_id": pattern_id, "corrections": edits,
            "canonical": canon, "canonical_sim": sim, "confidence": conf,
            "rank": 0,
        })
    return out


def _rank_key(c: dict) -> tuple:
    return (-c["confidence"], _SOURCE_ORDER[c["source_col"]], c["begin"])


def rank_candidates(cands: list[dict]) -> list[dict]:
    """Deterministic per-turn ranking (step 6), in place: sorts the rows
    and numbers their ``rank`` from 1."""
    if len(cands) > 1:
        cands.sort(key=_rank_key)
    for i, c in enumerate(cands):
        c["rank"] = i + 1
    return cands


def extract_candidates(text: str | None, tool: str | None) -> list[Candidate]:
    """Ranked candidates for one turn over both payload columns."""
    rows = scan_candidates(text, "text") + scan_candidates(tool, "tool")
    return [Candidate(**r) for r in rank_candidates(rows)]


def extract_turn(text: str | None, tool: str | None) -> tuple[str | None, list[Candidate]]:
    """(extracted_text, ranked candidates) — the per-turn contract.

    ``extracted_text`` is the boilerplate-stripped main content of ``text``
    (the turn body); spans in candidates index into the *raw* strings.
    """
    return normalize_text(text), extract_candidates(text, tool)

"""Arrow-vectorized pandas UDFs wrapping the pure-Python labelcore.

Contract (BASELINE.json north_star): **zero per-row Python UDFs** — every
Python crossing is an Arrow-batched ``pandas_udf`` (``ArrowEvalPython`` in
the physical plan, never ``BatchEvalPython``; asserted in tests).

Vectorization strategy for the extraction UDF:
  1. every row runs labelcore's span scan directly (``re.finditer`` must
     yield offsets, which pandas ``str`` ops cannot),
  2. token analysis is memoized per worker process (the lru-cached
     ``labelcore.extract.analyze_token``) — labels repeat heavily, so
     grammar validation / confusion fan-out / fuzzy match run once per
     distinct token, not once per occurrence,
  3. scan and rank are labelcore's own functions on dict rows, so the
     UDF and the pure-Python oracle share ONE implementation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf

from ocr_auto_label_spark.labelcore.boilerplate import normalize_text
from ocr_auto_label_spark.labelcore.extract import rank_candidates, scan_candidates
from ocr_auto_label_spark.schemas import EXTRACT_RESULT_SCHEMA


def _extract_batch(text: pd.Series, tool: pd.Series) -> pd.DataFrame:
    # labelcore.boilerplate.normalize_text mapped over the batch —
    # byte-identical by construction (ONE implementation for oracle and
    # UDF).  Pandas str.replace loops rows in Python anyway, so mapping
    # the scalar function costs the same per row while its
    # match-impossible gates skip ~40% of the regex scans on typical turns.
    extracted = text.map(normalize_text, na_action="ignore")
    cands_col: list[list[dict]] = []
    text_vals = text.to_numpy(dtype=object)
    tool_vals = tool.to_numpy(dtype=object)
    for i in range(len(text_vals)):
        tv, lv = text_vals[i], tool_vals[i]
        cands: list[dict] = []
        # TOKEN_RE.finditer on a miss costs the same single scan a
        # str.contains prefilter would — scan directly, no double pass
        if isinstance(tv, str) and tv:
            cands.extend(scan_candidates(tv, "text"))
        if isinstance(lv, str) and lv:
            cands.extend(scan_candidates(lv, "tool"))
        cands_col.append(rank_candidates(cands))
    return pd.DataFrame({
        "extracted_text": extracted,
        "candidates": pd.Series(cands_col, index=text.index),
    })


@pandas_udf(EXTRACT_RESULT_SCHEMA)
def extract_turn_udf(text: pd.Series, tool: pd.Series) -> pd.DataFrame:
    """(text, tool) → struct<extracted_text, candidates array<struct>>.

    Ranking happens inside the UDF (per-turn argsort), so the flagship
    pipeline needs **no shuffle** for W7 candidate ranking — extraction is
    embarrassingly parallel per turn.
    """
    return _extract_batch(text, tool)

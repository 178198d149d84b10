"""Auto-grouping: cluster-contained applyInPandas fold must equal the
reference's global sequential algorithm (grouping.ts:28-206)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from ocr_auto_label_spark.labelcore.similarity import (
    ACCEPT_THRESHOLD,
    TIME_WINDOW_MS,
    grouping_score,
)
from ocr_auto_label_spark.operators.grouping import (
    auto_group,
    sequential_group_cluster,
    with_time_clusters,
)

_DESCS = ["blue spoon", "blue scoop", "red fork", "green cup", None]
_COLORSETS = [["blue"], ["navy", "white"], ["red"], ["green", "lime"], []]


def _fixture(n=120, seed=3):
    """Synthetic grouping table: some rows labeled (sources), some pending."""
    rng = np.random.default_rng(seed)
    t = 0
    rows = []
    for i in range(n):
        t += int(rng.integers(10, 200))  # mix of <2min and >2min gaps
        di = int(rng.integers(len(_DESCS)))
        if rng.random() < 0.5:
            rows.append({
                "id": f"i{i:04d}", "ts_ms": t * 1000,
                "group": f"G{int(rng.integers(5))}", "status": "extracted",
                "desc": _DESCS[di], "colors": _COLORSETS[di],
                "grouping_confidence": 1.0,
            })
        else:
            rows.append({
                "id": f"i{i:04d}", "ts_ms": t * 1000,
                "group": None,
                "status": "pending_grouping" if rng.random() < 0.8 else "invalid_group",
                "desc": _DESCS[di], "colors": _COLORSETS[di],
                "grouping_confidence": None,
            })
    return pd.DataFrame(rows)


def _global_oracle(pdf: pd.DataFrame) -> dict[str, tuple]:
    """The reference algorithm run globally (no clustering) — pure Python."""
    rows = pdf.sort_values(["ts_ms", "id"]).to_dict("records")
    for row in rows:
        if row["status"] not in ("pending_grouping", "invalid_group"):
            continue
        best_score, best_group = 0.0, None
        for cand in rows:
            if cand["id"] == row["id"] or abs(cand["ts_ms"] - row["ts_ms"]) > TIME_WINDOW_MS:
                continue
            if cand["group"] is None or cand["status"] not in ("extracted", "auto_grouped", "user_grouped"):
                continue
            s = grouping_score(row["desc"], cand["desc"], row["colors"], cand["colors"],
                               cand["ts_ms"] - row["ts_ms"])
            if s > best_score and s > ACCEPT_THRESHOLD:
                best_score, best_group = s, cand["group"]
        if best_group is not None:
            row["group"], row["status"] = best_group, "auto_grouped"
            row["grouping_confidence"] = min(best_score, 1.0)
        else:
            row["status"] = "invalid_group" if row["status"] == "invalid_group" else "ungrouped"
            row["grouping_confidence"] = 0.0
    return {r["id"]: (r["group"], r["status"], round(r["grouping_confidence"], 9)) for r in rows}


@pytest.fixture(scope="module")
def grouping_pdf():
    return _fixture()


def test_cluster_fold_equals_global_oracle_pandas(grouping_pdf):
    """Containment proof in pandas: session-clustered folds == global fold."""
    want = _global_oracle(grouping_pdf)
    # emulate clustering: consecutive-gap > window starts a new cluster
    pdf = grouping_pdf.sort_values(["ts_ms", "id"]).reset_index(drop=True)
    cluster = (pdf.ts_ms.diff().fillna(10**12) > TIME_WINDOW_MS).cumsum()
    got = {}
    for _, part in pdf.groupby(cluster):
        res = sequential_group_cluster(part)
        for r in res.to_dict("records"):
            got[r["id"]] = (r["group"], r["status"], round(r["grouping_confidence"], 9))
    assert got == want


def test_auto_group_spark_equals_global_oracle(spark, grouping_pdf):
    want = _global_oracle(grouping_pdf)
    sdf = spark.createDataFrame(
        grouping_pdf,
        "id: string, ts_ms: long, group: string, status: string, "
        "desc: string, colors: array<string>, grouping_confidence: double",
    )
    out = auto_group(sdf).collect()
    got = {r.id: (r.group, r.status, round(r.grouping_confidence, 9)) for r in out}
    assert got == want
    # something actually got grouped (fixture isn't degenerate)
    assert any(s == "auto_grouped" for _, s, _ in got.values())
    assert any(s == "ungrouped" for _, s, _ in got.values())


def test_with_time_clusters_gap_semantics(spark):
    rows = [("a", 0), ("b", 100_000), ("c", 221_000), ("d", 500_000)]
    df = spark.createDataFrame(rows, "id: string, ts_ms: long")
    out = {r["id"]: r["__cluster"] for r in with_time_clusters(df).collect()}
    # gaps: a→b 100s (≤120s, same), b→c 121s (>120s, new), c→d new
    assert out["a"] == out["b"]
    assert out["c"] != out["b"] and out["d"] != out["c"]


def test_auto_group_keeps_null_key_rows(spark):
    """Null key_cols values must not be dropped (pandas groupby dropna
    trap) — they form their own group, matching Spark groupBy semantics."""
    from ocr_auto_label_spark.operators.grouping import auto_group

    rows = [
        ("a", None, 0, "g1", "extracted", "red box", ["red"], None),
        ("b", None, 50_000, None, "pending_grouping", "red box", ["red"], None),
        ("c", "k1", 0, "g2", "extracted", "blue box", ["blue"], None),
        ("d", "k1", 50_000, None, "pending_grouping", "blue box", ["blue"], None),
    ]
    df = spark.createDataFrame(
        rows,
        "id string, user_id string, ts_ms long, group string, status string, "
        "desc string, colors array<string>, grouping_confidence double",
    )
    out = {r.id: r for r in auto_group(df, key_cols=["user_id"]).collect()}
    assert set(out) == {"a", "b", "c", "d"}  # nothing dropped
    assert out["b"].group == "g1" and out["b"].status == "auto_grouped"
    assert out["d"].group == "g2" and out["d"].status == "auto_grouped"


def test_sequential_fold_equals_global_oracle_on_rich_inputs():
    """The production fold (its pair-score memo over ``_text_tier`` and
    ``_color_part`` plus the inlined time decay) equals the reference
    algorithm on descriptions and palettes with mixed case, None and
    empty values, hex colours and intensity words, with timestamps dense
    enough that most targets see many candidates."""
    import random

    descs = [None, "", "red notebook cover", "RED notebook Cover", "blue pen",
             "red notebook cover photo", "x", "deep navy item", "light red thing"]
    palettes = [[], ["red"], ["Dark Red", "blue"], ["navy"], ["#FF0000"],
                ["crimson", "gold"], ["light blue", "grey"]]
    for seed in (17, 18, 19):
        rng = random.Random(seed)
        rows, t = [], 0
        for i in range(300):
            t += rng.randint(1, 60)
            labeled = rng.random() < 0.4
            rows.append({
                "id": f"r{i:04d}", "ts_ms": t * 1000,
                "group": f"G{rng.randint(0, 6)}" if labeled else None,
                "status": "extracted" if labeled else rng.choice(
                    ["pending_grouping", "invalid_group"]),
                "desc": rng.choice(descs), "colors": rng.choice(palettes),
                "grouping_confidence": 1.0 if labeled else None,
            })
        pdf = pd.DataFrame(rows)
        got = {
            r["id"]: (r["group"], r["status"], round(r["grouping_confidence"], 9))
            for r in sequential_group_cluster(pdf).to_dict("records")
        }
        assert got == _global_oracle(pdf), seed
        assert any(s == "auto_grouped" for _, s, _ in got.values())
        assert any(s == "ungrouped" for _, s, _ in got.values())

"""Sources and sinks (SURVEY.md §2.1).

- ``export_csv``: the metadata-export sink (S8, images.ts:688-863):
  ordered by ts, header on, nested columns serialized to JSON only at the
  boundary (X13/X15), summary JSON sidecar (A7).
- ``read_csv_multi``: the notebook's concat of N metadata CSVs (S9).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F


def export_csv(df: DataFrame, out_dir: str, order_cols: list[str] | None = None,
               single_file: bool = True) -> dict:
    """Ordered CSV export + export-summary.json sidecar (images.ts:822-831).

    ``single_file`` mirrors the reference's one-file export via
    coalesce(1) — correct for exports that a human consumes; leave False
    for large outputs so the write stays parallel.
    """
    from pyspark.sql import Observation

    order_cols = order_cols or ["ts"]
    out = df.orderBy(*order_cols)
    # serialize any array/struct columns to JSON at the boundary (X13)
    for name, dtype in out.dtypes:
        if dtype.startswith(("array", "struct", "map")):
            out = out.withColumn(name, F.to_json(F.col(name)))
    # the summary count rides the write as an observed metric — ONE scan
    # per export, instead of re-running the whole source plan for df.count()
    obs = Observation()
    out = out.observe(obs, F.count(F.lit(1)).alias("n"))
    if single_file:
        out = out.coalesce(1)
    out.write.mode("overwrite").option("header", True).csv(os.path.join(out_dir, "csv"))
    summary = {"totalImages": obs.get["n"]}
    with open(os.path.join(out_dir, "export-summary.json"), "w") as f:
        json.dump(summary, f)
    return summary


def read_csv_multi(spark: SparkSession, paths: list[str]) -> DataFrame:
    """pd.concat of N CSVs (rename_photos.ipynb cell 4) = multi-path scan
    + unionByName semantics (header inference per file)."""
    return spark.read.option("header", True).option("inferSchema", True).csv(paths)

"""Seeded benchmark inputs, built once per (size, seed) and cached.

Everything here is a pure function of its arguments: the transcript table
comes from ``datagen.transcripts_parquet``, the document table is derived
from it, and the extraction crash state is derived from a clean run's
output.  Every cache entry is written to a private temporary directory and
renamed into place, so a killed build never leaves a half-written entry.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from ocr_auto_label_spark.datagen import transcripts_parquet


def _publish(tmp: str, path: str) -> str:
    try:
        os.rename(tmp, path)
    except OSError:
        if not os.path.isdir(path):
            raise
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def documents(cache_dir: str, n_turns: int, seed: int, n_docs: int) -> str:
    """The first ``n_docs`` conversations of the transcript table, one
    document each: its turn texts joined by newlines in ``turn_idx`` order,
    ``doc_id`` numbered by ``conv_id`` order.  The generator's hot
    conversation (``conv-0000000``, 1/12 of all turns) becomes one large
    document.  A fixed document count keeps docs/s comparable across seeds,
    whose conversation counts differ."""
    path = os.path.join(cache_dir, f"documents_n{n_turns}_d{n_docs}_s{seed}.parquet")
    if os.path.isdir(path):
        return path
    turns = pq.read_table(
        transcripts_parquet(n_turns, seed, base_dir=cache_dir), columns=["conv_id", "turn_idx", "text"]
    ).to_pandas()
    turns = turns.sort_values(["conv_id", "turn_idx"], kind="stable")
    docs = (
        turns.groupby("conv_id", sort=True)["text"]
        .agg(lambda s: "\n".join(s.fillna("")))
        .reset_index(drop=True)
    )
    if len(docs) < n_docs:
        raise ValueError(f"seed {seed}: {len(docs)} conversations in {n_turns} turns, {n_docs} needed")
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(docs.iloc[:n_docs].tolist(), pa.string()),
    })
    tmp = f"{path}.tmp.{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    pq.write_table(table, os.path.join(tmp, "part-00000.parquet"))
    return _publish(tmp, path)


def crash_state(
    cache_dir: str,
    n_turns: int,
    seed: int,
    clean_output: str,
    clean_lineage: str,
    n_buckets: int,
    wave_size: int,
) -> str:
    """The extraction job's state after a crash between a wave's output
    write and its lineage append: lineage rows for buckets ``< n/2``,
    output for buckets ``< n/2 + wave_size`` (the crashed wave's buckets
    are written but unrecorded).  Derived from a clean run's output and
    lineage; returns a directory holding ``output/`` and ``lineage/``."""
    path = os.path.join(cache_dir, f"crash_n{n_turns}_s{seed}_b{n_buckets}_w{wave_size}")
    if os.path.isdir(path):
        return path
    half = n_buckets // 2
    tmp = f"{path}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.copytree(
        clean_output,
        os.path.join(tmp, "output"),
        ignore=lambda d, names: [
            n for n in names
            if n.startswith("part_bucket=") and int(n.split("=", 1)[1]) >= half + wave_size
        ],
    )
    lineage = pq.read_table(clean_lineage)
    kept = lineage.filter(pc.less(lineage["part_bucket"], half))
    os.makedirs(os.path.join(tmp, "lineage"))
    pq.write_table(kept, os.path.join(tmp, "lineage", "part-00000.parquet"))
    return _publish(tmp, path)


def restore(state_dir: str, output: str, lineage: str) -> None:
    """Reset ``output``/``lineage`` to a cached crash state."""
    for src, dst in ((os.path.join(state_dir, "output"), output),
                     (os.path.join(state_dir, "lineage"), lineage)):
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(src, dst)

"""Physical-shape helpers shared by the operator library."""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Guarantee at least ``min_partitions`` (default: cluster default
    parallelism) ahead of a CPU-dense stage.

    On a production-size table this is a **no-op**: the scan already
    yields ≥ one task per file/split, far above core count, and we never
    add a shuffle.  It only repartitions when the source is a small
    single-file table (tests / local benches), whose one scan task would
    otherwise serialize interpreted higher-order-function stages
    (shingling, minhash, cosine) on a single core.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: str | StructType
) -> DataFrame:
    """A small driver-side frame (``rows`` of tuples in ``schema`` order),
    built from an Arrow table.

    ``spark.createDataFrame(list)`` is an RDD scan whose plan statistics
    claim Long.MaxValue bytes, so the planner never broadcasts it and
    broadcasts the other side of a join instead.  An Arrow table below
    ``spark.sql.execution.arrow.localRelationThreshold`` becomes a
    ``LocalRelation`` sized rows × row width (0 B when empty)."""
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    return spark.createDataFrame(pa.table(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    ))

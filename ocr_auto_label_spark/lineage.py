"""Per-partition lineage + resume-from-checkpoint (north_rule).

Design (works identically on a 1000-executor cluster):

- The input is bucketed by ``part_bucket = pmod(xxhash64(conv_id),
  n_buckets)`` — a *deterministic* partition key, so the same rows land in
  the same bucket on every run regardless of file layout or parallelism.
- Buckets are processed in waves.  Each wave is one fully-distributed
  Spark action: filter to the wave's buckets → extract → rebalance on
  ``part_bucket`` → write output parquet ``partitionBy(part_bucket)`` with
  **dynamic partition overwrite** (idempotent per bucket).  The rebalance
  makes a wave write one file per bucket (plus one per skew split of a
  bucket above the advisory partition size), not one per input split per
  bucket.
- Write-then-verify: the wave's lineage is recomputed from the bytes on
  disk, reading only the wave's own ``part_bucket=b`` directories with the
  written schema pinned, so verifying a wave costs one wave's files, not
  the whole output written so far.  One lineage row per non-empty bucket
  ``(run_id, part_bucket, row_count, turns_with_label, candidate_count,
  hit_rate, checksum, status)`` is appended.
- On restart with the same ``run_id``, completed buckets are read from the
  lineage table and anti-joined away; a bucket whose output write died
  mid-flight has no lineage row and is simply rewritten (overwrite).
  Paths may be on any Hadoop filesystem (local, ``file://``, ``hdfs://``,
  ``s3a://``).
- ``checksum`` is an order-insensitive ``bit_xor(xxhash64(...))`` over the
  per-turn results, so two runs (any parallelism) can be compared
  bucket-for-bucket.

The reference analog is the status state machine + re-run reset
(upload.ts:881-902, images.ts:638-651) — re-expressed as set-based,
idempotent batch checkpoints instead of per-row DB mutations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ocr_auto_label_spark.plans.extraction_pipeline import extract_turns


def write_wave_output(result: DataFrame, output: str, output_format: str = "parquet") -> None:
    """S7 sink — idempotent per-bucket overwrite, two backends:

    - ``parquet`` (sandbox default): ``partitionBy(part_bucket)`` with
      dynamic partition overwrite (session.py sets
      ``partitionOverwriteMode=dynamic``) — only the wave's buckets are
      replaced.  A ``rebalance`` hint on ``part_bucket`` puts one hash
      Exchange between the extraction UDF and the write, so the wave
      writes one file per bucket: AQE packs small buckets into shared
      tasks and splits a bucket above the advisory partition size
      (``optimizeSkewsInRebalancePartitions``) into several files.
    - ``iceberg`` (catalog-conditional, reference S7 status-update
      semantics — upload.ts:904-926 / SURVEY §1.3): DataFrameWriterV2 —
      create the partitioned table on first write, then
      ``overwritePartitions()`` per wave.  Identical idempotence without
      MERGE because buckets are disjoint by construction.  Requires an
      Iceberg catalog on the session; this sandbox ships no Iceberg jars,
      so tests exercise the branch with the writer API mocked
      (tests/test_lineage.py) and skip the real write.
    """
    if output_format == "iceberg":
        spark = result.sparkSession
        if spark.catalog.tableExists(output):
            result.writeTo(output).overwritePartitions()
        else:
            (
                result.writeTo(output)
                .using("iceberg")
                .partitionedBy(F.col("part_bucket"))
                .create()
            )
    else:
        (
            result.hint("rebalance", "part_bucket")
            .write.mode("overwrite").partitionBy("part_bucket").parquet(output)
        )


def read_output(spark: SparkSession, output: str, output_format: str = "parquet") -> DataFrame:
    if output_format == "iceberg":
        return spark.read.table(output)
    return spark.read.parquet(output)


def _read_wave(
    spark: SparkSession, output: str, output_format: str, wave: list[int], schema: StructType
) -> DataFrame | None:
    """The wave's written rows, or None when none of its buckets holds a
    row.  Parquet opens only the wave's existing ``part_bucket=b``
    directories, with ``basePath`` set and the written schema pinned: no
    listing of earlier waves' output and no schema-inference job.  A
    bucket with no rows has no directory and is skipped."""
    if output_format == "iceberg":
        return read_output(spark, output, output_format).filter(F.col("part_bucket").isin(wave))
    paths = [f"{output}/part_bucket={b}" for b in wave]
    paths = [p for p in paths if _exists(spark, p)]
    if not paths:
        return None
    return spark.read.schema(schema).option("basePath", output).parquet(*paths)


def _exists(spark: SparkSession, path: str) -> bool:
    """``path`` exists on its Hadoop filesystem (local, file://, hdfs://,
    s3a://, ...)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath)


def with_part_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "part_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    )


def completed_buckets(spark: SparkSession, lineage_path: str, run_id: str) -> set[int]:
    if not _exists(spark, lineage_path):
        return set()
    rows = (
        spark.read.parquet(lineage_path)
        .filter((F.col("run_id") == run_id) & (F.col("status") == "complete"))
        .select("part_bucket").distinct().collect()
    )
    return {r.part_bucket for r in rows}


def _lineage_rows(result: DataFrame, run_id: str) -> DataFrame:
    """Aggregate per-bucket lineage from the extracted per-turn output."""
    return result.groupBy("part_bucket").agg(
        F.count(F.lit(1)).alias("row_count"),
        F.sum((F.size("candidates") > 0).cast("long")).alias("turns_with_label"),
        F.sum(F.size("candidates").cast("long")).alias("candidate_count"),
        F.expr(
            "bit_xor(xxhash64(conv_id, turn_idx, coalesce(extracted_text, '<null>'), "
            "coalesce(to_json(candidates), '[]')))"
        ).alias("checksum"),
    ).select(
        F.lit(run_id).alias("run_id"),
        "part_bucket",
        "row_count",
        "turns_with_label",
        F.col("candidate_count"),
        (F.col("turns_with_label") / F.col("row_count")).alias("hit_rate"),
        "checksum",
        F.lit("complete").alias("status"),
    )


def run_extraction_with_checkpoint(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    lineage_path: str,
    run_id: str,
    n_buckets: int = 64,
    wave_size: int = 32,
    input_format: str = "parquet",
    salt_partitions: int = 0,
    output_format: str = "parquet",
) -> dict:
    """Resumable flagship job.  Returns summary counters.

    ``salt_partitions > 0`` salted-repartitions each wave before the
    extraction UDF — for inputs whose files are clustered by conv_id
    (north_star hot-conversation skew); the default narrow path relies on
    the table's own file-split parallelism.  ``output_format='iceberg'``
    switches the sink to the catalog-conditional DataFrameWriterV2 path
    (see ``write_wave_output``)."""
    df = with_part_bucket(spark.read.format(input_format).load(input_path), n_buckets)
    done = completed_buckets(spark, lineage_path, run_id)
    todo = sorted(set(range(n_buckets)) - done)
    processed = 0
    for wave_start in range(0, len(todo), wave_size):
        wave = todo[wave_start:wave_start + wave_size]
        wave_df = df.filter(F.col("part_bucket").isin(wave))
        if salt_partitions:
            from ocr_auto_label_spark.plans.extraction_pipeline import salted_repartition

            wave_df = salted_repartition(wave_df, salt_partitions)
        result = extract_turns(wave_df)
        write_wave_output(result, output_path, output_format)
        # recompute lineage from what was written (write-then-verify)
        written = _read_wave(spark, output_path, output_format, wave, result.schema)
        if written is not None:
            _lineage_rows(written, run_id).write.mode("append").parquet(lineage_path)
        processed += len(wave)
    return {
        "run_id": run_id,
        "buckets_total": n_buckets,
        "buckets_resumed": len(done),
        "buckets_processed": processed,
    }

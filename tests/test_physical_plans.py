"""Physical-plan evidence tests (SURVEY.md §4.2): pushdown, pruning,
codegen, broadcast, and skew-spreading are real properties of the plans,
not aspirations."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    """F1-style predicate lands in the parquet scan's PushedFilters."""
    df = spark.read.parquet(f"{SF_DIR}/events.parquet").filter(
        F.col("event_type").isin("click", "purchase")
    )
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "In(event_type" in plan


def test_column_pruning_reaches_scan(spark):
    """F3: a 2-column projection reads a 2-column schema, not all columns."""
    df = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .filter(F.col("o_totalprice") > 150.0)
        .select("o_orderkey", "o_orderpriority")
    )
    plan = _plan(df)
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "o_orderkey" in read_schema and "o_orderpriority" in read_schema
    assert "o_custkey" not in read_schema and "o_orderdate" not in read_schema


def test_broadcast_join_for_small_dim(spark):
    """J5: the canonical-label-sized dim side broadcasts."""
    from ocr_auto_label_spark.operators.fuzzy_join import fuzzy_canonical_join

    probe = spark.createDataFrame(
        [(1, "MWI.0.1.4.10.15.7"), (2, "nope")], "code_id: int, code: string"
    )
    assert "Broadcast" in _plan(fuzzy_canonical_join(probe))


def test_whole_stage_codegen_and_partial_agg(spark):
    """Column-expression queries stay inside WholeStageCodegen spans and
    aggregate map-side first (partial_sum before the exchange).  AQE only
    reveals codegen in the final plan, so execute before inspecting."""
    df = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(F.sum("l_extendedprice").alias("revenue"))
    )
    assert "partial_sum" in _plan(df)  # map-side combine
    df.collect()
    final = _plan(df)
    assert "isFinalPlan=true" in final
    assert "*(1)" in final  # WholeStageCodegen span marker in simpleString


def test_salted_repartition_spreads_hot_conv(spark):
    """One hot conv_id (50% of rows) spreads across many partitions after
    salting, instead of landing in one."""
    from ocr_auto_label_spark.plans.extraction_pipeline import salted_repartition

    rows = [("hot", i) for i in range(2000)] + [(f"c{i}", i) for i in range(2000)]
    df = spark.createDataFrame(rows, "conv_id: string, turn_idx: int")
    parts = (
        salted_repartition(df, 16)
        .filter(F.col("conv_id") == "hot")
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count()
    )
    sizes = {r.pid: r["count"] for r in parts.collect()}
    assert len(sizes) >= 8          # hot conv occupies many partitions
    assert max(sizes.values()) < 2000 / 2  # no partition holds most of it


def test_minhash_signature_stage_computed_once(spark):
    """dedup: the explode-all-shingles + k-min signature aggregate (the
    dominant stage) is built once and shared — the final adaptive plan
    shows its exchange reused by the banding and estimate-prefilter
    consumers instead of recomputed per consumer."""
    from ocr_auto_label_spark.operators.dedup import minhash_lsh_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = minhash_lsh_dedup(docs, threshold=0.7)
    df.collect()
    final = _plan(df)
    assert "isFinalPlan=true" in final
    assert "ReusedExchange" in final


def test_extraction_stage_has_no_shuffle(spark):
    """The flagship narrow path: no Exchange between scan and the Arrow
    extraction projection."""
    from ocr_auto_label_spark.datagen import transcripts_parquet
    from ocr_auto_label_spark.plans.extraction_pipeline import extract_candidates_flat

    df = extract_candidates_flat(spark.read.parquet(transcripts_parquet(2_000)))
    plan = _plan(df)
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan


def test_extraction_sink_rebalances_on_part_bucket(spark, tmp_path):
    """The plan the parquet sink executes has exactly one Exchange: a hash
    Exchange on part_bucket between ArrowEvalPython and the file write,
    so a wave writes one file per bucket."""
    import re

    from ocr_auto_label_spark.datagen import transcripts_parquet
    from ocr_auto_label_spark.lineage import with_part_bucket, write_wave_output
    from ocr_auto_label_spark.plans.extraction_pipeline import extract_turns

    store = spark._jsparkSession.sharedState().statusStore()

    def execution_ids():
        execs = store.executionsList()
        return {execs.apply(i).executionId() for i in range(execs.size())}

    before = execution_ids()
    df = with_part_bucket(spark.read.parquet(transcripts_parquet(2_000)), 8)
    write_wave_output(extract_turns(df), str(tmp_path / "out"))
    plans = [store.execution(e).get().physicalPlanDescription()
             for e in sorted(execution_ids() - before)]
    writes = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p]
    assert len(writes) == 1
    tree, details = writes[0].split("\n\n", 1)
    final = tree.split("== Initial Plan ==")[0]
    assert final.count("Exchange (") == 1
    exchange = re.search(r"Exchange \((\d+)\)", final)
    python = re.search(r"ArrowEvalPython \((\d+)\)", final)
    write = final.index("InsertIntoHadoopFsRelationCommand")
    assert python is not None and write < exchange.start() < python.start()
    args = re.search(
        rf"\({exchange.group(1)}\) Exchange\n(?:.*\n)*?Arguments: (.*)", details
    ).group(1)
    assert args.startswith("hashpartitioning(part_bucket#"), args
    assert "BatchEvalPython" not in writes[0]


def test_ivf_index_probe_is_partition_pruned(spark, tmp_path):
    """A materialized IVF index read with an nprobe cell filter prunes at
    the partition level — the scan's partition filters carry ivf_cluster
    and results match brute force on the probed cells."""
    from ocr_auto_label_spark.operators.similarity import (
        ivf_probe_index,
        ivf_write_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = [float(v) for v in emb.filter(F.col("vec_id") == 0)
         .select("embedding").collect()[0].embedding]
    path = str(tmp_path / "ivf_index")
    centroids = ivf_write_index(emb, path, n_centroids=8)
    top = ivf_probe_index(spark, path, centroids, q, k=5, nprobe=2)
    plan = _plan(top)
    assert "PartitionFilters" in plan and "ivf_cluster" in plan.split("PartitionFilters")[1][:200]
    rows = top.collect()
    assert len(rows) == 5
    assert rows[0].cosine >= rows[-1].cosine


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Pre-bucketed tables joined on the bucket key need NO Exchange —
    the co-located-join strategy SCALE.md commits to for repeated big
    joins on conv_id-like keys."""
    import uuid

    name_a = f"b_turns_{uuid.uuid4().hex[:8]}"
    name_b = f"b_labels_{uuid.uuid4().hex[:8]}"
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # managed tables land in the session's spark-warehouse dir (static
    # conf); DROP TABLE below removes their data.  Disable auto-broadcast
    # so the demo exercises the sort-merge path a BIG-big join takes —
    # that's where bucketing removes the shuffle.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        (docs.select("doc_id", "lang").write.bucketBy(8, "doc_id")
         .sortBy("doc_id").format("parquet").saveAsTable(name_a))
        (docs.select("doc_id", "n_chars").write.bucketBy(8, "doc_id")
         .sortBy("doc_id").format("parquet").saveAsTable(name_b))
        joined = spark.table(name_a).join(spark.table(name_b), "doc_id")
        joined.collect()
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # no shuffle: co-located buckets
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {name_a}")
        spark.sql(f"DROP TABLE IF EXISTS {name_b}")


def test_token_scan_plan_prunes_and_stays_jvm_side(spark):
    """token_span_scan: the scan reads only the two needed columns and the
    whole regex/offset pipeline is JVM expressions (no Python surface of
    any kind in the plan)."""
    from ocr_auto_label_spark.entry_queries import build_queries

    df = build_queries()["token_span_scan"](spark, SF_DIR)
    plan = _plan(df)
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema
    assert "Python" not in plan  # no Arrow/batch eval at all: pure codegen ops


def test_resize_plan_is_narrow(spark):
    """The resize half of multimodal_resize_plan: metadata-only planning
    — no Exchange, no Python; one narrow pass over the scan.  (The
    entry's layout half legitimately aggregates/joins/windows — asserted
    separately below.)"""
    from ocr_auto_label_spark.operators.multimodal import resize_metadata
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.expr("cast(repeat('x', cast(doc_id % 50 + 1 as int)) as binary)").alias("payload"),
        F.struct(
            (F.lit(64) + (F.col("doc_id") * 37) % 3000).cast("int").alias("width"),
            (F.lit(64) + (F.col("doc_id") * 53) % 2000).cast("int").alias("height"),
            F.lit(0).cast("int").alias("duration_ms"),
            F.lit("jpeg").alias("codec"),
        ).alias("meta"),
    )
    plan = _plan(resize_metadata(media))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_layout_plan_shape(spark):
    """The layout half: exactly the expected wide steps (one aggregate
    for the chrome rule, one join back, one window) and zero Python —
    block counts are bounded per doc, so this is the plan you'd run at
    corpus scale."""
    from ocr_auto_label_spark.entry_queries import build_queries

    df = build_queries()["multimodal_resize_plan"](spark, SF_DIR)
    plan = _plan(df)
    assert "Python" not in plan
    assert "Window" in plan and "Join" in plan


def test_salted_repartition_balances_hot_conversation(spark):
    """The skew-bench claim at plan+distribution level: partitioning raw
    conv_id concentrates the hot conversation (conv 0 ≈ 8% of all turns)
    in one partition; salted_repartition spreads it to ≤ a few rows-per-
    partition multiple of even."""
    from ocr_auto_label_spark.datagen import transcripts_parquet
    from ocr_auto_label_spark.plans.extraction_pipeline import salted_repartition

    df = spark.read.parquet(transcripts_parquet(20_000))
    n = 16

    def max_partition_rows(d):
        sizes = d.rdd.glom().map(len).collect()
        assert len(sizes) == n
        return max(sizes)

    raw = max_partition_rows(df.repartition(n, "conv_id"))
    salted = max_partition_rows(salted_repartition(df, n))
    mean = 20_000 / n
    # measured: raw max ≈ 3114 (hot conv + hash collisions), salted max
    # ≈ 1695 (multinomial variance over (conv, salt) cells) vs mean 1250
    assert raw >= 20_000 // 12  # hot conv sits whole in one partition
    assert salted <= 1.5 * mean  # salting evens the distribution
    assert raw > 1.5 * salted


def test_ivfpq_probe_prunes_partitions_and_never_reads_vectors(spark, tmp_path):
    """The composed IVF-PQ probe: (1) PartitionFilters prune non-probed
    cells at file-listing level, (2) ReadSchema carries ONLY id+codes —
    the raw embedding column is not in the index at all, so a 10⁹-vector
    probe moves ~m bytes per surviving row."""
    from ocr_auto_label_spark.operators.similarity import (
        ivfpq_probe_index,
        ivfpq_write_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = [float(v) for v in emb.filter("vec_id = 0").collect()[0].embedding]
    path = str(tmp_path / "ivfpq")
    centroids, books = ivfpq_write_index(emb, path, n_centroids=8, m=8, k=16)

    probe = ivfpq_probe_index(spark, path, centroids, books, q, k=5, nprobe=2)
    rows = probe.collect()
    assert 0 < len(rows) <= 5
    plan = _plan(probe)
    assert "PartitionFilters" in plan and "ivf_cluster" in plan.split("PartitionFilters")[1][:200]
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "pq_code" in read_schema
    assert "embedding" not in read_schema
    assert "Python" not in plan


def test_aqe_splits_skewed_join_partition(spark):
    """SCALE §3 'AQE skew-join splitting is on globally' as a plan fact:
    a join with one hot key (90% of rows) gets its skewed partition split
    at runtime — the final adaptive plan shows SortMergeJoin(skew=true)
    over an 'AQEShuffleRead skewed'.  Thresholds are lowered so the
    test-sized input trips the same machinery production sizes would.
    Note: AQE declines to split when a downstream stage requires the
    join's output partitioning (e.g. an immediate groupBy on other keys)
    — the split applies to the join-then-narrow shape used here."""
    conf = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        left = spark.range(0, 60_000).select(
            F.when(F.col("id") % 10 < 9, F.lit("hot"))
            .otherwise(F.concat(F.lit("k"), (F.col("id") % 97).cast("string")))
            .alias("k"),
            F.expr("repeat('x', 200)").alias("pay"),
        )
        right = spark.createDataFrame(
            [("hot", 1)] + [(f"k{i}", i) for i in range(97)], "k: string, v: int"
        )
        j = left.join(right, "k").select(F.length("pay").alias("l"), "v")
        j.collect()
        plan = _plan(j)
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_sql_twin_broadcasts_canonical_dim_and_stays_jvm_side(spark):
    """The composed flagship SQL twin's physical plan: the 2000-row
    canonical VALUES dim joins via BroadcastHashJoin (a LocalRelation
    broadcast — the J6 shape that survives 10^12 probe rows), and the
    whole query stays JVM-side (no Python eval of any kind — the twin is
    the pure-SQL reformulation of the Arrow pipeline)."""
    from ocr_auto_label_spark.datagen import transcripts_parquet
    from ocr_auto_label_spark.functions.flagship_sql import flagship_twin_sql

    spark.read.parquet(transcripts_parquet(2_000)).createOrReplaceTempView(
        "__twin_plan_probe"
    )
    df = spark.sql(flagship_twin_sql("spark", "__twin_plan_probe"))
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan  # neither Batch- nor Arrow-: no Python


def test_pack_sequences_single_shuffle_jvm_side(spark):
    """Packing = exactly one Exchange (the shard-keyed window); the rest
    is narrow column math — no Python, no extra shuffle for pack_id."""
    from ocr_auto_label_spark.operators.packing import pack_sequences

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(pack_sequences(docs, 512))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_mixture_sample_single_shuffle_jvm_side(spark):
    """The returned sample plan = one Exchange (the group-keyed window)
    with the rank threshold folded in as a literal CASE — no second join
    against a keep-counts table."""
    from ocr_auto_label_spark.operators.sampling import mixture_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    weights = {f"src{i}": i + 1 for i in range(20)}
    plan = _plan(mixture_sample(docs, "source", weights))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_asof_join_is_windowed_not_joined(spark):
    """The as-of operator must compile to the union + ordered-window
    carry — ZERO Join nodes (the naive formulation is a range join that
    fans out left x right-within-window) and exactly two Exchanges:
    the right-side tie-break dedup and the window itself."""
    from ocr_auto_label_spark.operators.asof import asof_join

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(
        asof_join(
            ev.filter("event_type = 'purchase'")
            .select("event_id", "user_id", "ts"),
            ev.filter("event_type = 'click'"),
            on=["user_id"],
        )
    )
    assert "Join" not in plan and "Cartesian" not in plan
    assert plan.count("Exchange hashpartitioning") == 2
    assert "BatchEvalPython" not in plan


def test_bm25_filters_query_terms_before_the_tf_shuffle(spark):
    """The tf aggregation must touch only query-term rows: the isin
    filter sits below the exchange, so shuffle volume is O(query
    postings), not O(corpus tokens).  Everything stays JVM-side."""
    from ocr_auto_label_spark.operators.search import bm25_search

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(bm25_search(docs, ["merge", "spark", "window"]))
    assert "BatchEvalPython" not in plan and "Cartesian" not in plan
    # the filter appears as a scan-side predicate (term IN (...)),
    # i.e. before any Exchange consumes it
    assert plan.index("merge") < plan.index("Exchange")


def test_sketch_builds_are_single_pass_single_shuffle(spark):
    """CMS/Bloom/HLL builds: one tokenize+explode map pass feeding one
    map-side-combined aggregate — exactly one Exchange each, no Python,
    no joins."""
    from ocr_auto_label_spark.operators.sketch import (
        bloom_build,
        cms_build,
        hll_registers,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for build in (cms_build, bloom_build, hll_registers):
        plan = _plan(build(docs))
        assert plan.count("Exchange hashpartitioning") == 1, build.__name__
        assert "BatchEvalPython" not in plan, build.__name__
        assert "Join" not in plan, build.__name__


_TOKENIZER_NODES = {
    "StringSplit", "Lower", "StringTrim", "RegExpReplace", "ArrayFilter",
}


def _scala_list(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _per_call_tokenizers(df) -> list[str]:
    """Tokenizer nodes inside a lambda body that read a column of the
    row rather than a lambda variable: Spark evaluates those once per
    lambda call, so an n-gram transform re-splits the document per gram."""
    found: list[str] = []

    def reads_row(e) -> bool:
        return e.getClass().getSimpleName() == "AttributeReference" or any(
            reads_row(c) for c in _scala_list(e.children())
        )

    def walk(e, in_lambda: bool) -> None:
        name = e.getClass().getSimpleName()
        if in_lambda and name in _TOKENIZER_NODES and reads_row(e):
            found.append(e.toString())
            return
        if name == "LambdaFunction":
            walk(e.function(), True)
            return
        for c in _scala_list(e.children()):
            walk(c, in_lambda)

    def walk_plan(p) -> None:
        for e in _scala_list(p.expressions()):
            walk(e, False)
        for c in _scala_list(p.children()):
            walk_plan(c)

    walk_plan(df._jdf.queryExecution().optimizedPlan())
    return found


def _decontamination_report(spark, docs, tmp_path, monkeypatch):
    """The decontamination frame ``curate_corpus`` builds (and writes)."""
    from ocr_auto_label_spark.plans import curation_pipeline

    reports = []
    real = curation_pipeline.cross_split_contamination

    def capture(*args, **kwargs):
        reports.append(real(*args, **kwargs))
        return reports[-1]

    monkeypatch.setattr(curation_pipeline, "cross_split_contamination", capture)
    curation_pipeline.curate_corpus(
        spark, docs, str(tmp_path / "cur"), min_tokens=20,
        max_dup_word_frac=0.65,
    )
    return reports[0]


@pytest.mark.parametrize("op", [
    "cross_split_contamination", "duplicated_span_stats", "dsir_logweights",
    "repetition_stats", "remove_duplicated_spans", "minhash_word_shingles",
    "simhash_dedup", "curate_corpus_decontamination",
])
def test_tokenizers_run_once_per_row_not_per_lambda_call(
    spark, tmp_path, monkeypatch, op
):
    """Every n-gram, shingle and fingerprint builder tokenizes a row ONCE:
    no lambda body in the optimized plan re-evaluates a tokenizer over a
    row column (which made n-gram building quadratic in document length)."""
    from ocr_auto_label_spark.operators.dedup import (
        minhash_signatures,
        remove_duplicated_spans,
        simhash_dedup,
        word_shingles,
    )
    from ocr_auto_label_spark.operators.sampling import cross_split_contamination
    from ocr_auto_label_spark.operators.textstats import (
        dsir_logweights,
        duplicated_span_stats,
        repetition_stats,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = docs.withColumn(
        "split", F.when(F.col("doc_id") % 2 == 0, "train").otherwise("test")
    ).withColumn("conv_id", F.col("source")).withColumn("turn_idx", F.col("doc_id"))
    build = {
        "cross_split_contamination": lambda: cross_split_contamination(df),
        "duplicated_span_stats": lambda: duplicated_span_stats(df),
        "dsir_logweights": lambda: dsir_logweights(df, F.col("lang") == "en"),
        "repetition_stats": lambda: repetition_stats(df),
        "remove_duplicated_spans": lambda: remove_duplicated_spans(df, width=13),
        "minhash_word_shingles": lambda: minhash_signatures(
            df, shingle_fn=word_shingles
        ),
        "simhash_dedup": lambda: simhash_dedup(df),
        "curate_corpus_decontamination": lambda: _decontamination_report(
            spark, docs, tmp_path, monkeypatch
        ),
    }[op]
    assert _per_call_tokenizers(build()) == []

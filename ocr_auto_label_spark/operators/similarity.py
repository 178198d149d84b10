"""Similarity search over embedding columns (array<float>).

- ``dot_sql``/``norm_sql``: the one JVM-side cosine kernel (zip_with +
  aggregate, double accumulation) every scorer below is built from.
- ``brute_force_topk``: baseline exact top-k against one query vector
  (broadcast the query; one narrow pass + a single top-k sort).
- ``lsh_bucketed_topk``: the scale path — random-hyperplane signatures
  (deterministic planes derived from xxhash64, no RNG) shrink the
  candidate set before exact re-scoring.  At 10^9 vectors the bucket join
  touches ~rows/2^bits of the data per probe instead of all of it.
- ``cosine_neardup_pairs``: blocked pairwise near-duplicate detection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ocr_auto_label_spark.operators.util import ensure_parallelism, local_frame


def dot_sql(a: str, b: str) -> str:
    """SQL for the dot product of two array expressions, summed in order
    as doubles."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * y), 0D, (s, v) -> s + v)"


def norm_sql(a: str) -> str:
    """SQL for the L2 norm of an array expression, summed in order as
    doubles."""
    return f"sqrt(aggregate({a}, 0D, (s, v) -> s + cast(v as double) * v))"


def dot(a: str, b: str) -> Column:
    return F.expr(dot_sql(a, b))


def norm(a: str) -> Column:
    return F.expr(norm_sql(a))


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k by cosine against a literal query vector.

    The query is folded into the plan as a literal array (broadcast-free);
    the scan stays narrow and the only wide step is the global top-k
    (TakeOrderedAndProject — no full sort shuffle)."""
    qlit = "array({})".format(",".join(f"cast({float(v)!r} as double)" for v in query_vec))
    scored = ensure_parallelism(df).select(
        F.col(id_col),
        F.round(
            dot(vec_col, qlit) / (norm(vec_col) * norm(qlit)), round_digits
        ).alias("cosine"),
    )
    # ordering on the ROUNDED score keeps the top-k boundary stable across
    # engines with different float accumulation order
    return scored.orderBy(F.desc("cosine"), F.col(id_col)).limit(k)


def hyperplane_signature(vec_col: str, bits: int = 8, dim: int = 64) -> Column:
    """Deterministic random-hyperplane LSH signature (int in [0, 2^bits)).

    Plane p's component for dimension i is ±1 from bit parity of
    xxhash64(i, p) — derived, not sampled, so every run/cluster computes
    identical signatures."""
    plane_dot = dot_sql(
        vec_col,
        f"transform(sequence(0, {dim - 1}),"
        " i -> if(((xxhash64(i, p) >> 1) & 1) = 1, 1D, -1D))",
    )
    return F.expr(
        f"aggregate(sequence(0, {bits - 1}), cast(0 as int), (acc, p) -> "
        f"acc + shiftleft(cast(({plane_dot}) > 0 as int), p))"
    )


def lsh_bucketed_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    bits: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN: probe only the query's LSH bucket, exact-rescore inside it.

    Recall < 1 by construction (single-probe); the brute-force variant is
    the correctness baseline.  Bucket id is computable from the query on
    the driver via the same derived hyperplanes."""
    query_vec = [float(v) for v in query_vec]
    dim = len(query_vec)
    sig = hyperplane_signature(vec_col, bits, dim)
    # Query signature via one tiny Spark job using the exact same derived
    # planes (keeps the hash family in one place: the JVM expression).
    spark = df.sparkSession
    qdf = local_frame(spark, [(query_vec,)], f"{vec_col}: array<double>")
    qsig = qdf.select(hyperplane_signature(vec_col, bits, dim).alias("s")).collect()[0].s
    bucket = df.filter(sig == F.lit(qsig))
    return brute_force_topk(bucket, query_vec, k, vec_col, id_col)


def _pick_centroids(
    df: DataFrame,
    n_centroids: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, list[float]]]:
    """Deterministic pseudo-random centroid sample: the ``n_centroids``
    vectors with the smallest ``xxhash64(id)`` (ties → smallest id).  No
    RNG — the same centroids on every run and every cluster size, and the
    rule is SQL-expressible (the DuckDB oracle recomputes it bit-exactly
    via ``functions/xxh64_sql.xxh64_long8_stages``).  Bounded driver pull:
    ``n_centroids`` rows."""
    hashed = df.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"),
        F.xxhash64(F.col(id_col)).alias("h"),
    )
    rows = hashed.orderBy("h", "cid").limit(n_centroids).collect()
    return [(i, [float(x) for x in r.cv]) for i, r in enumerate(rows)]


def _centroid_struct_items(centroids: list[tuple[int, list[float]]]) -> str:
    """Literal ``named_struct`` array items for a centroid table folded
    into the plan (tiny k only — a large k belongs in a broadcast join)."""
    import math

    return ", ".join(
        "named_struct('c_id', {i}, 'c_vec', array({vals}), 'c_norm', cast({n!r} as double))"
        .format(
            i=i,
            vals=", ".join(f"cast({x!r} as double)" for x in v),
            n=math.sqrt(sum(x * x for x in v)),
        )
        for i, v in centroids
    )


def ivf_assign(
    df: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """IVF coarse quantizer: deterministic centroids + cluster assignment.

    Centroids are the ``n_centroids`` vectors with the smallest
    ``xxhash64(id)`` — a deterministic pseudo-random sample (no RNG, same
    centroids on every run/cluster).  Assignment is a broadcast join of
    the tiny centroid table + per-row argmax cosine — one narrow pass over
    the data, O(n_centroids) work per row.  Returns (df + ``ivf_cluster``,
    centroid list) — the build side of an IVF index; at 10^9 vectors the
    assignment is the only full-data pass and partitioning the output by
    ``ivf_cluster`` makes every probe a partition-pruned scan.
    """
    centroids = _pick_centroids(df, n_centroids, vec_col, id_col)
    # assignment is purely per-row, so fold the (tiny) centroid table into
    # the plan as a literal array and argmax with one narrow expression —
    # a cross join + ranking window would multiply the data n_centroids×
    # and shuffle it all just to keep one row per id
    cent_items = _centroid_struct_items(centroids)
    # strict > keeps the first (lowest c_id) on score ties — deterministic;
    # the epsilon keeps zero vectors at score 0 instead of NaN
    score = f"{dot_sql(vec_col, 'c.c_vec')} / (__ivf_vn * c.c_norm + 1e-300)"
    best = (
        f"aggregate(array({cent_items}), named_struct('s', cast(-2.0 as double), 'cid', -1), "
        f"(acc, c) -> if({score} > acc.s, named_struct('s', {score}, 'cid', c.c_id), acc)).cid"
    )
    assigned = (
        ensure_parallelism(df)
        .withColumn("__ivf_vn", norm(vec_col))
        .withColumn("ivf_cluster", F.expr(best))
        .drop("__ivf_vn")
    )
    return assigned, centroids


def _probe_cells(
    centroids: list[tuple[int, list[float]]], query_vec: list[float], nprobe: int
) -> list[int]:
    """The ``nprobe`` centroid ids nearest the query by cosine, picked on
    the driver (the centroid table is tiny)."""
    import numpy as np

    q = np.asarray([float(v) for v in query_vec])
    cmat = np.asarray([v for _, v in centroids])
    sims = (cmat @ q) / (np.linalg.norm(cmat, axis=1) * np.linalg.norm(q) + 1e-12)
    return [centroids[i][0] for i in np.argsort(-sims)[:nprobe]]


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN via IVF: probe the ``nprobe`` nearest centroid cells, exact
    re-score inside them.  Driver picks the probe cells with numpy (the
    centroid table is tiny); recall grows with nprobe (nprobe ==
    n_centroids is exhaustive = brute force)."""
    assigned, centroids = ivf_assign(df, n_centroids, vec_col, id_col)
    probes = _probe_cells(centroids, query_vec, nprobe)
    cell = assigned.filter(F.col("ivf_cluster").isin(probes))
    return brute_force_topk(cell, [float(v) for v in query_vec], k, vec_col, id_col)


def ivf_write_index(
    df: DataFrame,
    path: str,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, list[float]]]:
    """Materialize the IVF index: assign clusters, write parquet
    partitioned by ``ivf_cluster``.  A probe then reads ONLY its nprobe
    cells — partition pruning at the file-listing level, which is what
    makes IVF sub-linear at 10^9 vectors (asserted by a physical-plan
    test).  Returns the centroid list (store it with the index)."""
    assigned, centroids = ivf_assign(df, n_centroids, vec_col, id_col)
    assigned.write.mode("overwrite").partitionBy("ivf_cluster").parquet(path)
    return centroids


def ivf_probe_index(
    spark,
    path: str,
    centroids: list[tuple[int, list[float]]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k against a materialized IVF index: pick nprobe cells on the
    driver (tiny centroid table), scan only those partitions."""
    probes = _probe_cells(centroids, query_vec, nprobe)
    cell = spark.read.parquet(path).filter(F.col("ivf_cluster").isin(probes))
    return brute_force_topk(cell, [float(v) for v in query_vec], k, vec_col, id_col)


def cosine_neardup_pairs(
    df: DataFrame,
    block_cols: list[str],
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_block_cols: bool = False,
) -> DataFrame:
    """Blocked pairwise cosine near-dups: (id_a, id_b, cosine ≥ threshold).

    Blocking keys (e.g. a cluster label or LSH signature) keep the join
    equi-join-shaped; at scale pass ``hyperplane_signature`` as a block col."""
    # parallelism comes from the *probe* side: with the build side hash-
    # joined (broadcast for small dims), the pair/scoring stage inherits
    # the probe side's partitioning — so spread the probe, not the pairs
    # (repartitioning pairs would shuffle two vectors per pair).  Hot
    # blocks under a shuffle join are AQE skew-join territory.
    # per-row norms are computed ONCE before the join (each row joins into
    # ~cluster_size pairs — recomputing both norms per pair triples the
    # fold work); sqrt(agg(va))*sqrt(agg(vb)) is the exact same float
    # product either way, so results are bit-identical
    base = ensure_parallelism(df).select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm(vec_col).alias("n"),
    )
    a, b = base.alias("a"), base.alias("b")
    cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in block_cols]
    kept = [F.col(f"a.{c}").alias(c) for c in block_cols] if keep_block_cols else []
    pairs = (
        a.join(b, cond)
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            *kept,
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.v").alias("va"), F.col("b.v").alias("vb"),
            F.col("a.n").alias("na"), F.col("b.n").alias("nb"),
        )
    )
    cos = F.round(dot("va", "vb") / (F.col("na") * F.col("nb")), 6)
    return (
        pairs.select(*block_cols, "id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        if keep_block_cols
        else pairs.select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def semdedup_assign(
    df: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """SemDeDup stage 1 (Abbas et al. 2023, arXiv:2303.09540): cluster
    every embedding to its nearest centroid.

    Centroids come from the deterministic xxhash64 sample
    (``_pick_centroids``); assignment is argmax cosine over the literal
    centroid array — a single narrow pass, zero shuffles, O(k) work per
    row.  The score is ROUNDED to ``round_digits`` before the argmax so
    the winner is stable across engines/accumulation orders (the DuckDB
    oracle replays the argmax on ``round(list_cosine_similarity(..), 6)``);
    ties break to the lowest centroid id via first-match ``array_position``.

    Returns the input plus ``sd_cluster`` (int) and ``sd_cos`` (double,
    rounded similarity to the winning centroid).  At corpus scale pick
    k ≈ n/target_cluster_size.
    """
    centroids = _pick_centroids(df, n_centroids, vec_col, id_col)
    if not centroids:
        raise ValueError("semdedup_assign: input has no vectors to sample centroids from")
    cent_items = _centroid_struct_items(centroids)
    # scores array via transform (one dot per centroid), then argmax =
    # array_position-of-max: first occurrence wins → lowest c_id on ties,
    # and no operand duplication in the expression tree (an accumulate-if
    # fold would inline the dot twice and stall codegen at larger k)
    scores = (
        f"transform(array({cent_items}), c -> "
        f"round({dot_sql(vec_col, 'c.c_vec')} / (__sd_vn * c.c_norm), {round_digits}))"
    )
    return (
        ensure_parallelism(df)
        .withColumn("__sd_vn", norm(vec_col))
        .withColumn("__sd_scores", F.expr(scores))
        .withColumn("sd_cos", F.expr("array_max(__sd_scores)"))
        .withColumn(
            "sd_cluster",
            F.expr("cast(array_position(__sd_scores, sd_cos) - 1 as int)"),
        )
        .drop("__sd_vn", "__sd_scores")
    )


def semdedup(
    df: DataFrame,
    n_centroids: int = 16,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Semantic dedup, SemDeDup-shaped: cluster → within-cluster cosine
    pairs ≥ ``threshold`` → deterministic keep-lowest-id eviction.

    Returns ``(assign, pairs, evicted)``:

    - ``assign``: (id, sd_cluster, sd_cos) — every row's cluster.
    - ``pairs``: (sd_cluster, id_a, id_b, cosine) with id_a < id_b and
      cosine ≥ threshold, computed ONLY within a cluster (the blocking
      that makes semantic dedup sub-quadratic: k ≈ n/target_size bounds
      cluster sizes, so pair work is O(n · cluster_size), not O(n²)).
    - ``evicted``: distinct (sd_cluster, id) where id loses at least one
      pair — the pairwise keep-lowest-id policy (equal to the paper's
      one-per-ε-neighbourhood rule when ε-graphs are cliques, which high
      thresholds make near-universal; deterministic either way).

    All three share one assignment subtree; the pair stage is a blocked
    equi-join on ``sd_cluster`` (with tiny fixed k the join key is
    low-cardinality — at corpus scale k grows with n, restoring key
    cardinality; AQE skew-join covers hot clusters either way).
    """
    assigned = semdedup_assign(df, n_centroids, vec_col, id_col)
    assign = assigned.select(
        F.col(id_col), F.col("sd_cluster"), F.col("sd_cos")
    )
    pairs = cosine_neardup_pairs(
        assigned,
        block_cols=["sd_cluster"],
        threshold=threshold,
        vec_col=vec_col,
        id_col=id_col,
        keep_block_cols=True,
    )
    return assign, pairs, semdedup_evictions(pairs)


def semdedup_evictions(pairs: DataFrame) -> DataFrame:
    """Distinct (sd_cluster, id) losing at least one ``semdedup`` pair:
    the keep-lowest-id policy (``id_b`` is the larger id of a pair)."""
    return pairs.select("sd_cluster", F.col("id_b").alias("id")).distinct()


def pq_train(
    df: DataFrame,
    m: int = 4,
    k: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Product-quantization codebooks: ``m`` subspaces × ``k`` centroids.

    The compression layout for 10⁹-vector corpora: a dim-64 float vector
    (256 B) becomes ``m`` uint8 codes (4 B at m=4, 64×), and search runs
    over codes via per-subspace lookup tables (ADC) instead of touching
    raw vectors.  "Training" here is the same deterministic device as
    ``ivf_assign``: the ``k`` rows with the smallest ``xxhash64(id)`` are
    a pseudo-random sample whose subvectors become the centroids — no
    RNG, identical codebooks on every run/cluster.  Returns
    ``codebooks[sub][centroid] -> list[float]`` (store with the index)."""
    import math

    hashed = df.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"),
        F.xxhash64(F.col(id_col)).alias("h"),
    )
    rows = hashed.orderBy("h", "cid").limit(k).collect()
    sub = dim // m
    # L2-normalize sampled vectors: PQ quantizes the UNIT sphere so that
    # squared-L2 ADC ranking equals cosine ranking (||a-b||² = 2 - 2·cos
    # for unit vectors) — the same metric brute_force_topk uses exactly
    vecs = []
    for r in rows:
        v = [float(x) for x in r.cv]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        vecs.append([x / n for x in v])
    return [[v[s * sub:(s + 1) * sub] for v in vecs] for s in range(m)]


def _pq_code_expr(codebooks: list[list[list[float]]], nvec_col: str) -> str:
    """SQL array<int> over an ALREADY-NORMALIZED vector column: per
    subspace, distance array to the k centroids (array-of-arrays literal)
    then argmin via array_position-of-min — first occurrence wins on
    ties (deterministic), and each distance is evaluated exactly once
    (an if/accumulate argmin would double-evaluate it and the generated
    code bloats ~2× — at m=16·k=32 that was the difference between a
    codegen fallback stall and instant compile)."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    per_sub = []
    for s, book in enumerate(codebooks):
        cents = ", ".join(
            "array({})".format(", ".join(f"cast({x!r} as double)" for x in v))
            for v in book
        )
        subvec = f"slice({nvec_col}, {s * sub + 1}, {sub})"
        dists = (
            f"transform(array({cents}), c -> aggregate(zip_with({subvec}, c, "
            "(x, y) -> (x - y) * (x - y)), 0D, (a, v) -> a + v))"
        )
        per_sub.append(
            f"cast(array_position(d{s}, array_min(d{s})) - 1 as int)".replace(
                f"d{s}", f"({dists})"
            )
        )
    return "array(" + ", ".join(per_sub) + ")"


def _normalized_vec_expr(vec_col: str) -> str:
    return f"transform({vec_col}, x -> cast(x as double) / ({norm_sql(vec_col)} + 1e-300))"


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, pq_code array<int>) — the stored index rows.  One narrow
    JVM pass (codebooks folded in as literals, like the IVF centroids);
    the L2-normalization is projected ONCE into ``__nvec`` so the m
    subspace argmins slice a computed column instead of re-deriving the
    norm m times.  At scale this is the only full-data pass and the
    output (codes, not vectors) is what gets materialized."""
    normed = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.expr(_normalized_vec_expr(vec_col)).alias("__nvec"),
    )
    return normed.select(
        "id", F.expr(_pq_code_expr(codebooks, "__nvec")).alias("pq_code")
    )


def _adc_distance_sql(
    codebooks: list[list[list[float]]], query_vec: list[float]
) -> str:
    """SQL for the ADC approximate squared distance of ``pq_code`` to the
    unit-normalized query: Σ over subspaces of a driver-side lookup table
    of query↔centroid squared distances (m×k scalars)."""
    import numpy as np

    q = np.asarray([float(v) for v in query_vec])
    q = q / (np.linalg.norm(q) + 1e-300)  # unit sphere, like the codes
    m = len(codebooks)
    sub = len(codebooks[0][0])
    lut: list[float] = []
    for s, book in enumerate(codebooks):
        qs = q[s * sub:(s + 1) * sub]
        for cent in book:
            lut.append(float(np.sum((qs - np.asarray(cent)) ** 2)))
    kk = len(codebooks[0])
    lut_sql = "array({})".format(", ".join(f"cast({x!r} as double)" for x in lut))
    return (
        f"aggregate(sequence(0, {m - 1}), 0D, (a, s) -> "
        f"a + element_at({lut_sql}, s * {kk} + element_at(pq_code, s + 1) + 1))"
    )


def pq_topk(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC search: per-subspace LUT of query↔centroid squared distances
    (computed driver-side — m×k scalars), approx distance = Σ LUT[s][code
    s], top-k ascending.  Scans CODES only; recall < 1 by construction
    (the quantization error), brute_force_topk is the exact baseline.
    Output: (vec_id, approx_d2) — rounded for cross-run stability."""
    encoded = pq_encode(df, codebooks, vec_col, id_col)
    scored = encoded.select(
        F.col("id").alias(id_col),
        F.round(F.expr(_adc_distance_sql(codebooks, query_vec)), 6).alias("approx_d2"),
    )
    return scored.orderBy(F.asc("approx_d2"), F.col(id_col)).limit(k)


def ivfpq_write_index(
    df: DataFrame,
    path: str,
    n_centroids: int = 16,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[list[tuple[int, list[float]]], list[list[list[float]]]]:
    """IVF-PQ index (the composed 10⁹-vector layout): coarse-assign each
    vector to an IVF cell, quantize it to m PQ codes, store ONLY
    (id, pq_code) partitioned by ``ivf_cluster`` — raw vectors never
    enter the index.  A probe therefore skips non-probed cells at the
    file-listing level (partition pruning) AND reads ~m bytes per
    surviving row (codes, not the 256-byte vector) — both properties are
    asserted on the physical plan in tests.  Returns (centroids,
    codebooks); store both with the index."""
    assigned, centroids = ivf_assign(df, n_centroids, vec_col, id_col)
    codebooks = pq_train(df, m=m, k=k, vec_col=vec_col, id_col=id_col)
    coded = pq_encode(assigned, codebooks, vec_col, id_col).join(
        assigned.select(F.col(id_col).alias("id"), "ivf_cluster"), "id"
    )
    coded.write.mode("overwrite").partitionBy("ivf_cluster").parquet(path)
    return centroids, codebooks


def ivfpq_probe_index(
    spark,
    path: str,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k against a materialized IVF-PQ index: pick nprobe cells on
    the driver (tiny centroid table), scan only those partitions, rank by
    codes-only ADC distance.  Output: (vec_id, approx_d2)."""
    probes = _probe_cells(centroids, query_vec, nprobe)
    cells = spark.read.parquet(path).filter(F.col("ivf_cluster").isin(probes))
    scored = cells.select(
        F.col("id").alias(id_col),
        F.round(F.expr(_adc_distance_sql(codebooks, query_vec)), 6).alias("approx_d2"),
    )
    return scored.orderBy(F.asc("approx_d2"), F.col(id_col)).limit(k)

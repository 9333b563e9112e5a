"""Similarity search over embedding columns (extension surface).

The kNN family is one scoring core with interchangeable candidate
generators, built from private blocks that are each written once:
``_queries`` (the broadcast ``(q_id, q_vec, q_norm)`` block), ``_top_k``
(the per-query rank: score, then neighbour id — total, reproducible),
``_exact_top_k`` (the query block broadcast against the corpus on a
candidate predicate, self excluded, exact cosine, ``_top_k``),
``_nearest_cells`` (the IVF coarse probe), ``_adc_top_k`` (PQ
asymmetric distances looked up in a per-query table, ranked) and
``_recall_at_k`` (an approximate top-k judged against the exact one).

- :func:`knn_exact` (any query DataFrame) and :func:`knn_bruteforce`
  (queries ``vec_id < n_queries``): ``_exact_top_k`` with no predicate —
  the baseline and the verifier of every approximate path.
  :func:`knn_bruteforce_np` is its numpy-matmul twin, ranked by ``_top_k``.
- :func:`knn_lsh` / :func:`knn_lsh_multiprobe`: ``_lsh_top_k``, that is
  ``_exact_top_k`` on "same hyperplane bucket" for the query's own
  bucket, or also for its one-bit flips.
- :func:`knn_ivf` / :func:`probe_ivf`: ``_nearest_cells``, then
  ``_exact_top_k`` on "member of a probed cell".
- :func:`pq_search` / :func:`ivf_pq_search`: ``_adc_top_k`` over every
  code, or over the probed cells' codes.
- :func:`ann_recall`, :func:`ivf_pq_recall`, :func:`mrl_recall`:
  ``_recall_at_k`` of LSH, IVF-PQ and truncated-vector kNN against
  :func:`knn_bruteforce`.

Candidates are always re-scored exactly, so approximate paths lose
recall, never precision.  Dot products accumulate left-to-right in
DOUBLE (``F.aggregate`` fold, JVM codegen, no Python) — deterministic
for a fixed element order, which embeddings have.  A cosine with a
zero-norm side is NULL and ranks after every real cosine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from p2_mapreduce_spark.session import spread


def _dot(a: Column, b: Column) -> Column:
    """Sequential-fold double dot product of two array<float/double>."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def with_norm(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return embeddings.withColumn("norm", _norm(F.col(vec_col)))


# --- the kNN core ------------------------------------------------------------


def _cosine(a: Column, a_norm: Column, b: Column, b_norm: Column) -> Column:
    """Sequential-fold cosine.  A zero-norm side gives NULL rather than
    failing the job (ANSI DIVIDE_BY_ZERO); every other cosine is the same
    IEEE division."""
    return F.try_divide(_dot(a, b), a_norm * b_norm)


def _queries(rows: DataFrame, vec_col: str, id_col: str, *extra: Column) -> DataFrame:
    """The query block ``(q_id, q_vec, q_norm, *extra)`` of ``rows``."""
    return rows.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"), *extra,
    )


def _top_k(scored: DataFrame, k: int, order: Column, tie: str = "n_id") -> DataFrame:
    """Each query's first ``k`` rows of ``scored`` by ``order`` then
    ``tie`` (a total order, so ranks are reproducible), with their bigint
    ``rnk`` appended."""
    w = Window.partitionBy("q_id").orderBy(order, F.col(tie))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(*scored.columns, F.col("rnk").cast("bigint").alias("rnk"))
    )


def _exact_top_k(
    corpus: DataFrame, queries: DataFrame, k: int, vec_col: str, id_col: str,
    on: Column | None = None,
) -> DataFrame:
    """Exact cosine top-k ``(q_id, n_id, cosine, rnk)``: the ``corpus``
    rows (with ``norm``) that meet ``on``, self excluded, scored against
    the broadcast query block.  The corpus side never shuffles."""
    pair = F.col(id_col) != F.col("q_id")
    scored = corpus.join(F.broadcast(queries), pair if on is None else on & pair).select(
        "q_id",
        F.col(id_col).alias("n_id"),
        _cosine(F.col("q_vec"), F.col("q_norm"), F.col(vec_col), F.col("norm")).alias("cosine"),
    )
    return _top_k(scored, k, F.col("cosine").desc())


def knn_exact(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k cosine neighbours in ``embeddings`` of each row of
    ``queries`` (any subset of the embedding rows), self excluded:
    ``(q_id, n_id, cosine, rnk)``, ties broken by neighbour id.  The
    query block is broadcast against the corpus and each dot product
    folds with built-in higher-order functions (``zip_with`` /
    ``aggregate``).  Cost O(|corpus| × |queries| × dim); the corpus side
    never shuffles, so it scales horizontally."""
    # spread(): corpus-side dots run in the scan stage (guide §2 —
    # one parquet split at test scale would serialize them on one core)
    corpus = with_norm(spread(embeddings), vec_col)
    return _exact_top_k(corpus, _queries(queries, vec_col, id_col), k, vec_col, id_col)


def knn_bruteforce(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """:func:`knn_exact` for the first ``n_queries`` vectors
    (deterministic query set: ``vec_id < n_queries``)."""
    return knn_exact(
        embeddings, embeddings.filter(F.col(id_col) < n_queries), k, vec_col, id_col
    )


def cosine_near_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the semantic-dedup op):
    LSH-bucket self-join (candidates share all ``n_planes`` sign bits —
    high-cosine pairs almost always do) + exact cosine verification.
    Probabilistic recall / exact precision, like minhash_lsh_pairs."""
    # spread(): norms + n_planes sign dots per corpus row run pre-exchange
    bucketed = add_lsh_bucket(with_norm(spread(embeddings), vec_col), n_planes, vec_col)
    a = bucketed.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"),
        F.col("norm").alias("norm_a"), F.col("bucket").alias("bucket_a"),
    )
    b = bucketed.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"),
        F.col("norm").alias("norm_b"), F.col("bucket").alias("bucket_b"),
    )
    return (
        a.join(b, (F.col("bucket_a") == F.col("bucket_b")) & (F.col("id_a") < F.col("id_b")))
        .withColumn(
            "cosine", _dot(F.col("vec_a"), F.col("vec_b")) / (F.col("norm_a") * F.col("norm_b"))
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# --- LSH bucketing (scale path) --------------------------------------------


def _hyperplane_sign(vec: Column, plane: int) -> Column:
    """Sign bit of <vec, h_plane> where h_plane's components are ±1 derived
    from xxhash64(plane, dim) — a fixed, seedable hyperplane family needing
    no stored model."""
    signed = F.zip_with(
        vec,
        F.transform(
            F.sequence(F.lit(0), F.size(vec) - 1),
            lambda d: (F.pmod(F.xxhash64(F.lit(plane), d), F.lit(2)) * 2 - 1).cast("double"),
        ),
        lambda x, s: x.cast("double") * s,
    )
    total = F.aggregate(signed, F.lit(0.0), lambda acc, x: acc + x)
    return (total > 0).cast("int")


def add_lsh_bucket(
    embeddings: DataFrame, n_planes: int = 8, vec_col: str = "embedding"
) -> DataFrame:
    """Append a ``bucket`` int column = the n_planes-bit sign pattern.
    2^n_planes buckets; at 100 TB partition-by-bucket gives data-local
    candidate search."""
    bucket = F.lit(0)
    for p in range(n_planes):
        bucket = bucket + F.shiftleft(_hyperplane_sign(F.col(vec_col), p).cast("long"), p)
    return embeddings.withColumn("bucket", bucket)


def knn_bruteforce_np(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quantize: float | None = None,
) -> DataFrame:
    """Vectorized twin of :func:`knn_bruteforce`: the query block is
    collected once (tiny), broadcast inside an Arrow-batched
    ``mapInPandas``, and each corpus batch scores against ALL queries with
    one numpy matmul — the BLAS path that wins when dim × queries is
    large enough to amortize the Python hop.  Top-k is still the JVM
    window (distributed).  Cosines differ from the HOF fold only by
    float-summation order (~1e-15); pytest pins the match at 1e-9.

    ``quantize`` (e.g. 1e6) replaces the raw cosine with
    ``cos_q = floor(cosine·quantize)`` and ranks on (cos_q, n_id): the
    BLAS summation order then cannot influence the output at all (any
    engine's correctly-rounded cosine floors to the same grid cell), so
    the result is hash-comparable across engines — the driver-checkable
    form of a kernel whose raw floats are summation-order-dependent."""
    import numpy as np
    import pandas as pd

    q_rows = (
        embeddings.filter(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("q_id"), vec_col)
        .collect()
    )
    schema = "q_id long, n_id long, cosine double"
    if not q_rows:  # no query block to broadcast: nothing to score
        scored = embeddings.sparkSession.createDataFrame([], schema)
    else:
        q_ids = np.array([r["q_id"] for r in q_rows], dtype=np.int64)
        q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
        q_norm = np.linalg.norm(q_mat, axis=1)

        def score(batches):
            for pdf in batches:
                n_mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                n_ids = pdf[id_col].to_numpy(dtype=np.int64)
                n_norm = np.linalg.norm(n_mat, axis=1)
                cos = (n_mat @ q_mat.T) / np.outer(n_norm, q_norm)
                n_rep = np.repeat(n_ids, len(q_ids))
                q_rep = np.tile(q_ids, len(n_ids))
                yield pd.DataFrame(
                    {"q_id": q_rep, "n_id": n_rep, "cosine": cos.ravel()}
                )[q_rep != n_rep]

        scored = embeddings.select(id_col, vec_col).mapInPandas(score, schema=schema)
    if quantize is not None:
        scored = scored.select(
            "q_id",
            "n_id",
            F.floor(F.col("cosine") * F.lit(float(quantize))).cast("bigint").alias("cos_q"),
        )
        return _top_k(scored, k, F.col("cos_q").desc())
    return _top_k(scored, k, F.col("cosine").desc())


def build_ivf_cells(
    embeddings: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: (centroids, assignments).

    Centroids are a deterministic pseudo-random sample — the ``n_cells``
    vectors with the lexicographically smallest ``md5(id)`` (stable
    across runs and partitionings; no RNG state; md5 rather than xxhash64
    so the oracle engine derives the identical sample — both are uniform
    samplers.  No Lloyd iterations here — production IVF would refine
    with k-means (:func:`refine_cells`), which only improves cell
    balance, not the operator's plan shape).  Assignment is a broadcast
    cross-score + per-vector argmax: one pass over the corpus, centroids
    broadcast."""
    emb_n = with_norm(embeddings, vec_col)
    cents = (
        emb_n.withColumn("h", F.md5(F.col(id_col).cast("string")))
        .orderBy("h", id_col)
        .limit(n_cells)
        .select(F.col(id_col).alias("seed_id"), F.col(vec_col).alias("c_vec"),
                F.col("norm").alias("c_norm"))
    )
    # n_cells rows: the single-partition window is fine
    cents = cents.withColumn(
        "cell", F.row_number().over(Window.orderBy("seed_id")).cast("int") - 1
    )
    assign = _assign_cells(emb_n, cents, vec_col, id_col).drop("c_sim")
    return cents, assign


def _assign_cells(emb_n: DataFrame, cents: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """argmax-cosine assignment of each vector to a centroid: broadcast
    cross-score + per-vector top-1 window.  One pass over the corpus."""
    scored = emb_n.crossJoin(F.broadcast(cents)).withColumn(
        "c_sim", _cosine(F.col(vec_col), F.col("norm"), F.col("c_vec"), F.col("c_norm"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("c_sim").desc(), "cell")
    return (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(id_col, vec_col, "norm", "cell", "c_sim")
    )


def refine_cells(
    embeddings: DataFrame,
    cents: DataFrame,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Spherical k-means (Lloyd) refinement of the IVF coarse quantizer:
    alternate argmax-cosine assignment and normalized-mean centroid
    update.  Each step is monotone in the spherical k-means objective
    (Σ max-cosine), so a couple of iterations strictly improve cell
    balance/recall over the seeded centroids — the production index-build
    step between sampling and serving.

    Scale shape per iteration: one broadcast cross-score pass (the corpus
    never shuffles) + one posexplode aggregate of dim×n rows partial-
    aggregated to #cells×dim — both linear; ``localCheckpoint`` truncates
    the loop's lineage.  Per-dim means use the exact-decimal protocol so
    centroids are identical under any partitioning (a raw double mean
    could flip a borderline assignment between runs).  Cells that lose
    all members drop out (standard k-means behavior)."""
    emb_n = with_norm(embeddings, vec_col)
    cents = cents.select("cell", "c_vec", "c_norm")
    for _ in range(iters):
        assign = _assign_cells(emb_n, cents, vec_col, id_col)
        per_dim = (
            assign.select("cell", F.posexplode(vec_col).alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(
                (
                    F.sum(F.col("val").cast("string").cast("decimal(38,18)"))
                    .cast("string")
                    .cast("double")
                    / F.count(F.lit(1))
                ).alias("m")
            )
        )
        cents = (
            per_dim.groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("c_vec")
            )
            .select("cell", "c_vec", _norm(F.col("c_vec")).alias("c_norm"))
            .localCheckpoint()
        )
    return cents


def knn_ivf(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k via IVF: probe only the ``nprobe`` cells whose
    centroids are nearest the query, re-score those candidates exactly.
    Probe cost ≈ (nprobe/n_cells) of the corpus; recall < 1 by
    construction (rows-only in the driver check; precision + recall
    measured against :func:`knn_bruteforce` in pytest).  At 100 TB the
    assignment table is written bucketed by cell so a probe is a
    partition-pruned scan, not a shuffle."""
    cents, assign = build_ivf_cells(embeddings, n_cells, vec_col, id_col)
    queries = _queries(embeddings.filter(F.col(id_col) < n_queries), vec_col, id_col)
    return probe_ivf(cents, assign, queries, k, nprobe, vec_col, id_col)


def _nearest_cells(queries: DataFrame, cents: DataFrame, nprobe: int) -> DataFrame:
    """The IVF coarse probe: each query's ``nprobe`` nearest centroids by
    cosine, ties to the lower cell, as ``(q_id, q_vec, q_norm, probe)``.
    n_queries × n_cells rows, centroids broadcast."""
    sims = queries.crossJoin(F.broadcast(cents)).select(
        "q_id", "q_vec", "q_norm", F.col("cell").alias("probe"),
        _cosine(F.col("q_vec"), F.col("q_norm"), F.col("c_vec"), F.col("c_norm")).alias("c_sim"),
    )
    return _top_k(sims, nprobe, F.col("c_sim").desc(), tie="probe").drop("c_sim", "rnk")


def probe_ivf(
    cents: DataFrame,
    assign: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    prune_cells: bool = False,
) -> DataFrame:
    """The probe half of IVF search, reusable against a live OR persisted
    index.  ``queries`` is ``(q_id, q_vec, q_norm)``.

    ``prune_cells=True`` is the serving path: collect the ≤ n_cells probed
    cell ids (config-sized, NOT data-sized — this is not a data collect)
    and filter the assignment scan with ``isin`` so a cell-partitioned
    on-disk index (save_ivf_index) is read with partition pruning — only
    the probed cells' files are touched.  Leave False for large batch
    query sets where most cells get probed anyway."""
    probes = _nearest_cells(queries, cents, nprobe)
    if prune_cells:
        cells = [r["probe"] for r in probes.select("probe").distinct().collect()]
        assign = assign.filter(F.col("cell").isin(cells))
    return _exact_top_k(assign, probes, k, vec_col, id_col, F.col("cell") == F.col("probe"))


def save_ivf_index(cents: DataFrame, assign: DataFrame, root: str) -> None:
    """Persist an IVF index: centroids as one small parquet, assignments
    PARTITIONED BY cell — the on-disk layout that makes a pruned probe
    (probe_ivf(prune_cells=True)) read only the probed cells' files.
    Build once per corpus snapshot; probe many times."""
    cents.write.mode("overwrite").parquet(f"{root}/centroids")
    assign.write.mode("overwrite").partitionBy("cell").parquet(f"{root}/assignments")


def load_ivf_index(spark, root: str) -> tuple[DataFrame, DataFrame]:
    return (
        spark.read.parquet(f"{root}/centroids"),
        spark.read.parquet(f"{root}/assignments"),
    )


def vector_norms(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-vector L2 norm + dimensionality — the normalize-before-index
    primitive every ANN path needs.  Pure per-row codegen (``F.aggregate``
    fold over the array): no explode, no shuffle, embarrassingly parallel
    at any scale.  The fold accumulates in DOUBLE in array order — a fixed
    sequence of correctly-rounded IEEE ops, so the value is deterministic
    and matches DuckDB's ``list_dot_product`` exactly."""
    return embeddings.select(
        "vec_id",
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col))).alias("l2_norm"),
        F.size(vec_col).cast("bigint").alias("dim"),
    )


def embedding_quantize_stats(
    embeddings: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Int8 scalar quantization (absmax): per-vector scale plus summary
    stats of the quantized codes — the compression step before an ANN
    index ships to serving.  q_i = floor(x_i / absmax * 127): floor (not
    round) because round's half-way rule differs across engines while
    floor is IEEE-exact; absmax and the division/multiply are all double —
    one deterministic expression per element, no shuffle, no Python.
    Summary stats (not the code array itself) keep the result hashable
    cross-engine; the full array form is the same transform un-aggregated."""
    xs = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(xs, F.abs))
    q = F.transform(F.col("xs"), lambda x: F.floor(x / F.col("scale") * 127))
    return (
        embeddings.select("vec_id", xs.alias("xs"), scale.alias("scale"))
        .where(F.col("scale") > 0)
        .select(
            "vec_id",
            "scale",
            F.aggregate(q, F.lit(0).cast("bigint"), lambda a, b: a + b).alias("q_sum"),
            F.array_min(q).alias("q_min"),
            F.array_max(q).alias("q_max"),
            F.size(F.filter(q, lambda v: v == 0)).alias("n_zero"),
        )
    )


def embedding_centroid(
    embeddings: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension mean over the whole corpus — the vector-aggregation
    primitive (k-means centroid update, corpus drift monitoring).

    posexplode → groupBy(pos) turns an array aggregation Spark lacks into
    a plain distributed agg: dim × n_rows value rows, partial-aggregated
    map-side to dim rows per partition.  The sum runs over an exact
    decimal so the mean is order-independent (reproducible under any
    partitioning); a raw double sum would drift per shuffle order.  The
    float→decimal cast goes THROUGH THE FLOAT'S STRING FORM: engines
    disagree on float→decimal directly (exact binary expansion vs
    shortest round-trip repr), but the shortest string repr is canonical
    everywhere."""
    exploded = embeddings.select(
        F.posexplode(vec_col).alias("pos", "val")
    )
    dec = F.col("val").cast("string").cast("decimal(38,18)")
    # the wide-decimal -> double conversion also goes through the string
    # form: engines differ by 1 ulp converting an 18-scale decimal
    # directly, but strtod of its exact digits is correctly rounded
    # everywhere; the final /n is then one IEEE division.
    return (
        exploded.groupBy("pos")
        .agg(
            (F.sum(dec).cast("string").cast("double") / F.count(F.lit(1))).alias(
                "mean_val"
            ),
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


def _lsh_top_k(
    embeddings: DataFrame, n_queries: int, k: int, n_planes: int,
    vec_col: str, id_col: str, masks: list[int],
) -> DataFrame:
    """Random-hyperplane LSH top-k: every vector carries the sign pattern
    of ``n_planes`` seeded hyperplanes as its bucket
    (:func:`add_lsh_bucket`), and each query is re-scored exactly against
    the buckets ``query bucket XOR mask`` for each of ``masks``.

    The query side explodes into its probe set (``len(masks)`` rows per
    query — config-sized, still broadcast), so the plan stays an
    equi-join instead of a non-equi bucket-neighbourhood predicate.
    Distinct masks give distinct probes, so no candidate dedup is
    needed."""
    # spread(): norms + n_planes sign dots per corpus row run pre-exchange
    bucketed = add_lsh_bucket(with_norm(spread(embeddings), vec_col), n_planes, vec_col)
    probes = F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])
    queries = _queries(
        bucketed.filter(F.col(id_col) < n_queries), vec_col, id_col,
        F.explode(probes).alias("probe"),
    )
    return _exact_top_k(
        bucketed, queries, k, vec_col, id_col, F.col("bucket") == F.col("probe")
    )


def knn_lsh(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    n_planes: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: exact re-scoring restricted to the query's LSH
    bucket.  Sub-linear probe cost at the price of recall; rows-only in
    the driver check, recall measured against :func:`knn_bruteforce` in
    pytest."""
    return _lsh_top_k(embeddings, n_queries, k, n_planes, vec_col, id_col, [0])


def gram_matrix(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    scale_bits: int = 20,
) -> DataFrame:
    """Distributed Gram / scatter matrix ``S[i,j] = Σ_n x_n[i]·x_n[j]`` —
    the X^T X building block of PCA/whitening at corpus scale: S is d×d
    (tiny) however many rows X has, so the eigensolve happens driver-side
    on KBs while the data never leaves the executors.

    Scale shape: the upper-triangle products are generated per row as a
    pure array expression (no join, no explode-then-self-join — that
    would shuffle N·d² rows); the only shuffle is the (i,j)-grain
    partial→final SUM, i.e. d(d+1)/2 keys × partitions, independent of N.

    Exactness (the repo's fixed-point discipline, cf. ``pagerank``):
    components quantize to ``floor(x·2^scale_bits)`` BIGINTs (floor and
    the float→double widening are IEEE-identical in any engine), products
    and sums stay in exact integer DECIMAL(38,0) — order-independent
    under any partitioning/AQE re-plan — and ONE double division by
    2^(2·scale_bits) at the surface. Quantization error is bounded by
    2^-scale_bits per component, which is the documented trade for a
    bit-reproducible, oracle-checkable matrix."""
    q = F.expr(
        f"transform({vec_col}, x -> "
        f"cast(floor(cast(x as double) * {1 << scale_bits}) as bigint))"
    )
    pairs = F.expr(
        "flatten(transform(qarr, (xi, i) -> "
        "transform(slice(qarr, i + 1, size(qarr) - i), (xj, j) -> "
        "struct(i AS i, i + j AS j, xi * xj AS p))))"
    )
    return (
        # spread(): the d(d+1)/2-per-row product generation is the
        # heaviest interpreted-HOF stage in the suite — serializing it
        # on one scan partition costs ~N·d²/2 lambda calls on one core
        spread(embeddings).select(q.alias("qarr"))
        .select(F.explode(pairs).alias("e"))
        .select(
            F.col("e.i").cast("bigint").alias("i"),
            F.col("e.j").cast("bigint").alias("j"),
            F.col("e.p").cast("decimal(38,0)").alias("p"),
        )
        .groupBy("i", "j")
        .agg(
            (
                F.sum("p").cast("double") / float(1 << (2 * scale_bits))
            ).alias("gram")
        )
    )


def semantic_dedup(
    embeddings: DataFrame,
    tau: float = 0.8,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023): coarse
    k-means-like cells, then within each cell drop every vector whose
    cosine to a LOWER-ID cellmate exceeds ``tau`` — ``(vec_id, cell,
    dropped)``.

    This is the dominator variant (v is dropped if ANY earlier cellmate
    is within ``tau``, whether or not that cellmate itself survives):
    a single self-join pass, deterministic under any partitioning, and
    at most as aggressive as the greedy chain — the standard large-scale
    simplification.

    Scale shape: cells come from :func:`build_ivf_cells` (broadcast
    centroids, one corpus pass); the candidate join is WITHIN-CELL only,
    so the quadratic term is bounded by the largest cell, not the corpus
    — at 100 TB you raise ``n_cells`` so cells stay ~1e4-1e5 vectors
    (production SemDeDup uses tens of thousands of clusters), and
    :func:`refine_cells` balances them.  The dedup election itself is a
    semi-join-shaped aggregate: ``bool_or`` over candidates at the
    victim's grain.

    Reference seed: none (extension per BASELINE.json — embedding-space
    dedup for training corpora).
    """
    _, assign = build_ivf_cells(embeddings, n_cells, vec_col, id_col)
    a = assign.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        F.col("norm").alias("norm_a"),
        F.col("cell").alias("cell"),
    )
    b = assign.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        F.col("norm").alias("norm_b"),
        F.col("cell").alias("cell"),
    )
    dominated = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            _dot(F.col("vec_a"), F.col("vec_b"))
            / (F.col("norm_a") * F.col("norm_b"))
            > F.lit(float(tau))
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("__dom", F.lit(True))
    )
    return (
        assign.join(dominated, id_col, "left")
        .select(
            id_col,
            "cell",
            F.coalesce(F.col("__dom"), F.lit(False)).alias("dropped"),
        )
    )


def _subspace(vec: Column, m: int) -> Column:
    """Slice ``s`` of ``vec`` cut into ``m`` equal subspaces.  The width
    ``size(vec) div m`` is derived per row, so any vector length works."""
    width = F.call_function("div", F.size(vec), F.lit(m)).cast("int")
    return F.slice(vec, F.col("s") * width + 1, width)


def _sq_dist(x: Column) -> Column:
    """Squared L2 distance from subvector ``x`` to the codebook row's
    ``cv`` in the pinned tree ``(x·x − 2·x·cv) + cc`` — sequential-fold
    dots, so the value is bit-identical cross-engine."""
    return (_dot(x, x) - F.lit(2.0) * _dot(x, F.col("cv"))) + F.col("cc")


def _pq_codebook(
    emb: DataFrame, m: int, k: int, vec_col: str, id_col: str
) -> DataFrame:
    """The shared PQ sub-codebook ``(s, cell, cv, cc)``: sub-codebook c
    of subspace s = the s-th slice of the md5-seeded sample's c-th
    vector, with squared norms (``cc``) precomputed.  m·k rows —
    broadcast-sized by construction.  Extracted so pq_encode, pq_search
    and ivf_pq_search derive the IDENTICAL codebook (and so does the SQL
    oracle)."""
    seeds = (
        emb.withColumn("h", F.md5(F.col(id_col).cast("string")))
        .orderBy("h", id_col)
        .limit(k)
        .select(F.col(id_col).alias("seed_id"), F.col(vec_col).alias("c_vec"))
    )
    seeds = seeds.withColumn(
        "cell",
        F.row_number().over(Window.orderBy("seed_id")).cast("bigint") - 1,
    )
    subspaces = emb.sparkSession.range(m).select(
        F.col("id").cast("int").alias("s")
    )
    return (
        seeds.crossJoin(F.broadcast(subspaces))
        .select("s", "cell", _subspace(F.col("c_vec"), m).alias("cv"))
        .withColumn("cc", _dot(F.col("cv"), F.col("cv")))
    )


def pq_encode(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Product quantization (Jégou et al., 2011): split each vector into
    ``m`` subspaces, quantize each against a ``k``-entry sub-codebook,
    and emit per-vector codes + reconstruction error — ``(vec_id, c0..
    c{m-1}, recon_err)``.  PQ is the compression layer under IVF-PQ ANN:
    ``m``·log2(k) bits per vector instead of ``dim``·32, with asymmetric
    distances computed code-table-side.

    Codebooks reuse the md5-seeded deterministic sample device of
    :func:`build_ivf_cells` (sub-codebook c of subspace s = the s-th
    slice of seed c): no RNG, reproducible, and — the point for this
    engine — derivable bit-for-bit by the SQL oracle.  (Production PQ
    would Lloyd-refine each sub-codebook exactly like
    :func:`refine_cells`; the plan shape is unchanged.)

    Plan shape: the codebook table is m·k rows → broadcast; the encode
    expands each vector to m·k scored rows and elects the argmin with a
    row_number window on (vec, subspace) — ONE shuffle at corpus×m·k
    grain, the same contract as the IVF assignment (at 100 TB: encode in
    the ingest pipeline once, store codes).  dist² = (x·x − 2·x·c) + c·c
    — three sequential-fold dots in a pinned tree, ties broken by code
    id, so codes and errors are bit-identical cross-engine.
    """
    emb = embeddings.select(id_col, vec_col)
    cents = _pq_codebook(emb, m, k, vec_col, id_col)
    scored = (
        # spread(): the corpus×(m·k) scored expansion runs in the scan
        # stage — one parquet split would serialize all its dots
        spread(emb).crossJoin(F.broadcast(cents))
        .withColumn("xs", _subspace(F.col(vec_col), m))
        .withColumn("dist2", _sq_dist(F.col("xs")))
    )
    w = Window.partitionBy(id_col, "s").orderBy("dist2", "cell")
    best = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    aggs = []
    for i in range(m):
        aggs.append(
            F.max(F.when(F.col("s") == i, F.col("cell")))
            .cast("bigint")
            .alias(f"c{i}")
        )
        aggs.append(
            F.max(F.when(F.col("s") == i, F.col("dist2"))).alias(f"_e{i}")
        )
    out = best.groupBy(id_col).agg(*aggs)
    err = F.lit(0.0)
    for i in range(m):
        err = err + F.col(f"_e{i}")
    return out.select(
        id_col, *[f"c{i}" for i in range(m)], err.alias("recon_err")
    )


def _adc_top_k(
    cand: DataFrame, queries: DataFrame, book: DataFrame, m: int, k: int
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes:
    ``(q_id, n_id, adc_dist, rnk)``.  ``cand`` holds ``n_id`` and the
    codes ``c0..c{m-1}``, plus ``q_id`` when each query has its own
    candidates (IVF-PQ); without it every query scores every code.

    Per query, distances to every entry of the codebook ``book`` form a
    TABLE (n_queries·m·k rows — broadcast); a candidate's distance is
    then m table LOOKUPS + adds, never touching the original vectors.
    The per-candidate sum over subspaces is pivoted to FIXED columns and
    added in textual order (no unordered float reduction), so distances
    and ranks are bit-identical cross-engine.  Self-matches are
    excluded; ties rank by neighbour id."""
    keys = ["q_id"] if "q_id" in cand.columns else []
    codes = [F.struct(F.lit(i).alias("s"), F.col(f"c{i}").alias("cell")) for i in range(m)]
    melted = cand.select(*keys, "n_id", F.explode(F.array(*codes)).alias("p")).select(
        *keys, "n_id", F.col("p.s").alias("s"), F.col("p.cell").alias("cell")
    )
    dtab = (
        queries.crossJoin(F.broadcast(book))
        .withColumn("qs", _subspace(F.col("q_vec"), m))
        .select("q_id", "s", "cell", _sq_dist(F.col("qs")).alias("qd"))
    )
    joined = melted.join(F.broadcast(dtab), [*keys, "s", "cell"])
    aggs = [
        F.max(F.when(F.col("s") == i, F.col("qd"))).alias(f"_d{i}")
        for i in range(m)
    ]
    per = joined.groupBy("q_id", "n_id").agg(*aggs)
    adc = F.lit(0.0)
    for i in range(m):
        adc = adc + F.col(f"_d{i}")
    scored = per.select("q_id", "n_id", adc.alias("adc_dist")).filter(
        F.col("n_id") != F.col("q_id")
    )
    return _top_k(scored, k, F.col("adc_dist"))


def pq_search(
    embeddings: DataFrame,
    n_queries: int = 3,
    top_k: int = 10,
    m: int = 4,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) search over PQ codes: approximate
    nearest neighbors computed from the ``m``-byte codes alone —
    ``(q_id, n_id, adc_dist, rnk)`` for queries ``vec_id <
    n_queries``.

    The PQ payoff: per query, distances to every centroid of every
    subspace form a ``m·k``-entry table, and each corpus vector's
    approximate distance is m lookups (:func:`_adc_top_k`).  At
    100 TB the scan reads the codes column (m bytes/vector) instead of
    the embedding (4·dim bytes) — a 64× narrower scan with ~1-2 lookup
    joins, which is exactly why IVF-PQ is the standard billion-vector
    layout.
    """
    codes = pq_encode(embeddings, m, k, vec_col, id_col)
    emb = embeddings.select(id_col, vec_col)
    return _adc_top_k(
        codes.withColumnRenamed(id_col, "n_id"),
        _queries(emb.filter(F.col(id_col) < n_queries), vec_col, id_col),
        _pq_codebook(emb, m, k, vec_col, id_col),
        m,
        top_k,
    )


def ivf_pq_search(
    embeddings: DataFrame,
    n_queries: int = 3,
    top_k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 4,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ end-to-end retrieval — the production billion-vector
    serving shape (Jégou et al., 2011; FAISS IndexIVFPQ): the IVF
    coarse quantizer restricts each query to its ``nprobe`` nearest
    cells, and asymmetric distances (ADC) are computed over the PQ
    CODES of those cells' members only — never the original vectors.

    Composition of the two audited halves: :func:`build_ivf_cells` /
    the ``_nearest_cells`` probe (coarse stage, cosine) and
    :func:`pq_encode` / the ``_adc_top_k`` stage of :func:`pq_search`
    (fine stage, L2) — same seeds, same codebooks, same tie-breaks, so
    the whole pipeline stays bit-reproducible and oracle-checkable.

    Plan shape & the 100 TB story: codes (m bytes/vector) and cell
    assignments are ingest-time artifacts (``save_ivf_index`` layout:
    partitioned by cell); a probe is then a partition-pruned scan of
    nprobe/n_cells of the CODES — a ~(64·4/m)·(n_cells/nprobe)× I/O
    reduction vs brute force (~1000× at these defaults).  Here the
    index is built inline (the corpus-grain argmax + encode shuffles);
    the serving joins are all broadcast (probe lists and distance
    tables are n_queries·m·k-sized), and the candidate scan partial-
    aggregates per (q_id, n_id) before ranking.  Recall < 1 by
    construction (both stages approximate); :func:`ivf_pq_recall` is
    the acceptance gate, and recall(ivf_pq) ≤ recall(pq_search) with
    nprobe → n_cells recovering pq_search exactly (pinned in pytest).
    """
    cents, assign = build_ivf_cells(embeddings, n_cells, vec_col, id_col)
    codes = pq_encode(embeddings, m, k, vec_col, id_col)
    queries = _queries(embeddings.filter(F.col(id_col) < n_queries), vec_col, id_col)
    probes = _nearest_cells(queries, cents, nprobe).select("q_id", "probe")
    # fine stage candidates: PQ codes of the probed cells' members only
    cand = (
        assign.select(F.col(id_col).alias("n_id"), "cell")
        .join(
            codes.select(
                F.col(id_col).alias("n_id"), *[f"c{i}" for i in range(m)]
            ),
            "n_id",
        )
        .join(F.broadcast(probes), F.col("cell") == F.col("probe"))
    )
    book = _pq_codebook(embeddings.select(id_col, vec_col), m, k, vec_col, id_col)
    return _adc_top_k(cand, queries, book, m, top_k)


def _recall_at_k(exact: DataFrame, approx: DataFrame, n_name: str = "n_approx") -> DataFrame:
    """Per-query recall@k of the ``approx`` top-k against the ``exact``
    one: ``(q_id, n_exact, <n_name>, n_hit, recall)`` with recall =
    n_hit / n_exact as one exact-int IEEE division.  The join and
    aggregates run on the two top-k result sets, never the corpus."""
    exact = exact.select("q_id", "n_id")
    approx = approx.select("q_id", "n_id")
    n_exact = exact.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_exact"))
    n_approx = approx.groupBy("q_id").agg(F.count(F.lit(1)).alias(n_name))
    n_hit = (
        exact.join(approx, ["q_id", "n_id"], "left_semi")
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        n_exact.join(n_approx, "q_id", "left")
        .join(n_hit, "q_id", "left")
        .select(
            "q_id",
            "n_exact",
            F.coalesce(n_name, F.lit(0)).alias(n_name),
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            (F.coalesce("n_hit", F.lit(0)) / F.col("n_exact")).alias("recall"),
        )
    )


def ivf_pq_recall(
    embeddings: DataFrame,
    n_queries: int = 3,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Acceptance gate for the composed IVF-PQ path: per-query recall@k
    of :func:`ivf_pq_search` against the exact cosine scan
    (:func:`knn_bruteforce`) — the ann_recall pattern applied to the
    production serving shape.  Both sides deterministic, so the gate is
    reproducible and oracle-checkable.  Cost: the two top-k runs plus
    O(n_queries · k) bookkeeping."""
    return _recall_at_k(
        knn_bruteforce(embeddings, n_queries, k, vec_col, id_col),
        ivf_pq_search(
            embeddings, n_queries, k, n_cells, nprobe, vec_col=vec_col, id_col=id_col
        ),
    )


def ann_recall(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    n_planes: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Index-quality evaluation: per-query recall@k of the LSH index
    (:func:`knn_lsh`) against the exact scan (:func:`knn_bruteforce`) —
    the acceptance gate an ANN index must pass before it replaces the
    brute-force path in production.  Both sides are deterministic pure
    functions of the data (seeded hyperplanes, total tie-broken ranks),
    so the evaluation itself is reproducible and oracle-checkable — not
    just a point estimate.

    Cost is the two kNN runs plus O(n_queries · k) bookkeeping: the
    join/aggregate operate on the top-k result sets, never the corpus.
    Output: (q_id, n_exact, n_approx, n_hit, recall) with
    recall = n_hit / n_exact as one exact-int IEEE division.
    """
    return _recall_at_k(
        knn_bruteforce(embeddings, n_queries, k, vec_col, id_col),
        knn_lsh(embeddings, n_queries, k, n_planes, vec_col, id_col),
    )


def knn_lsh_multiprobe(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    n_planes: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Multi-probe LSH kNN (Lv et al. VLDB'07): each query searches its
    own bucket PLUS the ``n_planes`` buckets at Hamming distance 1 — the
    standard recall lever that costs probes, not index copies.  A vector
    near a hyperplane lands on either side with near-equal probability;
    probing the one-bit-flip buckets recovers exactly those borderline
    misses, so recall rises toward brute force while the index stays a
    single bucket column.

    Same body as :func:`knn_lsh` with n_planes+1 probes per query
    (bucket ⊕ each one-bit mask, plus the bucket itself): exact
    re-scoring and the tie-broken rank are identical, so the result
    differs only by recall.
    """
    masks = [0] + [1 << p for p in range(n_planes)]
    return _lsh_top_k(embeddings, n_queries, k, n_planes, vec_col, id_col, masks)


def negative_pairs(
    embeddings: DataFrame, k: int = 4, id_col: str = "vec_id"
) -> DataFrame:
    """Deterministic negative sampling — the contrastive-training prep
    step (each anchor needs k random non-matching partners): candidate
    ``neg_id = md5_60(anchor, j) mod n`` for j in 1..k, self-pairs
    dropped.  The md5 coin (the engine's standard device) makes the draw
    a pure function of the ids: reproducible across runs, engines, and
    partitionings — the property that keeps a training set stable when
    the pipeline re-runs.

    Zero-shuffle map over the anchors: the corpus size joins in as a
    broadcast ONE-ROW aggregate, the k probes explode from a literal
    array, and uniform ids are dense (the fixture's contract) so no
    existence join is needed; with sparse ids add one broadcast semi
    join against the id table.  Output: (vec_id, j, neg_id).
    """
    cnt = embeddings.agg(F.count(F.lit(1)).alias("__n"))
    probes = F.array(*[F.lit(j) for j in range(1, k + 1)])
    coin = lambda j: F.conv(  # noqa: E731
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.lit("neg"), F.col(id_col).cast("string"), j.cast("string")
                )
            ),
            18,
            15,
        ),
        16,
        10,
    ).cast("long")
    out = (
        embeddings.select(id_col)
        .crossJoin(F.broadcast(cnt))
        .select(F.col(id_col), F.explode(probes).alias("j"), F.col("__n"))
        .withColumn("neg_id", F.pmod(coin(F.col("j")), F.col("__n")))
        .where(F.col("neg_id") != F.col(id_col))
        .select(id_col, "j", "neg_id")
    )
    return out


def label_affinity(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Pairwise centroid cosine between embedding LABELS — the
    cluster/domain affinity matrix ("are these two sources semantically
    close?") that drives mixture planning and contamination triage at
    corpus level.

    Cosine is scale-invariant, so it is computed on the per-label
    centroid SUM vectors directly (cos(S_a/n_a, S_b/n_b) ≡ cos(S_a,
    S_b) in real arithmetic; pinning ONE evaluation tree — sums, no
    per-dim division — keeps it bit-identical cross-engine).  Per-dim
    sums use the :func:`embedding_centroid` exactness protocol
    (float→string→DECIMAL(38,18) accumulate → string→double), the
    ordered sum-vector assembly is an ``array_sort(collect_list)`` at
    (label, dim) grain, and the dot/norms are the same sequential fold
    ``_dot`` the kNN family uses (DuckDB ``list_dot_product`` twin).

    Shape at 100 TB: one map-side-combined aggregate at (label, dim)
    grain — the corpus never shuffles at row grain; the pair join runs
    at label² grain (a handful of rows).
    """
    exploded = embeddings.select(
        F.col(label_col).alias("lbl"),
        F.posexplode(vec_col).alias("pos", "val"),
    )
    dec = F.col("val").cast("string").cast("decimal(38,18)")
    sums = exploded.groupBy("lbl", "pos").agg(
        F.sum(dec).cast("string").cast("double").alias("s")
    )
    vecs = sums.groupBy("lbl").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s"))),
            lambda t: t["s"],
        ).alias("sv")
    )
    counts = embeddings.groupBy(F.col(label_col).alias("lbl")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    vecs = vecs.join(counts, "lbl")
    a = vecs.select(
        F.col("lbl").alias("label_a"), F.col("sv").alias("va"), F.col("n").alias("n_a")
    )
    b = vecs.select(
        F.col("lbl").alias("label_b"), F.col("sv").alias("vb"), F.col("n").alias("n_b")
    )
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            "n_a",
            "n_b",
            (
                _dot(F.col("va"), F.col("vb"))
                / (
                    F.sqrt(_dot(F.col("va"), F.col("va")))
                    * F.sqrt(_dot(F.col("vb"), F.col("vb")))
                )
            ).alias("cosine"),
        )
    )


def mrl_recall(
    embeddings: DataFrame,
    dims: int = 16,
    n_queries: int = 5,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Matryoshka-truncation evaluation: per-query recall@k of exact
    cosine kNN over the FIRST ``dims`` coordinates vs the full vector —
    the acceptance gate for serving truncated (MRL-style) embeddings,
    where a 4× dimension cut buys 4× memory/bandwidth IF recall holds.
    The dimension-axis sibling of :func:`ann_recall` (which gates the
    index axis); both follow the honesty pattern: the cheap path is
    judged against the exact one inside the engine itself.

    Both sides are :func:`knn_bruteforce` — deterministic query set,
    total tie-broken ranks — with the truncated side just an
    ``F.slice`` projection (zero extra shuffle; the corpus×queries
    broadcast join dominates, and it is dims-times cheaper on the
    truncated run).  Output: ``(q_id, n_exact, n_trunc, n_hit,
    recall)``, recall one exact-int IEEE division.
    """
    trunc_corpus = embeddings.withColumn(
        vec_col, F.slice(F.col(vec_col), 1, dims)
    )
    return _recall_at_k(
        knn_bruteforce(embeddings, n_queries, k, vec_col, id_col),
        knn_bruteforce(trunc_corpus, n_queries, k, vec_col, id_col),
        "n_trunc",
    )


def label_separation(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Embedding-space cluster separability audit: per label, the mean
    INTRA-label pairwise cosine vs the global mean INTER-label cosine —
    the one-table answer to "are these labels separable enough to
    train/route on", upstream of classifier fitting and of
    :func:`label_affinity`'s centroid matrix (centroids can look apart
    while members overlap; this measures the members).

    No pair enumeration anywhere: with unit vectors, Σ pairwise
    cosines within a set = (|Σv|² − Σ|v|²)/2 — so per-label per-dim
    SUMS carry everything.  Normalized coordinates quantize to the
    1e-6 integer grid (floor — the knn_np device) so every sum is
    exact BIGINT/DECIMAL and the metric is partition/engine-invariant
    by construction; the (bounded) quantization bias is part of the
    metric's definition.

    Shuffle shape: one aggregate at (label, dim) grain + one at label
    grain; the corpus never moves at row grain.  Returns one row per
    label: ``(label, n, intra_mean, inter_mean, separation)`` —
    ``inter_mean`` is the global cross-label mean (same value every
    row); single-member labels surface NULL intra.
    """
    emb = with_norm(embeddings, vec_col)
    rows = emb.select(
        F.col(label_col).alias("lbl"),
        F.col("norm"),
        F.posexplode(vec_col).alias("pos", "val"),
    ).select(
        "lbl",
        "pos",
        F.floor(F.col("val") / F.col("norm") * F.lit(1000000.0))
        .cast("bigint")
        .alias("q"),
    )
    dims = rows.groupBy("lbl", "pos").agg(
        F.sum(F.col("q").cast("decimal(38,0)")).alias("s"),
        F.sum(
            (F.col("q").cast("decimal(19,0)") * F.col("q")).cast(
                "decimal(38,0)"
            )
        ).alias("qq"),
    )
    per_label = dims.groupBy("lbl").agg(
        F.sum((F.col("s") * F.col("s")).cast("decimal(38,0)")).alias(
            "dot_ll"
        ),
        F.sum("qq").cast("decimal(38,0)").alias("selfq"),
    )
    counts = embeddings.groupBy(F.col(label_col).alias("lbl")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    all_dims = dims.groupBy("pos").agg(
        F.sum("s").cast("decimal(38,0)").alias("sa")
    )
    dot_all = all_dims.agg(
        F.sum((F.col("sa") * F.col("sa")).cast("decimal(38,0)")).alias(
            "dot_all"
        )
    )
    glob = (
        per_label.agg(
            F.sum("dot_ll").cast("decimal(38,0)").alias("sum_ll"),
        )
        .crossJoin(F.broadcast(dot_all))
        .crossJoin(
            F.broadcast(
                counts.agg(
                    F.sum("n").cast("bigint").alias("nn"),
                    F.sum(
                        (F.col("n").cast("decimal(19,0)") * F.col("n")).cast(
                            "decimal(38,0)"
                        )
                    ).alias("sum_n2"),
                )
            )
        )
        .select(
            F.expr(
                "case when cast(nn as decimal(38,0)) * nn - sum_n2 <> 0 then"
                " (cast(dot_all as double) - cast(sum_ll as double))"
                " / (cast(nn as double) * cast(nn as double)"
                "    - cast(sum_n2 as double)) / 1.0e12 end"
            ).alias("inter_mean")
        )
    )
    return (
        per_label.join(counts, "lbl")
        .crossJoin(F.broadcast(glob))
        .select(
            F.col("lbl").alias("label"),
            "n",
            F.expr(
                "case when n > 1 then"
                " (cast(dot_ll as double) - cast(selfq as double))"
                " / (cast(n as double) * (cast(n as double) - 1.0e0))"
                " / 1.0e12 end"
            ).alias("intra_mean"),
            "inter_mean",
            F.expr(
                "case when n > 1 then"
                " (cast(dot_ll as double) - cast(selfq as double))"
                " / (cast(n as double) * (cast(n as double) - 1.0e0))"
                " / 1.0e12 - inter_mean end"
            ).alias("separation"),
        )
    )


def ivf_append_report(
    base: DataFrame,
    new: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF index MAINTENANCE: assign an ingest batch to the EXISTING
    coarse quantizer (no re-clustering — the centroids are the index's
    stable contract, exactly like the persisted LSH band tables in
    :func:`dedup.minhash_lsh_incremental`) and report per-cell growth —
    the signal that decides when a re-train/re-balance is actually due
    (a cell absorbing most of the ingest is the IVF analogue of a hot
    shuffle partition).

    Batch cost is O(|new| · n_cells) broadcast scoring — independent
    of the base corpus size; the base-side counts come from the
    existing assignment (here recomputed at fixture scale; at 100 TB
    they are a metadata read of the cell-partitioned index files).

    Returns one row per cell: ``(cell, n_base, n_new, growth_ppm)``.
    """
    cents, assign_base = build_ivf_cells(base, n_cells, vec_col, id_col)
    new_assign = _assign_cells(with_norm(new, vec_col), cents, vec_col, id_col)
    nb = assign_base.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_base")
    )
    nn = new_assign.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new")
    )
    return (
        nb.join(nn, "cell", "left")
        .select(
            F.col("cell").cast("bigint").alias("cell"),
            "n_base",
            F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
            F.expr(
                "(coalesce(n_new, 0) * 1000000) div n_base"
            ).alias("growth_ppm"),
        )
    )


def semantic_contamination(
    embeddings: DataFrame,
    n_bench: int = 8,
    tau: float = 0.5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic face of
    :func:`curation.benchmark_contamination` (which matches n-gram
    SURFACE overlap; paraphrased eval leakage sails straight through
    it): every corpus vector scores its maximum cosine against the
    benchmark set, and ``contaminated = max_cos > tau`` is the drop
    decision (the scaling-laws-era dedup step run before training).

    Benchmark set here = the first ``n_bench`` vectors (a deterministic
    stand-in for the real eval-set embeddings); corpus = the rest.

    Plan at 100 TB: the benchmark set is CONFIG-sized, so it inlines
    as literal vectors (the knn query-block device — a documented
    bounded collect) and the whole operator is ONE zero-shuffle
    projection over the corpus scan: per row, ``n_bench`` codegen dot
    products, a ``greatest`` for the max, and a first-match CASE chain
    in ascending benchmark-id order for the argmax (ties therefore
    break to the smallest id — total, engine-invariant).  Nothing
    shuffles, nothing joins; a ``groupBy(vec_id)`` formulation would
    shuffle corpus × n_bench rows for no reason.

    Returns ``(vec_id, bench_id, max_cos, contaminated)``.
    """
    emb_n = with_norm(embeddings, vec_col)
    bench_rows = sorted(
        emb_n.filter(F.col(id_col) < n_bench)
        .select(id_col, vec_col, "norm")
        .collect(),
        key=lambda r: r[id_col],
    )
    corpus = emb_n.filter(F.col(id_col) >= n_bench).select(
        F.col(id_col), F.col(vec_col).alias("c_vec"), F.col("norm").alias("c_norm")
    )
    if not bench_rows:  # nothing to screen against: all clean, no argmax
        return corpus.select(
            id_col,
            F.lit(None).cast("bigint").alias("bench_id"),
            F.lit(None).cast("double").alias("max_cos"),
            F.lit(False).alias("contaminated"),
        )
    cos_cols = [
        (
            _dot(F.col("c_vec"), F.lit([float(x) for x in r[vec_col]]))
            / (F.col("c_norm") * F.lit(float(r["norm"])))
        ).alias(f"cos_{i}")
        for i, r in enumerate(bench_rows)
    ]
    scored = corpus.select(id_col, *cos_cols)
    mx = F.greatest(*[F.col(f"cos_{i}") for i in range(len(bench_rows))]) if len(bench_rows) > 1 else F.col("cos_0")
    arg = F.lit(None).cast("bigint")
    # first match in ASCENDING bench-id order wins: fold the CASE chain
    # from the back so earlier ids take precedence
    for i in reversed(range(len(bench_rows))):
        arg = F.when(
            F.col(f"cos_{i}") == F.col("max_cos"), F.lit(int(bench_rows[i][id_col]))
        ).otherwise(arg)
    return (
        scored.withColumn("max_cos", mx)
        .select(
            id_col,
            arg.alias("bench_id"),
            "max_cos",
            (F.col("max_cos") > F.lit(tau)).alias("contaminated"),
        )
    )


def _kmeans_cents_sql(cents: dict[int, list[int]]) -> str:
    """The driver-held centroids as a broadcast array-of-structs literal
    (k·d BIGINTs — config grain)."""
    entries = ", ".join(
        f"struct({j} as cluster, cast(array({', '.join(map(str, cents[j]))}) "
        f"as array<bigint>) as carr)"
        for j in sorted(cents)
    )
    return f"array({entries})"


def _kmeans_d2_sql(cents: dict[int, list[int]]) -> str:
    """Per-row array of exact integer squared distances to every
    centroid, as struct(d2, cluster) — pure codegen projection."""
    return (
        f"transform({_kmeans_cents_sql(cents)}, c -> struct("
        f"aggregate(zip_with(qarr, c.carr, (a, b) -> (a - b) * (a - b)), "
        f"cast(0 as bigint), (s, x) -> s + x) as d2, "
        f"c.cluster as cluster))"
    )


def _kmeans_assign_sql(cents: dict[int, list[int]]) -> str:
    """Argmin over the centroid literal: array_min on struct(d2, cluster)
    orders lexicographically => nearest centroid, ties to the lowest
    cluster id."""
    return f"array_min({_kmeans_d2_sql(cents)})"


def _kmeans_fit(
    embeddings: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    iterations: int,
    scale_bits: int,
    checkpoint_dir: str | None,
) -> tuple[DataFrame, dict[int, list[int]]]:
    """Shared Lloyd fit: returns the once-quantized corpus ("_id",
    "qarr") and the final centroids (driver-held dict).  See
    :func:`kmeans_embeddings` for the protocol and scale contract."""
    from p2_mapreduce_spark.operators.graph import _make_ckpt

    ckpt = _make_ckpt(embeddings.sparkSession, checkpoint_dir)
    qexpr = (
        f"transform({vec_col}, x -> "
        f"cast(floor(cast(x as double) * {1 << scale_bits}) as bigint))"
    )
    emb = ckpt(
        embeddings.select(
            F.col(id_col).alias("_id"), F.expr(qexpr).alias("qarr")
        )
    )
    seed_rows = emb.orderBy("_id").limit(k).collect()  # k·d ints: config grain
    cents = {j: [int(v) for v in r["qarr"]] for j, r in enumerate(seed_rows)}
    if not cents:  # empty corpus: no seeds, no rounds, empty assignment
        return emb, cents
    d = len(next(iter(cents.values())))

    for _ in range(iterations):
        upd = (
            emb.selectExpr(
                f"({_kmeans_assign_sql(cents)}).cluster as cluster", "qarr"
            )
            .selectExpr("cluster", "posexplode(qarr) as (dim, q)")
            .groupBy("cluster", "dim")
            .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()  # k·d rows: config grain
        )
        new = {}
        for r in upd:
            s, n = int(r["s"]), int(r["n"])
            new.setdefault(int(r["cluster"]), [0] * d)[int(r["dim"])] = (
                (1 if s >= 0 else -1) * (abs(s) // n)
            )
        for j in cents:  # empty cluster keeps its previous centroid
            if j in new:
                cents[j] = new[j]
    return emb, cents


def kmeans_embeddings(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
    iterations: int = 2,
    scale_bits: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Lloyd's k-means over an embedding column, in the repo's exact
    fixed-point protocol (cf. ``gram_matrix`` / ``pagerank``): components
    quantize ONCE to ``floor(x·2^scale_bits)`` BIGINTs, every distance is
    an exact integer sum of squares, and the centroid update is exact
    integer mean (truncated toward zero via the portable
    ``sign·(|s| div n)`` form) — so every iteration is bit-identical
    across engines/partitionings and the whole loop is value-hash
    oracle-checkable by unrolling it in SQL.

    Semantics: seeds are the ``k`` rows with the smallest ids (the
    deterministic analog of Forgy init); each round assigns every vector
    to the nearest centroid (ties break to the lowest cluster id) and
    recomputes centroids as the exact integer mean of members (an empty
    cluster keeps its previous centroid).  Output is cluster grain:
    ``(cluster, n_members, inertia, cnorm_q)`` for the final assignment
    against the final centroids — ``inertia`` surfaces as ONE double
    division by ``2^(2·scale_bits)`` (exact DECIMAL(38,0) sum inside, the
    ``emd_drift`` device) and ``cnorm_q`` is the exact quantized squared
    norm of the final centroid.

    Scale shape (semantic clustering of a 100 TB corpus is upstream of
    SemDeDup / data mixing): the corpus NEVER shuffles — centroids are
    driver-held (k·d BIGINTs, config grain, the same documented bound as
    ``knn_bruteforce``'s query block and BPE's per-round argmax) and ship
    into the assignment as a broadcast literal evaluated per-row in
    codegen; the only shuffle per round is the (cluster, dim)-grain
    partial→final SUM (k·d keys × partitions, independent of N).  The
    quantized corpus localCheckpoints once (reliable ``checkpoint_dir``
    option as in graph.py) so each round rescans columnar cache, not
    parquet.  BIGINT bounds: per-component |q| ≤ 2^scale_bits for
    unit-normish vectors, so d2 ≤ d·2^(2·scale_bits+2) (2^48 at d=64,
    b=20) and per-(cluster,dim) update sums overflow only past ~2^42
    member rows — beyond 100 TB at this dim; inertia accumulates in
    DECIMAL(38,0).
    """
    emb, cents = _kmeans_fit(
        embeddings, vec_col, id_col, k, iterations, scale_bits,
        checkpoint_dir,
    )
    if not cents:  # empty corpus: empty cluster table, stable schema
        return embeddings.sparkSession.createDataFrame(
            [],
            "cluster bigint, n_members bigint, inertia double, "
            "cnorm_q bigint",
        )
    final = emb.selectExpr(
        f"({_kmeans_assign_sql(cents)}).cluster as cluster",
        f"({_kmeans_assign_sql(cents)}).d2 as d2",
    )
    norms = [sum(v * v for v in cents[j]) for j in sorted(cents)]
    norms_arr = f"cast(array({', '.join(map(str, norms))}) as array<bigint>)"
    return (
        final.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.col("d2").cast("decimal(38,0)")).alias("_iq"),
        )
        .select(
            F.col("cluster").cast("bigint").alias("cluster"),
            "n_members",
            (
                F.col("_iq").cast("double")
                / float(1 << (2 * scale_bits))
            ).alias("inertia"),
            F.expr(
                f"element_at({norms_arr}, cast(cluster as int) + 1)"
            ).alias("cnorm_q"),
        )
    )


def kmeans_silhouette(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
    iterations: int = 2,
    scale_bits: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Clustering acceptance gate — the family rule that every heuristic
    path ships with its quality measure (``ann_recall`` for the ANN
    indexes, ``lsh_recall`` for the dedup index): per-cluster simplified
    silhouette of the :func:`kmeans_embeddings` fit.

    Simplified silhouette replaces the O(n²) pairwise form with
    centroid distances — the standard linear-time variant: per row,
    ``a`` = squared distance to the assigned (nearest) centroid, ``b`` =
    second-nearest, ``s = (b − a) / b`` (since ``b ≥ a``, the
    denominator max(a, b) is b; a tie or a duplicate centroid gives
    s = 0, and b = 0 — the point IS both centroids — is defined 0).
    Scores are exact-integer ppm: ``(b − a)·10⁶ div b`` with the
    product in DECIMAL(38,0) (b − a can reach 2^46 at d = 64, so ×10⁶
    overflows BIGINT — the mwu_drift lesson), making the per-cluster
    mean an exact integer sum with ONE double division at the surface.

    Output: ``(cluster, n_members, mean_sil_ppm)``.  Cost on top of the
    fit: one codegen projection (distances to the k broadcast
    centroids) + one cluster-grain aggregate — the corpus still never
    shuffles.
    """
    if k < 2:
        raise ValueError("silhouette needs k >= 2")
    emb, cents = _kmeans_fit(
        embeddings, vec_col, id_col, k, iterations, scale_bits,
        checkpoint_dir,
    )
    if len(cents) < 2:  # empty/1-row corpus: no second-nearest exists
        return embeddings.sparkSession.createDataFrame(
            [], "cluster bigint, n_members bigint, mean_sil_ppm double"
        )
    scored = emb.selectExpr(f"{_kmeans_d2_sql(cents)} as ds").selectExpr(
        "array_min(ds).cluster as cluster",
        "element_at(array_sort(transform(ds, x -> x.d2)), 1) as a",
        "element_at(array_sort(transform(ds, x -> x.d2)), 2) as b",
    )
    s_ppm = F.expr(
        "case when b = 0 then cast(0 as bigint) else cast("
        "(cast(b - a as decimal(38,0)) * 1000000) div "
        "cast(b as decimal(38,0)) as bigint) end"
    )
    return (
        scored.withColumn("s_ppm", s_ppm)
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.col("s_ppm").cast("decimal(38,0)")).alias("_ss"),
        )
        .select(
            F.col("cluster").cast("bigint").alias("cluster"),
            "n_members",
            (F.col("_ss").cast("double") / F.col("n_members")).alias(
                "mean_sil_ppm"
            ),
        )
    )


def kmeans_purity(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    k: int = 4,
    iterations: int = 2,
    scale_bits: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Cluster purity against a label column — the EXTERNAL quality
    gate beside :func:`kmeans_silhouette`'s internal geometry score
    (silhouette says "are the clusters tight?"; purity says "do they
    agree with what we already know?", the check run before clusters
    drive data mixing or SemDeDup budgets).

    Same exact fixed-point Lloyd fit as :func:`kmeans_embeddings`
    (bit-identical assignment, oracle-checkable by loop unrolling);
    purity is then pure integer work on the (cluster × label)
    contingency: modal label per cluster (ties break to the lowest
    label) and ``purity = n_modal / n_members`` as one pinned
    division.

    Output: (cluster, n_members, modal_label, n_modal, purity).
    Scale shape: corpus never shuffles for the fit (broadcast-literal
    centroids); the contingency is a (k × labels)-grain aggregate.
    """
    emb, cents = _kmeans_fit(
        embeddings, vec_col, id_col, k, iterations, scale_bits,
        checkpoint_dir,
    )
    if not cents:
        return embeddings.sparkSession.createDataFrame(
            [],
            "cluster bigint, n_members bigint, modal_label bigint, "
            "n_modal bigint, purity double",
        )
    assign = emb.selectExpr(
        "_id", f"({_kmeans_assign_sql(cents)}).cluster as cluster"
    )
    lab = embeddings.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).cast("bigint").alias("lbl"),
    )
    cells = (
        assign.join(lab, "_id")
        .groupBy("cluster", "lbl")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cl"))
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("n_cl").desc(), F.col("lbl").asc()
    )
    top = cells.withColumn("rn", F.row_number().over(w))
    sizes = cells.groupBy("cluster").agg(
        F.sum("n_cl").cast("bigint").alias("n_members")
    )
    return (
        top.filter(F.col("rn") == 1)
        .join(sizes, "cluster")
        .select(
            F.col("cluster").cast("bigint").alias("cluster"),
            "n_members",
            F.col("lbl").alias("modal_label"),
            F.col("n_cl").alias("n_modal"),
            (
                F.col("n_cl").cast("double")
                / F.col("n_members").cast("double")
            ).alias("purity"),
        )
    )

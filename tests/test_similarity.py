"""Similarity-search tests: brute-force is the oracle; LSH paths must be
exact-precision with measured recall."""

import math

import pytest
from pyspark.sql import functions as F

from p2_mapreduce_spark.operators.similarity import (
    cosine_near_pairs,
    knn_bruteforce,
    knn_bruteforce_np,
    knn_exact,
    knn_ivf,
    knn_lsh,
)
from p2_mapreduce_spark.session import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _jobs_per_call(spark, name, run):
    """Spark jobs started while ``run()`` builds and collects, counted
    from the status store through a job group of its own."""
    sc = spark.sparkContext
    group = f"jobs-per-call-{name}"
    sc.setJobGroup(group, name)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_benchmarked_knn_jobs_per_call(spark, emb):
    """The two kNN operators the benchmark times keep their job count
    per collect: 4 for the exact scan and 5 for LSH on this fixture
    (measured on the implementation that had one hand-written window per
    operator)."""
    bf = _jobs_per_call(spark, "knn_bruteforce", lambda: knn_bruteforce(emb, 5, 10).collect())
    lsh = _jobs_per_call(spark, "knn_lsh", lambda: knn_lsh(emb, 5, 10).collect())
    assert 0 < bf <= 4, bf
    assert 0 < lsh <= 5, lsh


def test_knn_exact_takes_any_query_frame(spark, emb):
    """A query frame that is not an id prefix scores like the same
    queries picked out of the prefix form."""
    got = knn_exact(emb, emb.filter(F.col("vec_id").isin(3, 7)), k=5)
    want = knn_bruteforce(emb, 8, 5).filter(F.col("q_id").isin(3, 7))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_hybrid_search_dense_side_is_the_one_query(spark, sf_dir, emb):
    """hybrid_search around a vector other than 0 fuses the same dense
    list as scoring the whole id prefix and keeping that one query."""
    from pyspark.sql import Window

    from p2_mapreduce_spark.operators.search import bm25_search, hybrid_search, rrf_fuse

    docs = load_table(spark, sf_dir, "documents")
    terms = ["spark", "table", "window"]
    got = hybrid_search(docs, emb, terms, query_vec_id=3)
    sparse = bm25_search(docs, terms, top_n=50).select(
        "doc_id", F.row_number().over(
            Window.orderBy(F.col("score").desc(), F.col("doc_id"))
        ).cast("bigint").alias("rnk")
    )
    dense = (
        knn_bruteforce(emb, n_queries=4, k=50)
        .filter(F.col("q_id") == 3)
        .select(F.col("n_id").alias("doc_id"), F.col("rnk"))
    )
    want = rrf_fuse(sparse, dense)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_numpy_knn_empty_query_block(spark, emb):
    """No query vectors: an empty ranked frame with the usual schema,
    as knn_bruteforce returns, in both the raw and the quantized form."""
    for quantize in (None, 1e6):
        want = knn_bruteforce_np(emb, 2, 3, quantize=quantize).schema
        for n_queries, corpus in ((0, emb), (5, emb.filter(F.col("vec_id") >= 5))):
            got = knn_bruteforce_np(corpus, n_queries, 3, quantize=quantize)
            assert got.schema == want
            assert got.collect() == []
    assert knn_bruteforce(emb, 0, 3).collect() == []


def test_zero_norm_vector_ranks_last_instead_of_failing(spark):
    """One all-zero vector, as query 0 and as a corpus member: its
    cosines are NULL and rank after every real cosine, in the exact scan,
    its numpy twin, IVF and LSH alike."""
    rows = [(0, [0.0] * 4), (1, [1.0, -2.0, 0.5, 1.5]), (2, [-1.0, 2.0, -0.5, -1.5])]
    rows += [(i, [float((i * 7 + d * 3) % 5) - 2.0 for d in range(4)]) for i in range(3, 12)]
    z = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {(r.q_id, r.n_id): (r.cosine, r.rnk) for r in knn_bruteforce(z, 3, 20).collect()}
    assert len(exact) == 3 * 11
    for q in range(3):
        ranked = sorted((rnk, n, c) for (q_, n), (c, rnk) in exact.items() if q_ == q)
        nulls = [n for _, n, c in ranked if c is None]
        assert [c is None for _, _, c in ranked] == sorted(c is None for _, _, c in ranked)
        if q == 0:
            assert nulls == list(range(1, 12))
        else:
            assert nulls == [0]
    np_ = {(r.q_id, r.n_id): (r.cosine, r.rnk) for r in knn_bruteforce_np(z, 3, 20).collect()}
    assert set(np_) == set(exact)
    for key, (c, rnk) in np_.items():
        assert rnk == exact[key][1]
        assert (c is None) == (exact[key][0] is None)
        assert c is None or abs(c - exact[key][0]) < 1e-9
    # every cell probed: IVF sees every candidate, so it IS the exact scan
    ivf = {(r.q_id, r.n_id): (r.cosine, r.rnk) for r in knn_ivf(z, 3, 20, n_cells=3, nprobe=3).collect()}
    assert ivf == exact
    # vectors 1 and 2 point opposite ways, so one shares bucket 0 with the
    # zero vector under a single hyperplane
    lsh = knn_lsh(z, 3, 20, n_planes=1).collect()
    assert any(r.q_id == 0 for r in lsh) and any(r.n_id == 0 for r in lsh)
    for r in lsh:
        assert r.cosine == exact[(r.q_id, r.n_id)][0]


def test_bruteforce_shape_and_rank(spark, emb):
    out = knn_bruteforce(emb, n_queries=5, k=10).collect()
    assert len(out) == 5 * 10
    by_q = {}
    for r in out:
        by_q.setdefault(r["q_id"], []).append((r["rnk"], r["cosine"], r["n_id"]))
    for q, rows in by_q.items():
        rows.sort()
        assert [r[0] for r in rows] == list(range(1, 11))
        cosines = [r[1] for r in rows]
        assert cosines == sorted(cosines, reverse=True)
        assert all(not math.isnan(c) and -1.001 <= c <= 1.001 for c in cosines)
        assert all(r[2] != q for r in rows)


def test_bruteforce_partition_invariant(spark, emb):
    a = sorted(map(tuple, knn_bruteforce(emb, 3, 5).collect()))
    b = sorted(map(tuple, knn_bruteforce(emb.repartition(13), 3, 5).collect()))
    assert a == b


def test_lsh_results_are_true_neighbors(spark, emb):
    """Every LSH hit must carry the exact cosine the brute-force path
    computes (precision); recall is reported, not asserted hard — bucket
    recall at k=10 with 6 planes is genuinely lossy."""
    bf = {(r["q_id"], r["n_id"]): r["cosine"] for r in knn_bruteforce(emb, 5, 10).collect()}
    lsh = knn_lsh(emb, n_queries=5, k=10, n_planes=6).collect()
    assert len(lsh) > 0
    exact_all = {
        (r["q_id"], r["n_id"]): r["cosine"]
        for r in knn_bruteforce(emb, 5, k=10**9).collect()
    }
    for r in lsh:
        assert abs(exact_all[(r["q_id"], r["n_id"])] - r["cosine"]) < 1e-12


def test_ivf_exact_precision_and_deterministic(spark, emb):
    """IVF hits must carry brute-force-exact cosines; the probe set (and
    thus the result) must be identical across partitionings.  Recall is
    probe-bounded (nprobe/n_cells of random data), so it is reported via
    a floor, not pinned."""
    exact_all = {
        (r["q_id"], r["n_id"]): r["cosine"]
        for r in knn_bruteforce(emb, 5, k=10**9).collect()
    }
    ivf = knn_ivf(emb, n_queries=5, k=10, n_cells=16, nprobe=4).collect()
    assert len(ivf) > 0
    for r in ivf:
        assert abs(exact_all[(r["q_id"], r["n_id"])] - r["cosine"]) < 1e-12
    again = knn_ivf(emb.repartition(13), n_queries=5, k=10, n_cells=16, nprobe=4).collect()
    assert sorted(map(tuple, ivf)) == sorted(map(tuple, again))
    top10 = {
        (r["q_id"], r["n_id"]) for r in knn_bruteforce(emb, 5, 10).collect()
    }
    hits = top10 & {(r["q_id"], r["n_id"]) for r in ivf}
    assert len(hits) / len(top10) >= 0.1  # floor; random data, 4/16 cells


def test_numpy_knn_matches_hof_knn(spark, emb):
    """The vectorized (matmul) brute-force must agree with the HOF-fold
    brute-force: same neighbor sets, cosines within float-summation-order
    tolerance."""
    hof = {(r["q_id"], r["n_id"]): r["cosine"] for r in knn_bruteforce(emb, 5, 10).collect()}
    from p2_mapreduce_spark.operators.similarity import knn_bruteforce_np

    np_ = {(r["q_id"], r["n_id"]): r["cosine"] for r in knn_bruteforce_np(emb, 5, 10).collect()}
    assert set(hof) == set(np_)
    for k_, v in np_.items():
        assert abs(hof[k_] - v) < 1e-9


def test_near_pairs_symmetric_threshold(spark, emb):
    pairs = cosine_near_pairs(emb, threshold=0.45).collect()
    for r in pairs:
        assert r["id_a"] < r["id_b"]
        assert r["cosine"] >= 0.45


def test_persisted_ivf_index_matches_inline(spark, sf_dir, tmp_path):
    """save → load → probe must return exactly the inline knn_ivf result,
    and the pruned probe must hit the cell-partitioned layout with a
    PartitionFilter (only probed cells' files read)."""
    from pyspark.sql import functions as F

    from p2_mapreduce_spark.operators.similarity import (
        build_ivf_cells,
        knn_ivf,
        load_ivf_index,
        probe_ivf,
        save_ivf_index,
        with_norm,
    )
    from p2_mapreduce_spark.plans import plan_report
    from p2_mapreduce_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    inline = sorted(map(tuple, knn_ivf(emb, n_queries=3, k=5).collect()))

    cents, assign = build_ivf_cells(emb)
    root = str(tmp_path / "ivf")
    save_ivf_index(cents, assign, root)
    cents2, assign2 = load_ivf_index(spark, root)
    queries = with_norm(emb.filter(F.col("vec_id") < 3)).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("norm").alias("q_norm"),
    )
    for prune in (False, True):
        got = probe_ivf(cents2, assign2, queries, k=5, prune_cells=prune)
        assert sorted(map(tuple, got.collect())) == inline
    pruned = probe_ivf(cents2, assign2, queries, k=5, prune_cells=True)
    plan = plan_report(pruned)["plan"]
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln and "cell" in ln]
    assert pf, f"pruned probe lost partition pruning: {plan[:600]}"


def test_kmeans_refinement_improves_objective(spark, sf_dir):
    """Lloyd iterations must be monotone in the spherical k-means
    objective (sum of assigned max-cosine) and deterministic across
    partitionings."""
    from pyspark.sql import functions as F

    from p2_mapreduce_spark.operators.similarity import (
        _assign_cells,
        build_ivf_cells,
        refine_cells,
        with_norm,
    )
    from p2_mapreduce_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    emb_n = with_norm(emb)
    cents0, _ = build_ivf_cells(emb, n_cells=8)

    def objective(cents):
        a = _assign_cells(emb_n, cents.select("cell", "c_vec", "c_norm"),
                          "embedding", "vec_id")
        return a.agg(F.sum("c_sim")).first()[0]

    objs = [objective(cents0)]
    cents = cents0
    for _ in range(3):
        cents = refine_cells(emb, cents, iters=1)
        objs.append(objective(cents))
    for prev, nxt in zip(objs, objs[1:]):
        assert nxt >= prev - 1e-9, f"objective decreased: {objs}"
    assert objs[-1] > objs[0], f"no improvement at all: {objs}"

    # determinism under repartition
    a = sorted(map(tuple, refine_cells(emb, cents0, iters=2).collect()))
    b = sorted(map(tuple, refine_cells(emb.repartition(13), cents0, iters=2).collect()))
    assert a == b


class TestPqEncode:
    def test_codes_in_range_and_deterministic(self, spark, sf_dir):
        from p2_mapreduce_spark.operators.similarity import pq_encode
        from p2_mapreduce_spark.session import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        out = pq_encode(emb).collect()
        assert len(out) == emb.count()
        for r in out:
            for i in range(4):
                assert 0 <= r[f"c{i}"] < 8
            assert r["recon_err"] >= 0.0
        again = sorted(map(tuple, pq_encode(emb.repartition(7)).collect()))
        assert sorted(map(tuple, out)) == again
        # subspace width follows the vector length: a 32-dim corpus built
        # as [v, v] with m=4 repeats its codes, back half really encoded
        half = F.slice("embedding", 1, 16)
        doubled = emb.select("vec_id", F.concat(half, half).alias("embedding"))
        rows = pq_encode(doubled, m=4).collect()
        assert len(rows) == len(out)
        assert all(r.c0 == r.c2 and r.c1 == r.c3 for r in rows)
        assert len({r.c2 for r in rows}) > 1

    def test_seed_vectors_encode_themselves(self, spark, sf_dir):
        """A codebook seed's subvectors ARE centroids: its recon error
        must be (near-)zero and its codes must point at itself."""
        from pyspark.sql import functions as F

        from p2_mapreduce_spark.operators.similarity import pq_encode
        from p2_mapreduce_spark.session import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        seed_ids = [
            r["vec_id"]
            for r in emb.select("vec_id")
            .withColumn("h", F.md5(F.col("vec_id").cast("string")))
            .orderBy("h", "vec_id")
            .limit(8)
            .collect()
        ]
        out = {r["vec_id"]: r for r in pq_encode(emb).collect()}
        for sid in seed_ids:
            assert out[sid]["recon_err"] < 1e-9, out[sid]

    def test_more_centroids_never_hurt(self, spark, sf_dir):
        from p2_mapreduce_spark.operators.similarity import pq_encode
        from p2_mapreduce_spark.session import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        e8 = {r["vec_id"]: r["recon_err"] for r in pq_encode(emb, k=8).collect()}
        e16 = {r["vec_id"]: r["recon_err"] for r in pq_encode(emb, k=16).collect()}
        # k=16's codebook contains k=8's seeds as a prefix (same md5
        # order), so per-vector error is monotone non-increasing
        for vid, err in e16.items():
            assert err <= e8[vid] + 1e-9


class TestPqSearch:
    def test_adc_beats_random_ordering(self, spark, sf_dir):
        """ADC over 4x8 codebooks is coarse, but the retrieved top-10
        must still overlap the EXACT L2 top-10 far above chance."""
        from pyspark.sql import functions as F

        from p2_mapreduce_spark.operators.similarity import pq_search
        from p2_mapreduce_spark.session import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        rows = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
        got = pq_search(emb, n_queries=2, top_k=10).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r["q_id"], []).append(r["n_id"])
        for q_id, ids in by_q.items():
            qv = rows[q_id]
            exact = sorted(
                (vid for vid in rows if vid != q_id),
                key=lambda vid: sum(
                    (a - b) ** 2 for a, b in zip(rows[vid], qv)
                ),
            )[:30]
            # chance overlap of 10-of-N in top-30 is tiny; require >= 2
            assert len(set(ids) & set(exact)) >= 2, (q_id, ids)

    def test_ranks_are_dense_and_capped(self, spark, sf_dir):
        from p2_mapreduce_spark.operators.similarity import pq_search
        from p2_mapreduce_spark.session import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        got = pq_search(emb, n_queries=2, top_k=5).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r["q_id"], []).append(r["rnk"])
        for ranks in by_q.values():
            assert sorted(ranks) == [1, 2, 3, 4, 5]


def test_ann_recall_consistent_with_component_knns(spark, sf_dir):
    from p2_mapreduce_spark.operators.similarity import (
        ann_recall,
        knn_bruteforce,
        knn_lsh,
    )
    from p2_mapreduce_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = {r.q_id: r for r in ann_recall(emb, n_queries=5, k=10).collect()}
    assert set(rows) == set(range(5))
    exact = knn_bruteforce(emb, 5, 10).collect()
    approx = knn_lsh(emb, 5, 10).collect()
    ex = {}
    ap = {}
    for r in exact:
        ex.setdefault(r.q_id, set()).add(r.n_id)
    for r in approx:
        ap.setdefault(r.q_id, set()).add(r.n_id)
    for q, r in rows.items():
        assert r.n_exact == len(ex[q]) == 10
        assert r.n_approx == len(ap.get(q, ()))
        assert r.n_hit == len(ex[q] & ap.get(q, set()))
        assert r.recall == r.n_hit / r.n_exact
        assert 0.0 <= r.recall <= 1.0


def test_multiprobe_recall_at_least_single_bucket(spark, sf_dir):
    """Hamming-1 probing must be a superset search: per-query recall vs
    brute force can only rise, and every emitted pair is exactly scored."""
    from p2_mapreduce_spark.operators.similarity import (
        knn_bruteforce,
        knn_lsh,
        knn_lsh_multiprobe,
    )
    from p2_mapreduce_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {}
    for r in knn_bruteforce(emb, 5, 10).collect():
        exact.setdefault(r.q_id, set()).add(r.n_id)
    single = {}
    for r in knn_lsh(emb, 5, 10).collect():
        single.setdefault(r.q_id, set()).add(r.n_id)
    multi = {}
    cos = {}
    for r in knn_lsh_multiprobe(emb, 5, 10).collect():
        multi.setdefault(r.q_id, set()).add(r.n_id)
        cos[(r.q_id, r.n_id)] = r.cosine
    for q in exact:
        hit_s = len(exact[q] & single.get(q, set()))
        hit_m = len(exact[q] & multi.get(q, set()))
        assert hit_m >= hit_s
    # exact re-scoring: multiprobe cosines equal brute-force cosines
    bf = {(r.q_id, r.n_id): r.cosine for r in knn_bruteforce(emb, 5, 500).collect()}
    for key, c in cos.items():
        assert bf[key] == c


def test_negative_pairs_deterministic_in_range_never_self(spark, sf_dir):
    from p2_mapreduce_spark.operators.similarity import negative_pairs
    from p2_mapreduce_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    rows = negative_pairs(emb, k=4).collect()
    again = negative_pairs(emb.repartition(11), k=4).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    for r in rows:
        assert 0 <= r.neg_id < n
        assert r.neg_id != r.vec_id
    # near-complete coverage: each anchor keeps >= 3 of its 4 probes
    from collections import Counter

    per_anchor = Counter(r.vec_id for r in rows)
    assert min(per_anchor.values()) >= 3


def test_mrl_recall_full_dims_is_perfect(spark, sf_dir):
    """Truncating to the FULL dimension must reproduce the exact top-k
    (recall 1.0 everywhere); a 4x cut keeps recall in (0, 1]."""
    from p2_mapreduce_spark.operators.similarity import mrl_recall
    from p2_mapreduce_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    full = mrl_recall(emb, dims=64)
    assert all(r["recall"] == 1.0 for r in full.collect())
    cut = {r["q_id"]: r for r in mrl_recall(emb, dims=16).collect()}
    assert all(0.0 < r["recall"] <= 1.0 for r in cut.values())
    assert all(r["n_trunc"] == r["n_exact"] for r in cut.values())


def test_label_separation_separable_fixture(spark):
    """Two orthogonal tight clusters: intra ≈ 1 within each label,
    inter ≈ 0 across, separation strongly positive; a singleton label
    surfaces NULL intra."""
    rows = []
    vid = 0
    for lbl, base in ((0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])):
        for _ in range(5):
            vid += 1
            rows.append((vid, base, lbl))
    rows.append((vid + 1, [0.0, 0.0, 1.0, 0.0], 2))  # singleton
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    from p2_mapreduce_spark.operators.similarity import label_separation

    out = {r["label"]: r for r in label_separation(df).collect()}
    assert abs(out[0]["intra_mean"] - 1.0) < 1e-5
    assert abs(out[1]["intra_mean"] - 1.0) < 1e-5
    assert abs(out[0]["inter_mean"]) < 1e-5
    assert out[0]["separation"] > 0.99
    assert out[2]["intra_mean"] is None and out[2]["separation"] is None


def test_ivf_append_conserves_batch_and_matches_full_assignment(spark, sf_dir):
    """Every new vector lands in exactly one existing cell (counts
    conserve the batch), and appended assignments equal what a
    from-scratch assignment against the SAME centroids would give."""
    from pyspark.sql import functions as F

    from p2_mapreduce_spark.operators.similarity import (
        _assign_cells,
        build_ivf_cells,
        ivf_append_report,
        with_norm,
    )
    from p2_mapreduce_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 4)
    new = emb.filter(F.col("vec_id") % 5 == 4)
    rep = ivf_append_report(base, new)
    assert rep.agg(F.sum("n_new")).collect()[0][0] == new.count()
    assert rep.agg(F.sum("n_base")).collect()[0][0] == base.count()
    # assignment stability: same centroids -> same cells for new batch
    cents, _ = build_ivf_cells(base)
    direct = {
        r["vec_id"]: r["cell"]
        for r in _assign_cells(with_norm(new), cents, "embedding", "vec_id")
        .select("vec_id", "cell")
        .collect()
    }
    again = {
        r["vec_id"]: r["cell"]
        for r in _assign_cells(
            with_norm(new.repartition(7)), cents, "embedding", "vec_id"
        )
        .select("vec_id", "cell")
        .collect()
    }
    assert direct == again


class TestKMeans:
    def test_partition_invariant_and_total_members(self, spark, emb):
        from p2_mapreduce_spark.operators.similarity import kmeans_embeddings

        a = sorted(map(tuple, kmeans_embeddings(emb).collect()))
        b = sorted(
            map(tuple, kmeans_embeddings(emb.repartition(13)).collect())
        )
        assert a == b
        assert sum(r[1] for r in a) == emb.count()

    def test_inertia_non_increasing_over_iterations(self, spark, emb):
        from p2_mapreduce_spark.operators.similarity import kmeans_embeddings

        def inertia(it):
            rows = kmeans_embeddings(emb, iterations=it).collect()
            return sum(r["inertia"] for r in rows)

        i0, i2 = inertia(0), inertia(2)
        assert i2 <= i0 + 1e-9

    def test_empty_cluster_keeps_previous_centroid(self, spark):
        from p2_mapreduce_spark.operators.similarity import kmeans_embeddings

        # seeds 0 and 1 are identical: every point ties to cluster 0, so
        # cluster 1 goes empty on round 1 and must keep its seed centroid
        # rather than crash or divide by zero.  The kept (0,0) centroid
        # then legitimately recaptures the two origin points in the final
        # assignment while the updated cluster-0 centroid keeps the far
        # point — pinning both the empty-cluster path and the
        # ties-to-lowest rule.
        df = spark.createDataFrame(
            [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [0.5, 0.5])],
            "vec_id long, embedding array<float>",
        )
        rows = kmeans_embeddings(df, k=2, iterations=1).collect()
        got = {r["cluster"]: r for r in rows}
        assert set(got) == {0, 1}
        assert got[1]["n_members"] == 2  # origin points back on the seed
        assert got[1]["cnorm_q"] == 0  # the kept centroid IS the seed
        assert got[0]["n_members"] == 1

    def test_matches_exact_integer_reference(self, spark, emb):
        """Bit-exact parity with a driver-side pure-int Lloyd loop — the
        same all-integer protocol evaluated without Spark."""
        import math

        from p2_mapreduce_spark.operators.similarity import kmeans_embeddings

        S, k, d = 1 << 20, 4, None
        data = {
            int(r["vec_id"]): [
                math.floor(float(x) * S) for x in r["embedding"]
            ]
            for r in emb.select("vec_id", "embedding").collect()
        }
        ids = sorted(data)
        d = len(data[ids[0]])
        cents = {j: data[ids[j]][:] for j in range(k)}

        def assign():
            out = {}
            for vid in ids:
                out[vid] = min(
                    (
                        sum(
                            (data[vid][i] - cents[j][i]) ** 2
                            for i in range(d)
                        ),
                        j,
                    )
                    for j in sorted(cents)
                )
            return out

        for _ in range(2):
            members = {}
            for vid, (_, j) in assign().items():
                members.setdefault(j, []).append(vid)
            for j, vs in members.items():
                cents[j] = [
                    (1 if (s := sum(data[v][i] for v in vs)) >= 0 else -1)
                    * (abs(s) // len(vs))
                    for i in range(d)
                ]
        agg = {}
        for vid, (d2, j) in assign().items():
            n, iq = agg.get(j, (0, 0))
            agg[j] = (n + 1, iq + d2)
        want = sorted(
            (
                j,
                n,
                iq / float(1 << 40),
                sum(v * v for v in cents[j]),
            )
            for j, (n, iq) in agg.items()
        )
        got = sorted(map(tuple, kmeans_embeddings(emb).collect()))
        assert got == want


class TestKMeansSilhouette:
    def test_bounds_and_member_counts_match_fit(self, spark, emb):
        from p2_mapreduce_spark.operators.similarity import (
            kmeans_embeddings,
            kmeans_silhouette,
        )

        sil = {r["cluster"]: r for r in kmeans_silhouette(emb).collect()}
        fit = {r["cluster"]: r for r in kmeans_embeddings(emb).collect()}
        assert set(sil) == set(fit)
        for c, r in sil.items():
            assert r["n_members"] == fit[c]["n_members"]
            assert 0.0 <= r["mean_sil_ppm"] <= 1_000_000.0

    def test_duplicate_centroids_score_zero(self, spark):
        """Two identical seed centroids: every point's nearest and
        second-nearest distances tie (b == a), including the b == 0
        degenerate row — silhouette must be exactly 0, not NaN/error."""
        from p2_mapreduce_spark.operators.similarity import kmeans_silhouette

        df = spark.createDataFrame(
            [(0, [0.25, 0.25]), (1, [0.25, 0.25]), (2, [0.25, 0.25])],
            "vec_id long, embedding array<float>",
        )
        rows = kmeans_silhouette(df, k=2, iterations=1).collect()
        assert all(r["mean_sil_ppm"] == 0.0 for r in rows)

    def test_separated_blobs_score_high(self, spark):
        """Two tight, far-apart blobs with k=2: simplified silhouette
        must be near 1 (b >> a)."""
        from p2_mapreduce_spark.operators.similarity import kmeans_silhouette

        pts = [(i, [0.01 * i, 0.0]) for i in range(3)] + [
            (10 + i, [0.9 + 0.01 * i, 0.9]) for i in range(3)
        ]
        df = spark.createDataFrame(
            pts, "vec_id long, embedding array<float>"
        )
        rows = kmeans_silhouette(df, k=2, iterations=2).collect()
        assert sum(r["n_members"] for r in rows) == 6
        for r in rows:
            assert r["mean_sil_ppm"] > 900_000

    def test_k_below_two_rejected(self, spark, emb):
        import pytest as _pytest

        from p2_mapreduce_spark.operators.similarity import kmeans_silhouette

        with _pytest.raises(ValueError):
            kmeans_silhouette(emb, k=1)


def test_kmeans_family_tolerates_empty_and_tiny_inputs(spark):
    from p2_mapreduce_spark.operators.similarity import (
        kmeans_embeddings,
        kmeans_silhouette,
    )

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )
    assert kmeans_embeddings(empty).collect() == []
    assert kmeans_silhouette(empty).collect() == []
    one = spark.createDataFrame(
        [(7, [0.1, 0.2])], "vec_id long, embedding array<float>"
    )
    rows = kmeans_embeddings(one, k=4).collect()  # fewer rows than k
    assert len(rows) == 1 and rows[0]["n_members"] == 1
    assert kmeans_silhouette(one, k=4).collect() == []  # no 2nd centroid

"""Property tests for the approximate dedup operators: the LSH paths must
be exact-precision subsets of the exact-Jaccard oracle, with high recall
on high-similarity pairs."""

import pytest
from pyspark.sql import functions as F

from p2_mapreduce_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingle_pairs,
    simhash_fingerprints,
    simhash_near_pairs,
    winnow_fingerprints,
)
from p2_mapreduce_spark.operators.curation import _string_shingles
from p2_mapreduce_spark.operators.text_analysis import top_bigrams
from p2_mapreduce_spark.session import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_exact_dedup_accounts_for_all_rows(spark, docs):
    total = docs.count()
    agg = exact_dedup(docs).agg(F.sum("n_copies")).collect()[0][0]
    assert agg == total


def test_minhash_pairs_subset_of_exact_with_high_recall(spark, docs):
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    approx = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    # exact precision: every LSH pair is a true pair with the same jaccard
    for pair, j in approx.items():
        assert pair in exact and abs(exact[pair] - j) < 1e-12
    # high recall on strong pairs (16 bands × 4 rows: ~1.0 at j >= 0.8)
    strong = {p for p, j in exact.items() if j >= 0.8}
    if strong:
        found = strong & set(approx)
        assert len(found) / len(strong) >= 0.9


def test_simhash_deterministic_and_pairs_verified(spark, docs):
    fp1 = {r["doc"]: r["simhash"] for r in simhash_fingerprints(docs).collect()}
    fp2 = {
        r["doc"]: r["simhash"]
        for r in simhash_fingerprints(docs.repartition(7)).collect()
    }
    assert fp1 == fp2  # partition-invariant
    pairs = simhash_near_pairs(docs, max_hamming=3).collect()
    for r in pairs:
        x = fp1[r["doc_a"]] ^ fp1[r["doc_b"]]
        assert bin(x & 0xFFFFFFFFFFFFFFFF).count("1") == r["hamming"] <= 3


def test_short_and_empty_docs_dont_crash_shingles(spark):
    """Regression: sequence(1, stop<1) counts DOWN in Spark → slice(start=0)
    crash for docs shorter than the shingle width (or, for winnowing,
    than the window)."""
    df = spark.createDataFrame(
        [(1, "ab"), (2, ""), (3, "two words"), (4, None)], ["doc_id", "text"]
    )
    assert ngram_jaccard_pairs(df).count() == 0
    assert minhash_lsh_pairs(df).count() == 0
    # the other n-gram builders share the same window helper and guard
    assert winnow_fingerprints(df).count() == 0
    assert _string_shingles(df, 3, "text", "doc_id").count() == 0
    assert [tuple(r) for r in top_bigrams(df).collect()] == [("two words", 1)]


def test_identical_docs_are_perfect_pairs(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),
        (3, "totally different words entirely here now yes"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    exact = ngram_jaccard_pairs(df, threshold=0.99).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in exact] == [(1, 2, 1.0)]
    approx = minhash_lsh_pairs(df, threshold=0.99).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in approx] == [(1, 2)]
    sim = simhash_near_pairs(df, max_hamming=0).collect()
    assert [(r["doc_a"], r["doc_b"], r["hamming"]) for r in sim] == [(1, 2, 0)]


def test_minhash_recall_is_total_on_fixture(spark, docs):
    """The dedup_minhash ORACLE is the exact-Jaccard SQL — valid only
    while LSH recall on the fixture is total.  Pin exact set equality
    (ids AND jaccard values) so any drift fails here before the driver."""
    exact = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    approx = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert approx == exact


def test_hot_shingle_df_cap_keeps_candidates_linear(spark):
    """Pathological corpus: every doc shares one boilerplate shingle.
    Without a df cap the self-join emits all n(n-1)/2 pairs; with the cap
    the boilerplate key is dropped and only the planted dup pair
    survives.  This is the 100 TB quadratic-blowup guard."""
    n = 60
    rows = [
        (i, f"common header line followed by unique{i} token{i} filler{i} words{i}")
        for i in range(n)
    ]
    rows.append((n, rows[0][1]))  # planted exact dup of doc 0
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    uncapped = shingle_pairs(df, max_df=None)
    assert uncapped.count() == (n + 1) * n / 2  # quadratic: every pair collides

    capped = shingle_pairs(df, max_df=10)
    pairs = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert pairs == {(0, n)}  # linear: only the true dup pair remains

    # jaccard semantics stay consistent: sizes/intersections both use the
    # capped shingle sets, so the planted dup still scores 1.0
    j = ngram_jaccard_pairs(df, threshold=0.99, max_df=10).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in j] == [(0, n, 1.0)]

    # minhash band-bucket cap: the boilerplate shingle alone doesn't place
    # every doc in one bucket (signatures use all shingles), but the cap
    # path must still return exactly the planted pair
    mh = minhash_lsh_pairs(df, threshold=0.99, max_bucket=10).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in mh] == [(0, n)]


def test_simhash_md5_family_matches_xx_semantics(spark):
    """The md5 (60-bit, oracle-comparable) and xx (64-bit) hash families
    are interchangeable semantically: identical docs collide at hamming 0
    in both, and fingerprints are partition-invariant in both."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),
        (3, "totally different words entirely here now yes"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for fam in ("xx", "md5"):
        pairs = simhash_near_pairs(df, max_hamming=0, hash_fn=fam).collect()
        assert [(r["doc_a"], r["doc_b"], r["hamming"]) for r in pairs] == [(1, 2, 0)]
        fp1 = {r["doc"]: r["simhash"] for r in simhash_fingerprints(df, hash_fn=fam).collect()}
        fp2 = {
            r["doc"]: r["simhash"]
            for r in simhash_fingerprints(df.repartition(5), hash_fn=fam).collect()
        }
        assert fp1 == fp2
        if fam == "md5":  # 60-bit space: fingerprints are non-negative
            assert all(v >= 0 for v in fp1.values())


def test_incremental_equals_cross_split_slice_of_batch(spark, sf_dir):
    """Incremental LSH over a (new, corpus) split finds exactly the
    cross-split subset of the full-batch pairs — no pair invented, none
    lost at the boundary."""
    from pyspark.sql import functions as F

    from p2_mapreduce_spark.operators.dedup import (
        minhash_lsh_incremental,
        minhash_lsh_pairs,
    )
    from p2_mapreduce_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    full = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_lsh_pairs(docs).collect()
        if (r["doc_a"] % 5 == 4) != (r["doc_b"] % 5 == 4)
    }
    inc = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_lsh_incremental(
            docs.filter((F.col("doc_id") % 5) == 4),
            docs.filter((F.col("doc_id") % 5) != 4),
        ).collect()
    }
    assert inc == full


def test_incremental_from_persisted_index_matches_direct(spark, sf_dir, tmp_path):
    """save_lsh_index → load_lsh_index → incremental == incremental
    computed directly from the corpus docs."""
    from pyspark.sql import functions as F

    from p2_mapreduce_spark.operators.dedup import (
        build_lsh_artifacts,
        load_lsh_index,
        minhash_lsh_incremental,
        save_lsh_index,
    )
    from p2_mapreduce_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter((F.col("doc_id") % 5) == 4)
    corpus = docs.filter((F.col("doc_id") % 5) != 4)

    direct = {
        tuple(r) for r in minhash_lsh_incremental(new, corpus).collect()
    }
    root = str(tmp_path / "lsh_index")
    save_lsh_index(build_lsh_artifacts(corpus), root)
    via_index = {
        tuple(r)
        for r in minhash_lsh_incremental(
            new, corpus_index=load_lsh_index(spark, root)
        ).collect()
    }
    assert via_index == direct and direct


def test_allpairs_equals_naive_exact_join(spark, docs):
    """Prefix filtering must lose nothing: allpairs == unpruned exact
    Jaccard join, row for row, at the operator's threshold."""
    from p2_mapreduce_spark.operators.dedup import allpairs_jaccard

    ap = sorted(
        tuple(r) for r in allpairs_jaccard(docs, threshold=0.45).collect()
    )
    naive = sorted(
        tuple(r)
        for r in ngram_jaccard_pairs(docs, threshold=0.45, max_df=None).collect()
    )
    assert ap == naive
    assert len(ap) > 0


def test_allpairs_exact_under_hot_boilerplate_shingle(spark):
    """A shingle shared by EVERY doc (the quadratic hazard for the
    inverted-index path) must not perturb allpairs: the boilerplate
    shingle sorts last in the df-ascending prefix order, stays out of
    every prefix, and the result still equals the naive join."""
    from p2_mapreduce_spark.operators.dedup import allpairs_jaccard

    boiler = "copyright acme corp"
    rows = [
        (i, f"{boiler} unique{i} token{i} payload{i} tail{i} extra{i}")
        for i in range(40)
    ] + [
        # one true near-dup pair sharing most of their shingles
        (100, f"{boiler} alpha beta gamma delta epsilon zeta eta"),
        (101, f"{boiler} alpha beta gamma delta epsilon zeta theta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ap = sorted(
        tuple(r)[:2]
        for r in allpairs_jaccard(docs, threshold=0.5).collect()
    )
    naive = sorted(
        tuple(r)[:2]
        for r in ngram_jaccard_pairs(docs, threshold=0.5, max_df=None).collect()
    )
    assert ap == naive
    assert (100, 101) in ap


def test_blocked_linkage_equals_all_pairs_within_blocks(spark, sf_dir):
    """Blocking must be lossless for same-block pairs and must never
    emit a cross-block pair."""
    from p2_mapreduce_spark.operators.dedup import blocked_linkage
    from p2_mapreduce_spark.session import load_table

    parts = load_table(spark, sf_dir, "part")
    got = {
        (r.name_a, r.name_b): (r.block, r.dist)
        for r in blocked_linkage(parts, parts, max_dist=4).collect()
    }
    import itertools

    names = sorted(r.p_name for r in parts.select("p_name").distinct().collect())
    expect = {}
    for a, b in itertools.combinations(names, 2):
        if a.split()[-1] != b.split()[-1]:
            continue
        # pure-python levenshtein (tiny inputs)
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        if prev[-1] <= 4:
            expect[(a, b)] = (a.split()[-1], prev[-1])
    assert got == expect
    assert len(got) > 0


def test_containment_catches_quotes_jaccard_misses(spark):
    from p2_mapreduce_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    book = " ".join(f"tok{i}" for i in range(200))
    quote = " ".join(f"tok{i}" for i in range(50, 60))
    docs = spark.createDataFrame(
        [(1, book), (2, quote), (3, "zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    cont = {(r.doc_a, r.doc_b): r.containment
            for r in containment_pairs(docs, threshold=0.9).collect()}
    assert (1, 2) in cont and cont[(1, 2)] == 1.0
    jac = {(r.doc_a, r.doc_b)
           for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) not in jac


def test_lsh_recall_gate_is_one_on_fixture(spark, sf_dir):
    """At fixture scale the banded-LSH parameters are lossless: the
    gate must report recall exactly 1.0 with n_lsh == n_exact, and the
    LSH pair set must be a SUBSET of the exact one by construction."""
    from p2_mapreduce_spark.operators.dedup import (
        allpairs_jaccard,
        lsh_recall,
        minhash_lsh_pairs,
    )
    from p2_mapreduce_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    row = lsh_recall(docs).collect()[0]
    assert row["recall"] == 1.0
    assert row["n_lsh"] == row["n_exact"] == row["n_hit"]
    exact = {(r["doc_a"], r["doc_b"])
             for r in allpairs_jaccard(docs, 0.5).collect()}
    lsh = {(r["doc_a"], r["doc_b"])
           for r in minhash_lsh_pairs(docs, 0.5).collect()}
    assert lsh <= exact


class TestWeightedSimhash:
    def test_rare_content_outvotes_stopword_glue(self, spark):
        """Two docs sharing rare content but wrapped in DIFFERENT
        boilerplate: idf weighting must pull their fingerprints
        together relative to the unweighted vote."""
        from p2_mapreduce_spark.operators.dedup import (
            simhash_fingerprints,
            simhash_weighted_fingerprints,
        )

        glue_a = "the a of to in and " * 6
        glue_b = "is was be on at by " * 6
        rare = "zyzzyva quixotic phlogiston absquatulate"
        # boilerplate must be CORPUS-frequent for idf to downweight it:
        # every filler doc carries both glue sets (df ≈ N → weight 1),
        # while the rare content appears only in docs 1-2 (weight N/2)
        filler = [
            (i + 10, f"{glue_a} {glue_b} common words here doc number {i}")
            for i in range(30)
        ]
        docs = spark.createDataFrame(
            [(1, f"{glue_a} {rare}"), (2, f"{glue_b} {rare}")] + filler,
            "doc_id long, text string",
        )

        def hamming(fps):
            d = {r["doc"]: r["simhash"] for r in fps.collect()}
            return bin(d[1] ^ d[2]).count("1")

        hw = hamming(simhash_weighted_fingerprints(docs, hash_fn="md5"))
        hu = hamming(simhash_fingerprints(docs, hash_fn="md5"))
        assert hw < hu  # weighting moves the shared-content pair closer

    def test_regroup_matches_bruteforce_occurrence_votes(self, spark):
        """r10: votes are summed at distinct (doc, token) grain with an
        occurrence count.  A pure-Python occurrence-grain brute force
        over a corpus with heavy token REPETITION must reproduce both
        the weighted and unweighted fingerprints bit-for-bit."""
        import hashlib
        import re
        from collections import Counter

        from p2_mapreduce_spark.operators.dedup import (
            simhash_fingerprints,
            simhash_weighted_fingerprints,
        )

        rows = [
            (1, "spark spark spark shuffle Shuffle JOIN join join join"),
            (2, "spark shuffle join"),
            (3, "alpha alpha beta beta beta gamma spark"),
            (4, "alpha beta GAMMA gamma spark spark shuffle"),
            (5, "unique tokens only here"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")

        def toks(t):
            return [w.lower() for w in re.split(r"[^0-9A-Za-z]+", t) if w]

        def h60(tok):
            return int(hashlib.md5(tok.encode()).hexdigest()[17:32], 16)

        n_docs = len(rows)
        df = Counter()
        for _, t in rows:
            for tok in set(toks(t)):
                df[tok] += 1

        def brute(weighted):
            out = {}
            for did, t in rows:
                votes, tot = [0] * 60, 0
                for tok in toks(t):  # occurrence grain — the old order
                    w = max(1, n_docs // df[tok]) if weighted else 1
                    tot += w
                    hv = h60(tok)
                    for i in range(60):
                        votes[i] += ((hv >> i) & 1) * w
                out[did] = sum(
                    1 << i for i in range(60) if votes[i] * 2 > tot
                )
            return out

        got_u = {r["doc"]: r["simhash"]
                 for r in simhash_fingerprints(docs, hash_fn="md5").collect()}
        got_w = {
            r["doc"]: r["simhash"]
            for r in simhash_weighted_fingerprints(docs, hash_fn="md5").collect()
        }
        assert got_u == brute(False)
        assert got_w == brute(True)

    def test_uniform_df_reduces_to_unweighted(self, spark):
        """When every token has the same df, all weights are equal, so
        the weighted fingerprint must equal the unweighted one."""
        from p2_mapreduce_spark.operators.dedup import (
            simhash_fingerprints,
            simhash_weighted_fingerprints,
        )

        docs = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "alpha beta gamma")],
            "doc_id long, text string",
        )
        w = {r["doc"]: r["simhash"]
             for r in simhash_weighted_fingerprints(docs, hash_fn="md5").collect()}
        u = {r["doc"]: r["simhash"]
             for r in simhash_fingerprints(docs, hash_fn="md5").collect()}
        assert w == u

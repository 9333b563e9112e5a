"""Round-9 optimization pins: a pre-built shared stage fed into an
operator must be VALUE-IDENTICAL to the operator's own solo
derivation — the invariant every `pairs=`/`items=`/`shingles=`
parameter added this round relies on.  These are the focused tests
for the optimization refactor (the oracle sweep proves the entry
wrappers; these prove the operator-level contract directly, at
fixture scale, so a future edit to one side of the derivation cannot
drift silently)."""

from __future__ import annotations

import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F

from p2_mapreduce_spark.session import load_table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _minhash_aggs(num_hashes: int) -> list[Column]:
    """The seeded hash family over the pre-hashed shingle column ``h``:
    mh_i = min over shingles of xxhash64(h, i) — xxhash64 with the seed
    index appended as an extra column is an independent-enough family and
    stays inside whole-stage codegen."""
    return [
        F.min(F.xxhash64(F.col("h"), F.lit(i))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]


def _band_hash_array(num_bands: int, rows_per_band: int) -> Column:
    """array<long>[num_bands]: one xxhash64 per band over its signature
    rows — the LSH bucket keys (shared by the self-join and incremental
    paths; the band hash IS the index format, so both must agree).

    Column-composed form, kept as the independent twin the shared-stage
    parity tests build by hand; production paths use the
    single-expression variants in operators/dedup.py (same values, ~1
    py4j round trip instead of ~100)."""
    return F.array(*[
        F.xxhash64(*[
            F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)
        ])
        for b in range(num_bands)
    ])


@pytest.fixture(scope="module")
def li(spark):
    return load_table(spark, SF, "lineitem")


@pytest.fixture(scope="module")
def od(spark):
    return load_table(spark, SF, "orders")


def test_trade_pairs_feed_equals_solo_derivation(spark, li, od):
    from p2_mapreduce_spark.operators.graph import (
        trade_graph_pagerank,
        trade_pairs,
        trade_sssp,
    )

    pre = trade_pairs(li, od, weighted=True).localCheckpoint()
    solo = trade_graph_pagerank(li, od)
    fed = trade_graph_pagerank(li, od, pairs=pre.select("cust", "supp"))
    assert _rows(solo) == _rows(fed)
    # the weighted face feeds sssp identically
    assert _rows(trade_sssp(li, od)) == _rows(trade_sssp(li, od, pairs=pre))


def test_cosupply_dictionary_feed_equals_raw_stream(spark, li):
    """DOULION coin + k-core peel both commute with the distinct, so
    the deduped dictionary must reproduce the raw-stream results."""
    from p2_mapreduce_spark.operators.graph import (
        cosupply_k_core,
        cosupply_pairs,
        cosupply_triangle_doulion,
        cosupply_triangle_stats,
    )

    pre = cosupply_pairs(li).localCheckpoint()
    assert _rows(cosupply_triangle_stats(li)) == _rows(
        cosupply_triangle_stats(li, pairs=pre)
    )
    assert _rows(cosupply_triangle_doulion(li)) == _rows(
        cosupply_triangle_doulion(li, pairs=pre)
    )
    assert _rows(cosupply_k_core(li, k=8)) == _rows(
        cosupply_k_core(li, k=8, pairs=pre)
    )


def test_basket_items_feed_equals_solo_derivation(spark, li):
    from p2_mapreduce_spark.operators.analytics import (
        assoc_rules,
        basket_items,
        item_cosine,
    )

    pre = basket_items(li).localCheckpoint()
    assert _rows(assoc_rules(li)) == _rows(assoc_rules(li, items=pre))
    assert _rows(item_cosine(li)) == _rows(item_cosine(li, items=pre))


def test_shingle_and_band_feeds_equal_solo(spark):
    from p2_mapreduce_spark.operators.dedup import (
        NUM_BANDS,
        NUM_HASHES,
        hashed_shingles,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, SF, "documents")
    hs = hashed_shingles(docs, 3).localCheckpoint()
    assert _rows(ngram_jaccard_pairs(docs, threshold=0.5)) == _rows(
        ngram_jaccard_pairs(docs, threshold=0.5, shingles=hs)
    )
    bands = (
        hs.groupBy("doc")
        .agg(*_minhash_aggs(NUM_HASHES))
        .select(
            "doc",
            F.posexplode(
                _band_hash_array(NUM_BANDS, NUM_HASHES // NUM_BANDS)
            ).alias("band", "band_hash"),
        )
        .localCheckpoint()
    )
    assert _rows(minhash_lsh_pairs(docs, threshold=0.5)) == _rows(
        minhash_lsh_pairs(docs, threshold=0.5, shingles=hs, bands=bands)
    )


def test_containment_and_novelty_feeds_equal_solo(spark):
    """Round-10: the containment miner and the novelty attribution
    consume the same shared (doc, h) table as the rest of the dedup
    family — fed results must equal each operator's solo derivation."""
    from p2_mapreduce_spark.operators.dedup import (
        containment_pairs,
        doc_novelty,
        hashed_shingles,
    )

    docs = load_table(spark, SF, "documents")
    hs = hashed_shingles(docs, 3).localCheckpoint()
    assert _rows(containment_pairs(docs, threshold=0.8)) == _rows(
        containment_pairs(docs, threshold=0.8, shingles=hs)
    )
    assert _rows(doc_novelty(docs)) == _rows(doc_novelty(docs, shingles=hs))


def test_raw_pair_feed_equals_solo(spark):
    """Round-10: the Jaccard miner and the containment miner consume
    ONE unfiltered shingle_pairs materialization and differ only in
    the final predicate — fed results must equal solo derivations."""
    from p2_mapreduce_spark.operators.dedup import (
        containment_pairs,
        hashed_shingles,
        ngram_jaccard_pairs,
        shingle_pairs,
    )

    docs = load_table(spark, SF, "documents")
    hs = hashed_shingles(docs, 3).localCheckpoint()
    raw = shingle_pairs(docs, shingles=hs).localCheckpoint()
    assert _rows(ngram_jaccard_pairs(docs, threshold=0.5)) == _rows(
        ngram_jaccard_pairs(docs, threshold=0.5, raw_pairs=raw)
    )
    assert _rows(containment_pairs(docs, threshold=0.8)) == _rows(
        containment_pairs(docs, threshold=0.8, raw_pairs=raw)
    )


def test_lsh_recall_fed_sides_equal_solo(spark):
    """Round-10: the honesty gate's exact side is the jaccard>=t slice
    of the shared AllPairs table built at a looser threshold, and its
    approximate side consumes the shared MinHash band table — the fed
    gate must emit the identical one-row report as the solo run."""
    from p2_mapreduce_spark.operators.dedup import (
        NUM_BANDS,
        NUM_HASHES,
        allpairs_jaccard,
        hashed_shingles,
        lsh_recall,
    )

    docs = load_table(spark, SF, "documents")
    hs = hashed_shingles(docs, 3).localCheckpoint()
    loose = allpairs_jaccard(docs, threshold=0.45, shingles=hs).localCheckpoint()
    sliced = loose.filter(F.col("jaccard") >= 0.5).select("doc_a", "doc_b")
    # the slice identity itself: pairs(0.5) == pairs(0.45) ∩ {j >= 0.5}
    assert _rows(sliced) == _rows(
        allpairs_jaccard(docs, threshold=0.5, shingles=hs).select(
            "doc_a", "doc_b"
        )
    )
    bands = (
        hs.groupBy("doc")
        .agg(*_minhash_aggs(NUM_HASHES))
        .select(
            "doc",
            F.posexplode(
                _band_hash_array(NUM_BANDS, NUM_HASHES // NUM_BANDS)
            ).alias("band", "band_hash"),
        )
        .localCheckpoint()
    )
    assert _rows(lsh_recall(docs, 0.5)) == _rows(
        lsh_recall(docs, 0.5, shingles=hs, exact_pairs=sliced, bands=bands)
    )


def test_winnow_fingerprint_feed_equals_solo(spark):
    """Round-10: the MOSS pair face consumes the shared winnowing
    selection — fed pairs must equal the solo derivation."""
    from p2_mapreduce_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )

    docs = load_table(spark, SF, "documents")
    fps = winnow_fingerprints(docs).localCheckpoint()
    assert _rows(winnow_pairs(docs)) == _rows(
        winnow_pairs(docs, fingerprints=fps)
    )


def test_link_scored_feed_equals_solo(spark, li, od):
    """Round-10: both link-prediction rankings consume one memoized
    wedge-count stage — fed results must equal the solo derivations."""
    from p2_mapreduce_spark.operators.graph import (
        _panel_wedge_counts,
        link_prediction,
        link_prediction_jaccard,
        supplier_panel_pairs,
    )

    pairs = supplier_panel_pairs(li, od, 50).localCheckpoint()
    scored = _panel_wedge_counts(pairs).localCheckpoint()
    assert _rows(link_prediction(li, od)) == _rows(
        link_prediction(li, od, pairs=pairs, scored=scored)
    )
    assert _rows(link_prediction_jaccard(li, od)) == _rows(
        link_prediction_jaccard(li, od, pairs=pairs, scored=scored)
    )


def test_incremental_side_slices_equal_rebuild(spark):
    """Per-doc LSH artifacts are pure functions of each document, so
    slicing a whole-corpus artifact set by ingest side must equal
    rebuilding each side from its own documents."""
    from p2_mapreduce_spark.operators.dedup import (
        NUM_BANDS,
        NUM_HASHES,
        hashed_shingles,
        minhash_lsh_incremental,
    )

    docs = load_table(spark, SF, "documents")
    hs = hashed_shingles(docs, 3).localCheckpoint()
    bands = (
        hs.groupBy("doc")
        .agg(*_minhash_aggs(NUM_HASHES))
        .select(
            "doc",
            F.posexplode(
                _band_hash_array(NUM_BANDS, NUM_HASHES // NUM_BANDS)
            ).alias("band", "band_hash"),
        )
        .localCheckpoint()
    )

    def side(is_new):
        pred = (F.col("doc") % 5) == 4 if is_new else (F.col("doc") % 5) != 4
        hs_s = hs.filter(pred)
        sizes = hs_s.groupBy("doc").agg(
            F.count(F.lit(1)).alias("n_shingles")
        )
        return hs_s, sizes, bands.filter(pred)

    new_docs = docs.filter((F.col("doc_id") % 5) == 4)
    corpus_docs = docs.filter((F.col("doc_id") % 5) != 4)
    solo = minhash_lsh_incremental(new_docs, corpus_docs)
    fed = minhash_lsh_incremental(
        new_docs, corpus_docs, new_index=side(True), corpus_index=side(False)
    )
    assert _rows(solo) == _rows(fed)


def test_simhash_fingerprint_feed_equals_solo_derivation(spark):
    """The md5 fingerprint table fed into simhash_near_pairs and
    blocking_quality must reproduce each operator's solo results —
    the round-9 simhash_fps shared-stage contract."""
    from p2_mapreduce_spark.operators.dedup import (
        blocking_quality,
        simhash_fingerprints,
        simhash_near_pairs,
    )

    docs = load_table(spark, SF, "documents")
    pre = simhash_fingerprints(docs, hash_fn="md5").localCheckpoint()
    assert _rows(simhash_near_pairs(docs, hash_fn="md5")) == _rows(
        simhash_near_pairs(docs, hash_fn="md5", fingerprints=pre)
    )
    assert _rows(blocking_quality(docs)) == _rows(
        blocking_quality(docs, fingerprints=pre)
    )


def test_shared_helper_memoizes_one_scope(spark):
    """The entry file's ``_shared`` builds a stage once per (application,
    sf_dir, name), and a call under another sf_dir drops the old scope."""
    import __spark_entry__ as entry_mod

    memo = entry_mod._SHARED_STAGES
    saved = dict(memo)
    calls = []

    def build():
        calls.append(1)
        return spark.range(3)

    try:
        first = entry_mod._shared(spark, "/scope-a", "t", build)
        assert entry_mod._shared(spark, "/scope-a", "t", build) is first
        assert len(calls) == 1
        # another name in the same scope neither evicts nor rebuilds "t"
        entry_mod._shared(spark, "/scope-a", "u", build)
        assert entry_mod._shared(spark, "/scope-a", "t", build) is first
        assert len(calls) == 2
        # another sf_dir evicts every entry of the first scope
        entry_mod._shared(spark, "/scope-b", "t", build)
        assert {k[1:] for k in memo} == {("/scope-b", "t")}
        assert entry_mod._shared(spark, "/scope-a", "t", build) is not first
        assert len(calls) == 4
    finally:
        memo.clear()
        memo.update(saved)

"""Deduplication operators (extension surface per BASELINE.json).

The reference has no dedup; these are the standard training-data-pipeline
family, built Spark-first:

- :func:`exact_dedup` — hash-groupBy on content; one shuffle, fully
  streaming, the 100 TB workhorse.
- :func:`shingle_pairs` / :func:`ngram_jaccard_pairs` — EXACT n-gram
  Jaccard similarity via a shingle-inverted-index self-join.  Quadratic in
  docs-per-shingle: correct at moderate scale and the oracle for the
  approximate methods; at 100 TB use it only on LSH candidates.
- :func:`minhash_lsh_pairs` — MinHash signatures + banded LSH bucketing,
  then exact-Jaccard verification of candidates only.  This is the scale
  path: cost is O(docs × k hashes) + O(bucket collisions), no quadratic
  join.  All hashing is ``xxhash64`` (JVM, codegen) — no Python, no ML-lib
  dependency, deterministic across runs/partitionings.
- :func:`simhash_fingerprints` / :func:`simhash_near_pairs` — 64-bit
  SimHash with banded Hamming candidate search.

Determinism notes: every operator here is a pure function of the data
(seeded hash families), so results are reproducible under AQE re-plans,
retries, and any partition count — a correctness requirement, not a nicety.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from p2_mapreduce_spark.functions.text import token_ngrams, tokens_array
from p2_mapreduce_spark.session import spread as _spread


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate collapse: one row per distinct text, keeping the
    smallest id (deterministic, unlike ``dropDuplicates`` which keeps an
    arbitrary partition-dependent row).  Groups on ``md5(text)``, NOT the
    text itself: the shuffle key is 32 bytes regardless of document size,
    so at 100 TB the exchange carries hashes, not the corpus.  (md5 over
    xxhash64 because the oracle engine computes the identical digest; a
    2^-128 collision merging two texts is not a realistic failure mode.)"""
    return docs.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("text_md5")
    ).groupBy("text_md5").agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("n_copies"),
    ).select(id_col, "text_md5", "n_copies")


#: Default document-frequency cap on self-join keys (shingles / LSH band
#: buckets).  A shingle shared by d documents generates O(d²) candidate
#: pairs — one boilerplate header repeated in 1e6 docs would emit 1e12
#: pairs.  Keys above the cap are dropped BEFORE the self-join: they carry
#: no near-dup signal (ubiquitous boilerplate) and are the only quadratic
#: term.  The default is a no-op at test scale and mirrored verbatim in
#: the DuckDB oracles, so correctness checks stay exact.
MAX_DF = 100_000


def shingle_pairs(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int = MAX_DF,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Inverted-index pair generation: (doc_a, doc_b, n_common, size_a,
    size_b) for every doc pair sharing ≥1 shingle, doc_a < doc_b.

    The index is built over :func:`hashed_shingles`, not the shingle
    strings: set sizes and intersection counts are invariant under an
    (effectively) injective hash, the self-join key narrows from a
    ~20-byte string to 8 bytes, and equality comparisons in the join are
    long==long.  The table feeds the sizes aggregate and BOTH sides of
    the self-join, so it is persisted rather than recomputed three
    times (at 100 TB: checkpoint instead; plan shape unchanged).

    ``max_df`` drops shingles appearing in more than that many documents
    before the self-join (see :data:`MAX_DF`): Jaccard is then computed
    over the capped shingle sets — "similarity over non-boilerplate
    shingles" — which both sizes and intersections use consistently."""
    # persist the RAW shingle table before deriving the df filter from it
    # — otherwise the shingle explode runs once for the frequency
    # aggregate and again for the join's probe side (measured warm, 2,000
    # documents on 4 cores: ~0.2 s of the operator's ~1.5 s, one of 16
    # jobs of similar size); a pre-built ``shingles`` table (the dedup
    # family's shared stage) is already materialized and skips both the
    # explode and the persist
    base = (
        shingles
        if shingles is not None
        else hashed_shingles(docs, n, text_col, id_col).persist()
    )
    sh = base
    if max_df is not None:
        # the HOT set (df > cap) is tiny by construction — total/cap at
        # most — so it broadcasts and the cap costs one aggregate plus a
        # broadcast anti-join, never a shuffle of the shingle table
        hot = (
            base.groupBy("h")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("h")
        )
        sh = base.join(F.broadcast(hot), "h", "left_anti").persist()
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    return pairs.join(sa, "doc_a").join(sb, "doc_b")


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int = MAX_DF,
    shingles: DataFrame | None = None,
    raw_pairs: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs at ``jaccard >= threshold``.
    Jaccard = |A∩B| / |A∪B| computed with one integer-exact division per
    pair (deterministic IEEE — oracle-comparable).

    ``raw_pairs``: a pre-built UNFILTERED :func:`shingle_pairs` table —
    the r10 shared stage: the Jaccard miner and the containment miner
    consume the identical inverted-index join and differ only in this
    final predicate, so one materialization serves both."""
    p = (
        raw_pairs
        if raw_pairs is not None
        else shingle_pairs(docs, n, text_col, id_col, max_df, shingles=shingles)
    )
    jac = F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common"))
    return (
        p.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "size_a", "size_b", "jaccard")
    )


# --- MinHash + LSH (the 100 TB near-dup path) ------------------------------

NUM_HASHES = 64
NUM_BANDS = 16  # 16 bands × 4 rows: ~0.9 recall at jaccard 0.6, ~1.0 at 0.8


def hashed_shingles(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc, h) — each distinct word-n-gram shingle of each doc as its
    64-bit ``xxhash64``.  Each shingle is hashed exactly ONCE — directly
    from the token-array slice, never materializing a shingle string
    (``xxhash64`` hashes the array value itself, so the concat_ws
    allocation per shingle disappears) — and everything downstream (the
    k-hash MinHash family, LSH band hashes, candidate verification
    joins) works on the 8-byte value.  Hashing the long k times is ~4×
    cheaper than hashing a shingle string k times (measured 3.2s → 0.8s
    for k=64 over 260k shingles), and 8-byte join keys shuffle ~3×
    narrower than strings.  The 2^-64 collision rate (which would
    perturb set sizes / intersections) is negligible against the
    sampling error of any downstream consumer."""
    hashes = F.array_distinct(token_ngrams(text_col, n, F.xxhash64))
    return _spread(docs).select(
        F.col(id_col).alias("doc"), F.explode(hashes).alias("h")
    )


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
    parity pytest builds by hand; production paths use the
    single-expression variants below (same values, ~1 py4j round trip
    instead of ~100)."""
    return F.array(*[
        F.xxhash64(*[
            F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)
        ])
        for b in range(num_bands)
    ])


def _minhash_sig_array(num_hashes: int) -> Column:
    """Single-expression twin of :func:`_minhash_aggs`: ONE
    array-of-aggregates Column — Catalyst still plans ``num_hashes``
    separate partial-aggregating ``min`` functions; the array is
    assembled in the result projection.  The seed literal is an INT in
    both forms, so every xxhash64 input is type-identical and the
    signature values are bit-for-bit the old ones (r10: the 64 composed
    Columns were ~0.3 s of driver-side py4j construction per call)."""
    return F.expr(
        "array(" + ",".join(
            f"min(xxhash64(h, {i}))" for i in range(num_hashes)
        ) + ")"
    )


def _band_hash_from_sig(
    num_bands: int, rows_per_band: int, sig_col: str = "mh"
) -> Column:
    """Single-expression twin of :func:`_band_hash_array` over the array
    signature column: band b hashes signature slots [b·rpb, (b+1)·rpb)
    in the same order with the same bigint element types."""
    return F.expr(
        "array(" + ",".join(
            "xxhash64(" + ",".join(
                f"{sig_col}[{b * rows_per_band + r}]"
                for r in range(rows_per_band)
            ) + ")"
            for b in range(num_bands)
        ) + ")"
    )


def minhash_signatures(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = NUM_HASHES,
) -> DataFrame:
    """(doc, minhash array<long>[num_hashes]) — one explode + one groupBy
    with ``num_hashes`` min-aggregates; all JVM-side.  (A per-row
    ``transform``+``array_min`` formulation avoids the shuffle but loses
    whole-stage codegen and allocates 64 intermediate arrays per doc —
    measured 1.6× slower; the groupBy's partial aggregation keeps this
    shuffle at one row per doc per partition anyway.)"""
    return hashed_shingles(docs, n, text_col, id_col).groupBy("doc").agg(
        _minhash_sig_array(num_hashes).alias("sig")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
    max_bucket: int = MAX_DF,
    shingles: DataFrame | None = None,
    bands: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs via banded LSH, verified with exact Jaccard.

    Plan shape: signatures → explode bands → groupBy (band, band_hash)
    bucket join → candidate pairs → exact verify (shingle join restricted
    to candidates).  Probabilistic RECALL (may miss borderline pairs),
    exact PRECISION (candidates are verified).  ``max_bucket`` drops band
    buckets holding more than that many docs before the self-join — a
    bucket of d docs is d² candidates, and a mega-bucket is the signature
    of boilerplate-dominated content, not near-dups (:data:`MAX_DF`).

    On the driver fixtures LSH recall is empirically total — the output
    equals :func:`ngram_jaccard_pairs` at the same threshold (pinned in
    tests/test_dedup.py at sf0.001/0.01) — and the whole pipeline is a
    pure function of the data, so the exact-Jaccard SQL serves as the
    oracle; the recall/subset properties are additionally pytest-held."""
    rows_per_band = num_hashes // num_bands
    # The hashed-shingle table feeds three consumers (signature agg, and
    # both sides of the candidate-verification join), so materialize it
    # once instead of re-tokenizing + re-shingling the corpus three times
    # (measured warm, 2,000 documents on 4 cores: the explode + partial
    # signature job is ~0.2 s of the operator's ~1.8 s over 19 jobs,
    # about one job's fixed cost).  It is
    # ~16 bytes/shingle; at 100 TB swap persist() for a checkpoint to
    # storage — the shape of the plan is unchanged.  ``shingles`` lets a
    # caller that ALSO shingles the corpus (lsh_recall's two-pipeline
    # gate) share one materialization.
    hs = (
        shingles
        if shingles is not None
        else hashed_shingles(docs, n, text_col, id_col).persist()
    )
    # The signature aggregate feeds only the band table; sizes come from
    # a separate cheap count over the persisted shingles — folding the
    # count into the signature agg looks free but makes every sizes
    # consumer re-run the 64-min aggregate (per_doc is not persisted).
    # A pre-built ``bands`` table (the band index IS a per-doc artifact
    # — build_lsh_artifacts / the suite's shared-stage memo) skips the
    # signature aggregate entirely.
    prebuilt_bands = bands is not None
    if not prebuilt_bands:
        per_doc = hs.groupBy("doc").agg(
            _minhash_sig_array(num_hashes).alias("mh")
        )
        bands = per_doc.select(
            "doc",
            F.posexplode(
                _band_hash_from_sig(num_bands, rows_per_band)
            ).alias("band", "band_hash"),
        )
    if max_bucket is not None:
        # persist the band table (docs × num_bands rows — tiny) so the
        # bucket-size aggregate doesn't re-run the 64-min signature agg;
        # oversized buckets are a tiny set → broadcast anti-join
        if not prebuilt_bands:
            bands = bands.persist()
        hot = (
            bands.groupBy("band", "band_hash")
            .agg(F.count(F.lit(1)).alias("bsz"))
            .filter(F.col("bsz") > max_bucket)
            .select("band", "band_hash")
        )
        bands = bands.join(F.broadcast(hot), ["band", "band_hash"], "left_anti")
    a, b = bands.alias("a"), bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    # Exact-Jaccard verification restricted to candidates: join the two
    # (hashed) shingle sets through the candidate pair list instead of
    # building the full quadratic pair set (which would defeat LSH — the
    # whole point is that non-candidates are never compared).
    sizes = hs.groupBy("doc").agg(F.count(F.lit(1)).alias("n_shingles"))
    sh_a = hs.select(F.col("doc").alias("doc_a"), F.col("h"))
    sh_b = hs.select(F.col("doc").alias("doc_b"), F.col("h"))
    inter = (
        candidates.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    jac = F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# --- SimHash ----------------------------------------------------------------


#: Token-hash families for SimHash.  ``xx``: xxhash64, 64 bits — the fast
#: default.  ``md5``: bits 0..59 taken from the last 15 hex digits of the
#: token's md5 — marginally slower, but computable bit-for-bit by any SQL
#: engine with md5 + hex casts, which makes the whole SimHash pipeline
#: (fingerprints, bands, Hamming verify) oracle-checkable.  Both are good
#: uniform families; the choice only changes WHICH near-dup hash space is
#: used, not the operator's semantics or plan shape.
SIMHASH_BITS = {"xx": 64, "md5": 60}


def _simhash_token_hash(col: Column, hash_fn: str) -> Column:
    if hash_fn == "xx":
        return F.xxhash64(col)
    if hash_fn == "md5":
        # conv() parses the 15-hex-digit tail to a decimal string; 60 bits
        # always fit a signed long
        return F.conv(F.substring(F.md5(col), 18, 15), 16, 10).cast("long")
    raise ValueError(f"unknown simhash hash_fn {hash_fn!r}")


def simhash_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xx",
) -> DataFrame:
    """SimHash per doc: sign of the per-bit sum of ±1 votes from each
    token's hash (:data:`SIMHASH_BITS` bit widths).  One conditional-sum
    aggregate per bit in one groupBy — JVM-side; for very wide batches a
    pandas_udf over token arrays is the alternative, but the agg form
    keeps partial aggregation."""
    bits = SIMHASH_BITS[hash_fn]
    # r10 regroup (guide §2.3 — aggregate before you shuffle): votes are
    # summed at DISTINCT (doc, token) grain with an occurrence count,
    # not at occurrence grain.  Σ_occurrences bit_i(h) ≡
    # Σ_(doc,token) bit_i(h)·cnt and n_tok ≡ Σ cnt — the same exact
    # BIGINT totals by associativity/commutativity of integer addition
    # (pinned by the brute-force twin in test_dedup), while the token
    # hash is computed once per distinct pair instead of once per
    # occurrence and the vote aggregate's input shrinks to pair grain.
    per_pair = (
        _spread(docs)
        .select(
            F.col(id_col).alias("doc"),
            F.explode(tokens_array(F.col(text_col))).alias("token"),
        )
        .groupBy("doc", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select(
            "doc", _simhash_token_hash(F.col("token"), hash_fn).alias("h"), "cnt"
        )
    )
    # ±1 vote sums rewritten as one-bit sums plus a single shared token
    # count: sign(Σ±1) ≡ (2·Σbit_i > n).  Halves the per-token expression
    # work in the partial aggregate (no *2-1 per bit) and the token is
    # hashed once, pre-explode of the per-bit extractions.
    # The `bits` per-bit sums travel as ONE array-of-aggregates
    # expression and the fingerprint reassembly as ONE ascending-i fold
    # (r10 guide §4: ~5 py4j round trips instead of ~360 — the Column
    # objects themselves were ~0.45 s of driver-side construction per
    # call at ~0.34 ms/round-trip; Catalyst still plans `bits` separate
    # partial-aggregating sums, and the fold adds the same
    # `IF(2·v_i > n, 1<<i, 0)` bigint terms in the same order).
    votes = "array(" + ",".join(
        f"sum((shiftright(h, {i}) & 1) * cnt)" for i in range(bits)
    ) + ")"
    per_doc = per_pair.groupBy("doc").agg(
        F.expr(votes).alias("v"), F.sum("cnt").alias("n_tok")
    )
    fp = (
        f"aggregate(sequence(0, {bits - 1}), cast(0 as bigint), "
        "(acc, i) -> acc + IF(element_at(v, i + 1) * 2 > n_tok, "
        "shiftleft(cast(1 as bigint), i), cast(0 as bigint)))"
    )
    return per_doc.select("doc", F.expr(fp).alias("simhash"))


def banded_hamming_pairs(
    fps: DataFrame,
    fp_col: str,
    id_col: str,
    bits: int,
    max_hamming: int = 3,
    max_bucket: int | None = MAX_DF,
) -> DataFrame:
    """Fingerprint-agnostic 4-band Hamming blocking: candidate pairs
    share at least one exact ``bits/4``-bit band (guaranteed to catch
    every pair within Hamming distance 3 — pigeonhole over 4 bands),
    then exact popcount verification.  Output ``(doc_a, doc_b,
    hamming)``.  The shared engine behind :func:`simhash_near_pairs`
    (text fingerprints) and multimodal ``phash_near_pairs`` (perceptual
    media hashes) — any 64-bit-or-narrower integer fingerprint column
    plugs in.

    Scale shape: corpus × 4 band rows, bucket-grain self-join only
    (never all-pairs); ``max_bucket`` drops degenerate buckets (the
    boilerplate guard, :data:`MAX_DF`) with a broadcast anti-join."""
    band_bits = bits // 4
    mask = (1 << band_bits) - 1
    fps = fps.select(
        F.col(id_col).alias("doc"), F.col(fp_col).alias("simhash")
    )
    bands = fps.select(
        "doc",
        "simhash",
        F.posexplode(
            F.array(*[
                F.shiftright(F.col("simhash"), b * band_bits).bitwiseAND(F.lit(mask))
                for b in range(4)
            ])
        ).alias("band", "band_val"),
    )
    if max_bucket is not None:
        # persist (docs × 4 rows) so the bucket-size aggregate doesn't
        # re-run the per-bit vote aggregation; hot buckets broadcast
        bands = bands.persist()
        hot = (
            bands.groupBy("band", "band_val")
            .agg(F.count(F.lit(1)).alias("bsz"))
            .filter(F.col("bsz") > max_bucket)
            .select("band", "band_val")
        )
        bands = bands.join(F.broadcast(hot), ["band", "band_val"], "left_anti")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming.cast("bigint"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = MAX_DF,
    hash_fn: str = "xx",
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """Near-dup candidates at Hamming distance ≤ ``max_hamming`` via
    4-band blocking (a pair within distance 3 matches exactly on ≥1
    band), then exact popcount verification.  ``max_bucket`` drops
    oversized band buckets before the self-join (:data:`MAX_DF`).
    Delegates to :func:`banded_hamming_pairs` (shared with the
    perceptual-hash media path).

    ``fingerprints`` short-circuits the fingerprint pass with a
    pre-built :func:`simhash_fingerprints` table over the same corpus
    / ``hash_fn`` (``(doc, simhash)`` grain) — the shared-stage
    contract: one fingerprint materialization feeds every audit built
    on it (here: the near-pair finder and the blocking-quality grade)."""
    return banded_hamming_pairs(
        fingerprints
        if fingerprints is not None
        else simhash_fingerprints(docs, text_col, id_col, hash_fn),
        "simhash",
        "doc",
        SIMHASH_BITS[hash_fn],
        max_hamming,
        max_bucket,
    )


def build_lsh_artifacts(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(hashed shingles, sizes, band table) for one document set — the
    per-doc LSH artifacts, each a pure function of its document, so a
    corpus's artifacts are write-once (:func:`save_lsh_index`) and every
    ingest batch computes only its own."""
    rows_per_band = num_hashes // num_bands
    hs = hashed_shingles(docs, n, text_col, id_col).persist()
    # sizes and bands are SEPARATE aggregates over the persisted shingle
    # table: deriving both from one combined per_doc plan re-runs the
    # 64-hash MinHash aggregate in every downstream branch (the sizes
    # consumer only needs a count) — measured ~25% of the incremental
    # path's time at bench scale
    per_doc = hs.groupBy("doc").agg(
        _minhash_sig_array(num_hashes).alias("mh")
    )
    # persist the band table (docs × num_bands rows — artifact grain,
    # exactly what save_lsh_index writes): the incremental path consumes
    # each side's bands in the hot-bucket count AND the anti-join AND the
    # candidate join, and every unpersisted consumer re-runs the 64-min
    # signature aggregate (the same lesson minhash_lsh_pairs pins)
    bands = per_doc.select(
        "doc",
        F.posexplode(
            _band_hash_from_sig(num_bands, rows_per_band)
        ).alias("band", "band_hash"),
    ).persist()
    sizes = hs.groupBy("doc").agg(F.count(F.lit(1)).alias("n_shingles"))
    return hs, sizes, bands


def save_lsh_index(
    artifacts: tuple[DataFrame, DataFrame, DataFrame], root: str
) -> None:
    """Persist a corpus's LSH artifacts (mirrors similarity.save_ivf_index):
    shingles + sizes as plain parquet, the band table PARTITIONED BY band
    — an ingest batch's bucket join prunes to the band files it probes."""
    hs, sizes, bands = artifacts
    hs.write.mode("overwrite").parquet(f"{root}/shingles")
    sizes.write.mode("overwrite").parquet(f"{root}/sizes")
    bands.write.mode("overwrite").partitionBy("band").parquet(f"{root}/bands")


def load_lsh_index(spark, root: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    return (
        spark.read.parquet(f"{root}/shingles"),
        spark.read.parquet(f"{root}/sizes"),
        # hive partition columns come back type-inferred; band is an int
        # position 0..num_bands-1 either way
        spark.read.parquet(f"{root}/bands").select("doc", "band", "band_hash"),
    )


def minhash_lsh_incremental(
    new_docs: DataFrame,
    corpus_docs: DataFrame | None = None,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
    max_bucket: int = MAX_DF,
    corpus_index: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    new_index: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Incremental near-dup: which NEW documents duplicate the existing
    corpus — the daily-ingest contract.  Only cross-side candidate pairs
    are generated; new×new and corpus×corpus comparisons never happen
    (the corpus is already deduped, and re-verifying it every batch is
    the difference between O(|new|·collisions) and re-running the whole
    job).

    Same LSH machinery as :func:`minhash_lsh_pairs`, with the self-join
    replaced by a two-sided band join.  At 100 TB the corpus-side
    artifacts (bands + hashed shingles + sizes — pure functions of each
    doc) are write-once: persist them alongside the corpus like the IVF
    index (similarity.save_ivf_index) and each batch only computes the
    new side.  The hot-bucket cap counts bucket membership across BOTH
    sides — a boilerplate bucket is quadratic regardless of which side
    its members came from.

    Output: (doc_a, doc_b, jaccard) with ``doc_a < doc_b`` (one row per
    cross pair at ``jaccard >= threshold``), directly comparable to the
    cross-side slice of :func:`ngram_jaccard_pairs`.

    ``corpus_index`` (from :func:`build_lsh_artifacts` /
    :func:`load_lsh_index`) replaces ``corpus_docs``: the batch then
    touches only the new documents and the index files.  ``new_index``
    is the symmetric short-circuit for the new side — per-doc artifacts
    are pure functions of each document, so slicing them out of an
    already-materialized whole-corpus artifact set (the suite's
    shared-stage memo) is value-identical to rebuilding them."""
    if new_index is not None:
        hs_n, sizes_n, bands_n = new_index
    else:
        hs_n, sizes_n, bands_n = build_lsh_artifacts(
            new_docs, n, text_col, id_col, num_hashes, num_bands
        )
    if corpus_index is not None:
        hs_c, sizes_c, bands_c = corpus_index
    else:
        if corpus_docs is None:
            raise ValueError("need corpus_docs or corpus_index")
        hs_c, sizes_c, bands_c = build_lsh_artifacts(
            corpus_docs, n, text_col, id_col, num_hashes, num_bands
        )
    if max_bucket is not None:
        both = bands_n.select("band", "band_hash").union(
            bands_c.select("band", "band_hash")
        )
        hot = (
            both.groupBy("band", "band_hash")
            .agg(F.count(F.lit(1)).alias("bsz"))
            .filter(F.col("bsz") > max_bucket)
            .select("band", "band_hash")
        )
        bands_n = bands_n.join(F.broadcast(hot), ["band", "band_hash"], "left_anti")
        bands_c = bands_c.join(F.broadcast(hot), ["band", "band_hash"], "left_anti")
    nb, cb = bands_n.alias("nb"), bands_c.alias("cb")
    candidates = (
        nb.join(
            cb,
            (F.col("nb.band") == F.col("cb.band"))
            & (F.col("nb.band_hash") == F.col("cb.band_hash")),
        )
        .select(
            F.least(F.col("nb.doc"), F.col("cb.doc")).alias("doc_a"),
            F.greatest(F.col("nb.doc"), F.col("cb.doc")).alias("doc_b"),
        )
        .distinct()
    )
    sh = hs_n.union(hs_c)
    sizes = sizes_n.union(sizes_c)
    sh_a = sh.select(F.col("doc").alias("doc_a"), F.col("h"))
    sh_b = sh.select(F.col("doc").alias("doc_b"), F.col("h"))
    inter = (
        candidates.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    jac = F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def span_dedup(
    docs: DataFrame,
    span_tokens: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sub-document (span-level) exact dedup — the C4/RefinedWeb move of
    removing REPEATED SPANS from otherwise-unique documents (boilerplate
    headers, license blocks, navigation chrome), which whole-document
    dedup by definition cannot touch.

    Each document splits into consecutive ``span_tokens``-token windows
    (tail partial span included); a span survives iff it is the FIRST
    occurrence of its content corpus-wide, "first" = smallest
    ``(doc_id, span_idx)`` — deterministic under any partitioning.
    Documents are then reassembled from their surviving spans in order.

    Plan shape at 100 TB: the explode is a zero-shuffle per-row map;
    election is ONE shuffle on ``md5(span)`` (span text rides the
    exchange once — unavoidable, the reassembly needs it); reassembly is
    one shuffle back on ``doc_id``.  No joins, no quadratic term: total
    work is O(corpus tokens) regardless of duplication structure.
    Compare :func:`exact_dedup` (whole-doc, hash-only shuffle) and
    :func:`minhash_lsh_pairs` (near-dup pairs); this one rewrites the
    corpus.

    Returns ``(doc_id, n_spans, n_kept, clean_text)``; documents with
    zero tokens produce no spans and drop out (they carry no text to
    keep)."""
    from pyspark.sql import Window

    toks = tokens_array(F.col(text_col))
    spans = (
        docs.select(F.col(id_col).alias("doc"), toks.alias("toks"))
        .filter(F.size("toks") > 0)
        .select(
            "doc",
            "toks",
            F.explode(
                F.sequence(
                    F.lit(0).cast("bigint"),
                    F.expr(f"(size(toks) - 1) div {span_tokens}").cast("bigint"),
                )
            ).alias("span_idx"),
        )
        .select(
            "doc",
            "span_idx",
            F.array_join(
                F.slice(
                    "toks",
                    (F.col("span_idx") * span_tokens + 1).cast("int"),
                    span_tokens,
                ),
                " ",
            ).alias("span_text"),
        )
    )
    w = Window.partitionBy(F.md5("span_text")).orderBy("doc", "span_idx")
    ranked = spans.select(
        "doc", "span_idx", "span_text", F.row_number().over(w).alias("rn")
    )
    kept = F.when(F.col("rn") == 1, F.struct("span_idx", "span_text"))
    return (
        ranked.groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("rn") == 1).cast("bigint")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept)), lambda s: s.span_text
                ),
                " ",
            ).alias("clean_text"),
        )
        .select(F.col("doc").alias(id_col), "n_spans", "n_kept", "clean_text")
    )


def boilerplate_ngrams(
    docs: DataFrame,
    n: int = 5,
    min_df: int = 3,
    top_n: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Boilerplate inventory (the C4/RefinedWeb "remove frequent lines"
    rule lifted to n-grams, since this corpus has no line structure):
    the ``top_n`` word n-grams appearing in the most DISTINCT documents,
    with document frequency and source spread — ``(shingle, df,
    n_sources)``.

    This is the analysis face of the :data:`MAX_DF` cap the near-dup
    family applies blindly: before capping a corpus you inventory what
    the cap would remove (page headers, navigation chrome, license
    blurbs — content that repeats across unrelated documents).  High
    ``n_sources`` at high ``df`` is the boilerplate signature; high
    ``df`` within one source is template reuse.

    Scale shape: distinct-per-doc shingles (explode, map-side combined),
    ONE count aggregate at shingle grain, ``min_df`` HAVING prune, then
    a TakeOrderedAndProject top-``top_n`` heap cut — no self-join, no
    quadratic term anywhere, output bounded by config.  The string
    shingle (not xxhash64) is deliberate: the inventory is for humans
    and downstream regex filters.

    Reference seed: tokenize+count (wordcount.go:20-45) is the 1-gram
    seed; the df/spread analysis is extension surface.
    """
    from p2_mapreduce_spark.operators.curation import _string_shingles

    sh = _string_shingles(docs, n, text_col, id_col)
    src = docs.select(F.col(id_col), "source")
    return (
        sh.join(src, id_col)
        .groupBy("shingle")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.countDistinct("source").alias("n_sources"),
        )
        .filter(F.col("df") >= min_df)
        .orderBy(F.col("df").desc(), F.col("shingle"))
        .limit(int(top_n))
    )


def dup_matrix(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate provenance matrix: for every source pair (ordered
    lexically, diagonal included), how many near-dup DOCUMENT PAIRS
    (n-gram Jaccard ≥ ``threshold``) span them — ``(source_a, source_b,
    n_dup_pairs)`` — the matrix a curator consults before assigning
    mixture weights: a heavy off-diagonal cell means source B
    substantially mirrors source A, a heavy diagonal means internal
    template reuse.

    Composes :func:`ngram_jaccard_pairs` (at 100 TB: swap in
    :func:`minhash_lsh_pairs` — same output contract) with two
    broadcast joins onto the doc→source map and a pair-grain count;
    everything after the pair list runs at near-dup-pair grain, which
    dedup has already made small by construction.  Pass precomputed
    ``pairs`` to reuse a candidate stage another consumer already paid
    for (VERDICT r03 item 5).
    """
    if pairs is None:
        pairs = ngram_jaccard_pairs(docs, threshold, n, text_col, id_col)
    src = docs.select(F.col(id_col), F.col(source_col))
    sa = src.select(
        F.col(id_col).alias("doc_a"), F.col(source_col).alias("sa")
    )
    sb = src.select(
        F.col(id_col).alias("doc_b"), F.col(source_col).alias("sb")
    )
    # no broadcast hints: the doc->source map is corpus-sized — the
    # SMALL side here is the pair list, which AQE broadcasts on its own
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dup_pairs"))
    )


def allpairs_jaccard(
    docs: DataFrame,
    threshold: float = 0.45,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """EXACT set-similarity self-join with prefix filtering (the
    AllPairs/PPJoin family, Bayardo et al. WWW'07 / Xiao et al. WWW'08)
    over n-gram shingle sets — the third point in the near-dup design
    space: :func:`ngram_jaccard_pairs` indexes EVERY shingle (exact,
    quadratic in docs-per-shingle), :func:`minhash_lsh_pairs` buckets
    signatures (linear, approximate), this operator is exact AND prunes
    the candidate space without a frequency cap.

    Prefix theorem: order the shingle universe by ascending document
    frequency (rarest first, ties by hash).  Two sets with
    ``jaccard >= t`` must share at least one shingle within each other's
    first ``|S| - ceil(t*|S|) + 1`` shingles under that order.  The
    inverted index is therefore built over PREFIXES only — and because
    the order is df-ascending, prefix postings are the RARE shingles, so
    the self-join's per-key fan-out is inherently small: the boilerplate
    shingle that forces :func:`shingle_pairs` to cap df lands at the END
    of every doc's ordering and never enters the index.  A size filter
    (``t*|B| <= |A| <= |B|/t``) prunes candidates before verification;
    the exact intersection count over full shingle sets then makes the
    output bit-identical to the naive all-pairs join.

    At 100 TB: one df aggregate (shuffled on 8-byte hashes), one bounded
    per-doc sort (``collect_list`` of the doc's OWN shingles — capped by
    document length, the same bound every per-doc aggregate here obeys),
    a prefix self-join whose keys have df-ascending postings, and one
    verification join restricted to surviving candidates — each
    candidate's exact intersection is ``array_intersect`` over the two
    doc-grain shingle arrays the prefix stage already built, not a
    shingle-grain join + re-aggregate.  No Python anywhere; every
    expression is whole-stage codegen.
    """
    sh = (
        shingles
        if shingles is not None
        else hashed_shingles(docs, n, text_col, id_col).persist()
    )
    dfreq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    # ONE per-doc table carries everything downstream: the df-ascending
    # shingle array (prefix source AND verification operand), its size,
    # and the prefix length.  Persisted at doc grain (≤ doc-length array
    # per row) — the prefix explode, both candidate sides, and both
    # verify operands read it without re-running the df join + sort
    # (7.3 s → 3.5 s at sf0.1: the verify's shingle-grain join pair +
    # re-aggregate collapse into one array_intersect per candidate).
    toks = (
        sh.join(dfreq, "h")
        .groupBy("doc")
        .agg(F.sort_array(F.collect_list(F.struct("df", "h"))).alias("toks"))
        .withColumn("sz", F.size("toks").cast("bigint"))
        .withColumn(
            "plen",
            (
                F.col("sz")
                - F.ceil(F.lit(threshold) * F.col("sz")).cast("int")
                + F.lit(1)
            ),
        )
        .withColumn("hs", F.expr("transform(toks, t -> t.h)"))
        .select("doc", "sz", "plen", "hs")
        .persist()
    )
    prefix = toks.select(
        "doc", "sz", F.explode(F.expr("slice(hs, 1, plen)")).alias("h")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h")) & (F.col("a.doc") < F.col("b.doc")),
        )
        .where(
            (F.col("a.sz") >= F.lit(threshold) * F.col("b.sz"))
            & (F.col("b.sz") >= F.lit(threshold) * F.col("a.sz"))
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    ta = toks.select(
        F.col("doc").alias("doc_a"), F.col("hs").alias("hs_a"),
        F.col("sz").alias("size_a"),
    )
    tb = toks.select(
        F.col("doc").alias("doc_b"), F.col("hs").alias("hs_b"),
        F.col("sz").alias("size_b"),
    )
    jac = F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common"))
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn(
            "n_common", F.size(F.array_intersect("hs_a", "hs_b")).cast("bigint")
        )
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "size_a", "size_b", "jaccard")
    )


def blocked_linkage(
    left: DataFrame,
    right: DataFrame,
    name_left: str = "p_name",
    name_right: str = "p_name",
    max_dist: int = 4,
) -> DataFrame:
    """Blocked fuzzy record linkage — the entity-resolution pattern that
    replaces the quadratic :func:`p2_mapreduce_spark.operators.relational.
    edit_distance_pairs` self-join at scale: candidates are generated
    ONLY within blocks (here: records sharing the name's final token,
    the head noun — the standard "blocking key" of the record-linkage
    literature), then scored with exact Levenshtein inside each block.

    Cost model: one shuffle of each side on the block key, then a
    per-block join whose fan-out is block size — at 100 TB the worst
    block is a skew concern like any join key (cap or salt it), but the
    all-pairs n² term is gone entirely.  Both the blocking key and the
    distance are JVM built-ins; output is exact and engine-portable.

    Output: one row per cross-block candidate within ``max_dist``,
    deduplicated to distinct name pairs with ``name_a < name_b`` (the
    self-linkage convention; for true two-table linkage pass distinct
    tables and drop nothing).
    """
    la = left.select(F.col(name_left).alias("name_a")).distinct().withColumn(
        "block", F.element_at(F.split(F.col("name_a"), " "), -1)
    )
    rb = right.select(F.col(name_right).alias("name_b")).distinct().withColumn(
        "block", F.element_at(F.split(F.col("name_b"), " "), -1)
    )
    return (
        la.join(rb, "block")
        .where(F.col("name_a") < F.col("name_b"))
        .withColumn(
            "dist", F.levenshtein("name_a", "name_b").cast("bigint")
        )
        .where(F.col("dist") <= max_dist)
        .select("block", "name_a", "name_b", "dist")
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.9,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int = MAX_DF,
    shingles: DataFrame | None = None,
    raw_pairs: DataFrame | None = None,
) -> DataFrame:
    """Containment detection (quote/excerpt mining): pairs where the
    SMALLER document's shingle set is (nearly) a subset of the larger's
    — ``containment = |A∩B| / min(|A|,|B|) >= threshold``.  Jaccard
    misses these by design: a paragraph quoted inside a book has
    jaccard ≈ |para|/|book| ≈ 0 but containment ≈ 1, and excerpt
    relations are exactly what a training-corpus curator must find
    before near-dup collapsing (drop the quote, keep the source).

    Same single inverted-index pass as :func:`shingle_pairs` (one
    aggregate re-used for sizes and both join sides, df-capped hot
    shingles); only the final predicate differs — one extra integer
    ``least`` and the same single IEEE division.
    """
    # ``raw_pairs``: the shared unfiltered shingle_pairs table (see
    # ngram_jaccard_pairs) — same integers, only this predicate differs
    p = (
        raw_pairs
        if raw_pairs is not None
        else shingle_pairs(docs, n, text_col, id_col, max_df, shingles=shingles)
    )
    cont = F.col("n_common") / F.least("size_a", "size_b")
    return (
        p.withColumn("containment", cont)
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "n_common", "size_a", "size_b", "containment")
    )


def doc_novelty(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-document shingle NOVELTY in ingestion order: the fraction of
    a document's distinct n-gram shingles whose global FIRST occurrence
    (minimum ``id_col``) is this document — the "is this doc adding new
    content or re-arranging what the corpus already has?" curation
    signal (template farms and boilerplate mills score near 0 even when
    no single pair crosses a dedup threshold; :func:`vocab_growth` is
    the corpus-level cumulative view of the same first-occurrence
    device, this is the doc-grain attribution).

    Shape at 100 TB: one shingle pass (:func:`hashed_shingles`), one
    MIN aggregate at shingle-vocabulary grain, one join back on the
    8-byte shingle hash, one doc-grain aggregate — no self-join, no
    window.  Counts are exact BIGINTs; novelty is one IEEE division.
    Documents with fewer than ``n`` tokens have no shingles and drop
    out (no 0/0 row).
    """
    # the shingle table feeds both the MIN aggregate and the join probe;
    # a pre-built ``shingles`` table (the dedup family's shared stage)
    # is already materialized and skips the explode + persist
    sh = (
        shingles
        if shingles is not None
        else hashed_shingles(docs, n, text_col, id_col).persist()
    )
    first = sh.groupBy("h").agg(F.min("doc").alias("first_doc"))
    return (
        sh.join(first, "h")
        .groupBy(F.col("doc").alias(id_col))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("first_doc") == F.col("doc"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_novel",
            (
                F.col("n_novel").cast("double")
                / F.col("n_shingles").cast("double")
            ).alias("novelty"),
        )
    )


def golden_record(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    pairs: DataFrame | None = None,
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Survivorship over near-duplicate clusters — the step AFTER
    pair→cluster closure that entity-resolution pipelines call "golden
    record" and corpus pipelines call canonical selection: per cluster,
    keep the longest document (ties → smallest id, a total rule so the
    choice is deterministic), count what gets dropped, and record the
    provenance (sorted distinct source list) of what merged.

    Composition of audited parts: exact n-gram pairs
    (:func:`ngram_jaccard_pairs`) → label-propagation closure
    (``graph.dup_clusters``) → cluster-grain survivorship (one MAX
    aggregate + an equi-join back on (cluster, max) + MIN tie-break —
    never a window over the corpus).  Sources surface as a
    ``,``-joined sorted string, not an array (scalar-column output
    contract).

    Shape at 100 TB: survivorship work is cluster-grain; the dominant
    cost is the upstream pair generation, already bucketed/df-capped —
    and SHAREABLE: pass precomputed ``pairs`` (any (doc_a, doc_b) pair
    table) or ``clusters`` (a ``dup_clusters`` label table) to reuse a
    stage another branch of the pipeline already paid for, instead of
    re-running candidate generation per consumer (VERDICT r03 item 5).
    """
    from p2_mapreduce_spark.operators.graph import dup_clusters

    if clusters is not None:
        comp = clusters
    else:
        if pairs is None:
            pairs = ngram_jaccard_pairs(docs, threshold, n, text_col, id_col)
        comp = dup_clusters(pairs.select("doc_a", "doc_b"))
    member = comp.join(
        docs.select(
            F.col(id_col).alias("doc_id"), F.col("source"), F.col("n_chars")
        ),
        "doc_id",
    )
    per = member.groupBy("cluster").agg(
        F.max("cluster_size").cast("bigint").alias("cluster_size"),
        F.max("n_chars").cast("bigint").alias("canonical_chars"),
        F.array_join(F.sort_array(F.collect_set("source")), ",").alias(
            "sources"
        ),
    )
    canon = (
        member.join(
            per.select("cluster", "canonical_chars"),
            ["cluster"],
        )
        .filter(F.col("n_chars") == F.col("canonical_chars"))
        .groupBy("cluster")
        .agg(F.min("doc_id").cast("bigint").alias("canonical_id"))
    )
    return (
        per.join(canon, "cluster")
        .select(
            "cluster",
            "cluster_size",
            "canonical_id",
            "canonical_chars",
            (F.col("cluster_size") - 1).cast("bigint").alias("n_dropped"),
            "sources",
        )
    )


def lsh_recall(
    docs: DataFrame,
    threshold: float = 0.5,
    shingles: DataFrame | None = None,
    exact_pairs: DataFrame | None = None,
    bands: DataFrame | None = None,
) -> DataFrame:
    """Dedup-index honesty gate: recall of the MinHash-LSH pair finder
    (:func:`minhash_lsh_pairs` — probabilistic candidate generation,
    exact verify) against the exact prefix-filtered AllPairs join
    (:func:`allpairs_jaccard`) at the same Jaccard threshold — the
    dedup-family sibling of :func:`similarity.ann_recall` and
    :func:`similarity.mrl_recall`: every approximate path in this
    engine ships with the gate that measures it against its exact
    face.

    Precision is exact on both sides (both verify true Jaccard), so
    the only question is missed pairs: ``recall = |LSH ∩ exact| /
    |exact|``.  Cost is the two pair runs (each already bucketed /
    prefix-filtered — no quadratic term) plus pair-set bookkeeping.

    Returns one row ``(n_exact, n_lsh, n_hit, recall)``; an empty
    exact set surfaces NULL recall.
    """
    hs = (
        shingles
        if shingles is not None
        else hashed_shingles(docs, 3).persist()
    )
    # each pair set feeds its count AND the intersection semi-join;
    # Spark does NOT reuse the exchanges across those branches (measured
    # 17 s vs 8 s at sf0.1), so persist the pair tables — output grain,
    # tiny by the dedup contract
    # ``exact_pairs``: a pre-built exact pair table at THIS threshold
    # (e.g. a shared AllPairs run at a looser threshold filtered to
    # ``jaccard >= threshold`` — the pair set at t is exactly the slice
    # of the pair set at t' <= t, both sides of that identity being the
    # same integer counts and one IEEE division).  ``bands``: a
    # pre-built MinHash band table (minhash_lsh_pairs' own contract).
    exact = (
        exact_pairs
        if exact_pairs is not None
        else allpairs_jaccard(docs, threshold, shingles=hs).select(
            "doc_a", "doc_b"
        )
    ).persist()
    lsh = minhash_lsh_pairs(docs, threshold, shingles=hs, bands=bands).select(
        "doc_a", "doc_b"
    ).persist()
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_lsh = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    n_hit = exact.join(lsh, ["doc_a", "doc_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        n_exact.crossJoin(F.broadcast(n_lsh))
        .crossJoin(F.broadcast(n_hit))
        .select(
            F.col("n_exact").cast("bigint").alias("n_exact"),
            F.col("n_lsh").cast("bigint").alias("n_lsh"),
            F.col("n_hit").cast("bigint").alias("n_hit"),
            F.when(
                F.col("n_exact") > 0,
                F.col("n_hit").cast("double") / F.col("n_exact").cast("double"),
            ).alias("recall"),
        )
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every k-gram, slide a
    w-window over the hash sequence, keep each window's minimum —
    ``(doc_id, pos, fp)``, the selected fingerprints.  The selection
    guarantee: any shared token run of length ≥ w + k − 1 between two
    documents yields at least one shared fingerprint, while storage
    drops to ~2/(w+1) of the grams — the local-sampling complement to
    MinHash's global sampling (:func:`minhash_signatures`) and the
    rolling-hash full fingerprint (``fingerprint_docs``).

    Tie rule: within a window, equal minimal hashes select the
    RIGHTMOST position (the paper's robust-winnowing choice made total)
    — critical on repetitive text where adjacent grams collide by
    VALUE, and what keeps the output bit-deterministic cross-engine.
    Hashes are md5-derived 60-bit BIGINTs so the oracle can reproduce
    them exactly.

    Scale shape: windows never cross documents, so the whole selection
    is computed IN-ROW — hash the grams, then for every window start a
    nested array fold elects (pos, fp), and ``array_distinct``
    collapses adjacent windows that elected the same gram — ZERO wide
    exchanges between the scan and the output (the round-4 form
    shuffled the gram×w window-membership table twice for the same
    answer).  Per-row work is O(grams × w), the same total compute the
    ×w explode paid, minus the corpus-×w trips through the wire.
    Documents with fewer than w grams contribute nothing (no full
    window exists).
    """
    gram_h = token_ngrams(
        text_col, k, lambda g: _simhash_token_hash(F.array_join(g, " "), "md5")
    )
    # stage the hash array through a projection so the window pass
    # references a COLUMN, not the md5 expression tree (no CSE inside
    # HOF lambdas, see token_ngrams — a re-reference would re-hash every
    # gram per window)
    staged = _spread(docs).select(
        F.col(id_col).cast("bigint").alias("doc_id"), gram_h.alias("gh")
    )
    gh = F.col("gh")
    # sequence() counts DOWN when start > stop, so short docs must
    # short-circuit to no windows explicitly
    starts = F.when(
        F.size(gh) >= w, F.sequence(F.lit(0), F.size(gh) - w)
    ).otherwise(F.expr("CAST(array() AS ARRAY<INT>)"))
    # one-element transform = let-binding (the repo's no-CSE device):
    # bind the w-hash slice once per window, then bind the from-the-
    # right 1-based position of the minimal hash once, and emit the
    # elected (pos, fp) struct
    selected = F.array_distinct(
        F.transform(
            starts,
            lambda s: F.element_at(
                F.transform(
                    F.array(F.slice(gh, s + 1, w)),
                    lambda win: F.element_at(
                        F.transform(
                            F.array(
                                F.array_position(
                                    F.reverse(win), F.array_min(win)
                                )
                            ),
                            lambda rp: F.struct(
                                (s + (F.lit(w) - rp))
                                .cast("bigint")
                                .alias("pos"),
                                F.element_at(
                                    win, (F.lit(w) + 1 - rp).cast("int")
                                ).alias("fp"),
                            ),
                        ),
                        1,
                    ),
                ),
                1,
            ),
        )
    )
    return staged.select("doc_id", F.explode(selected).alias("sel")).select(
        "doc_id",
        F.col("sel.pos").alias("pos"),
        F.col("sel.fp").alias("fp"),
    )


#: CDC rolling-hash parameters, shared verbatim with the oracle: window
#: k=8 chars, polynomial base 31 (base powers reach 31^7 ≈ 2^34.7, so
#: with Unicode codepoints ≤ 0x10FFFF ≈ 2^21 every term stays < 2^56
#: and the 8-term window hash < 2^59 — BIGINT-safe; codepoints are the
#: binding bound here, NOT int32), boundary when hash % 64 == 0
#: (expected chunk length 64 chars).
CDC_WINDOW = 8
CDC_BASE_POWERS = tuple(31 ** j for j in range(8))
CDC_MASK_MOD = 64


def cdc_chunk_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS/backup-dedup family):
    split every document at positions where the rolling hash of the
    trailing k-char window ≡ 0 (mod 64), fingerprint each chunk, and
    report per-source storage-dedup effectiveness — ``(source, n_docs,
    n_chunks, n_distinct, total_chars, unique_chars, dup_ppm)``.

    Why content-defined (vs fixed-size blocks): an insertion shifts
    every fixed block boundary after it, destroying downstream matches;
    CDC boundaries move WITH the content, so identical passages chunk
    identically wherever they sit — the property that makes chunk-level
    dedup work on near-identical documents.  This is the STORAGE-plane
    dedup face (what a DFS does below the row abstraction — the
    reference's chunked-file plane is the natural host), complementing
    the document-level families above.

    Simplifications vs production CDC, documented: no min/max chunk
    clamps (Rabin implementations add them to bound variance) and a
    polynomial window hash rather than a true Rabin fingerprint —
    boundary STATISTICS are identical, and both choices keep every
    intermediate an exact BIGINT the oracle reproduces.

    Scale shape: boundary detection is a zero-shuffle codegen map
    (O(n·k) per doc, arrays never leave the row); the only exchanges
    are the chunk-hash distinct and the source-grain rollup.
    """
    k = CDC_WINDOW
    pows = ", ".join(str(p) for p in CDC_BASE_POWERS)
    t = text_col
    # hash of the k-char window starting at 1-based position p
    win_hash = (
        f"aggregate(zip_with(array({pows}), "
        f"transform(sequence(0, {k - 1}), j -> "
        f"ascii(substr({t}, p + j, 1))), (pw, c) -> pw * c), "
        f"cast(0 as bigint), (acc, x) -> acc + x)"
    )
    cuts = (
        f"filter(transform(sequence(1, greatest(length({t}) - {k - 1}, 0)), "
        f"p -> IF(({win_hash}) % {CDC_MASK_MOD} = 0, p + {k - 1}, -1)), "
        f"x -> x > 0)"
    )
    bounds = f"concat(array(0), {cuts}, array(length({t})))"
    # LET-BINDING via a one-element transform: ``bs`` evaluates the whole
    # boundary pipeline ONCE per row.  Without it, every element_at(bounds,
    # i) re-evaluates the O(n·k) rolling-hash scan — measured 21 s → ~6 s
    # for the query at sf0.1.
    pieces_expr = (
        f"element_at(transform(array({bounds}), bs -> "
        f"filter(transform(sequence(2, size(bs)), i -> named_struct("
        f"'h', md5(substr({t}, element_at(bs, i - 1) + 1, "
        f"element_at(bs, i) - element_at(bs, i - 1))), "
        f"'len', cast(element_at(bs, i) - element_at(bs, i - 1) as bigint))), "
        f"c -> c.len > 0)), 1)"
    )
    # persist: the chunk table feeds BOTH the per-chunk rollup and the
    # per-source doc count — unpersisted, the rolling-hash pipeline runs
    # twice
    chunked = _spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        F.explode(F.expr(pieces_expr)).alias("c"),
    ).select(
        "doc_id",
        "source",
        F.col("c.h").alias("chunk_md5"),
        F.col("c.len").alias("chunk_len"),
    ).persist()
    per_chunk = chunked.groupBy("source", "chunk_md5").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        F.min("chunk_len").alias("chunk_len"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs_touch"),
    )
    docs_per_source = chunked.groupBy("source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs")
    )
    rolled = per_chunk.groupBy("source").agg(
        F.sum("n_copies").cast("bigint").alias("n_chunks"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.sum(F.col("n_copies") * F.col("chunk_len"))
        .cast("bigint")
        .alias("total_chars"),
        F.sum("chunk_len").cast("bigint").alias("unique_chars"),
    )
    return (
        docs_per_source.join(rolled, "source")
        .select(
            "source",
            "n_docs",
            "n_chunks",
            "n_distinct",
            "total_chars",
            "unique_chars",
            F.expr(
                "(total_chars - unique_chars) * 1000000 div total_chars"
            ).cast("bigint").alias("dup_ppm"),
        )
    )


def simhash_weighted_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
) -> DataFrame:
    """IDF-weighted SimHash (Charikar's construction as production
    near-dup systems actually run it): each token occurrence votes with
    weight ``max(1, N div df)`` — boilerplate tokens (df ≈ N) vote 1,
    rare content tokens vote large, so two documents differing only in
    stopword glue no longer collide while documents sharing rare
    content do.  Per-bit decision: set bit i iff ``2·Σ w·bit_i(h) >
    Σ w`` — the weighted majority in exact BIGINT form (no ±1 floats,
    no division), bit-identical cross-engine.

    The weight is a ratio of exact counts, NOT a log-idf — monotone in
    the classic idf (the bm25_search dodge) and integer, which is what
    keeps the whole fingerprint value-hash oracle-checkable.

    Scale shape: df is one (token-vocabulary-grain) aggregate joined
    back onto the token stream (AQE handles stopword skew); the vote
    matrix stays one map-side-combinable groupBy, same as the
    unweighted :func:`simhash_fingerprints`."""
    bits = SIMHASH_BITS[hash_fn]
    # r10 regroup (guide §2.3): occurrence stream contracts to DISTINCT
    # (doc, token) pairs with an occurrence count in its FIRST shuffle
    # (map-side combined); df is one more aggregate over the pair table
    # (replacing the former tok.distinct() shuffle of the raw stream),
    # and the df join now carries pair-grain rows instead of the whole
    # occurrence stream.  Each pair votes w·cnt where every occurrence
    # voted w — identical exact BIGINT sums (integer addition is
    # associative/commutative; pinned by the brute-force twin).
    tok = _spread(docs).select(
        F.col(id_col).alias("doc"),
        F.explode(tokens_array(F.col(text_col))).alias("token"),
    )
    per_pair = tok.groupBy("doc", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    df_t = per_pair.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    weighted = (
        per_pair.join(df_t, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc",
            _simhash_token_hash(F.col("token"), hash_fn).alias("h"),
            (
                F.greatest(F.lit(1), F.expr("n_docs div df")).cast("bigint")
                * F.col("cnt")
            ).alias("w"),
        )
    )
    # same single-expression construction as simhash_fingerprints (r10):
    # one array of weighted per-bit sums, one ascending-i fold — the
    # weighted majority arithmetic per bit is unchanged exact BIGINT
    votes = "array(" + ",".join(
        f"sum((shiftright(h, {i}) & 1) * w)" for i in range(bits)
    ) + ")"
    per_doc = weighted.groupBy("doc").agg(
        F.expr(votes).alias("v"), F.sum("w").alias("tw")
    )
    fp = (
        f"aggregate(sequence(0, {bits - 1}), cast(0 as bigint), "
        "(acc, i) -> acc + IF(element_at(v, i + 1) * 2 > tw, "
        "shiftleft(cast(1 as bigint), i), cast(0 as bigint)))"
    )
    return per_doc.select("doc", F.expr(fp).alias("simhash"))


def simhash_idf_near_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = MAX_DF,
) -> DataFrame:
    """Near-dup candidates over the IDF-weighted fingerprints — same
    4-band blocking + exact popcount verify as the unweighted path
    (:func:`banded_hamming_pairs` is fingerprint-agnostic)."""
    return banded_hamming_pairs(
        simhash_weighted_fingerprints(docs, text_col, id_col, "md5"),
        "simhash",
        "doc",
        SIMHASH_BITS["md5"],
        max_hamming,
        max_bucket,
    )


def winnow_pairs(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = MAX_DF,
    text_col: str = "text",
    id_col: str = "doc_id",
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """MOSS-style similarity detection over winnowed fingerprints: the
    pair face of :func:`winnow_fingerprints` — documents sharing at
    least ``min_shared`` distinct selected fingerprints, ``(doc_a,
    doc_b, n_shared)``.  This is how MOSS actually reports matches:
    winnowing guarantees any shared run of ≥ w+k−1 tokens leaves a
    shared fingerprint, so the pair count is a length-calibrated
    plagiarism/boilerplate signal at ~2/(w+1) of full-fingerprint cost.

    Scale shape: the fingerprint table self-joins on the 60-bit value
    with the same ``max_df`` hot-key cap as every other inverted-index
    pair generator (a boilerplate fingerprint in d docs would emit
    O(d²) pairs); everything after runs at shared-pair grain.
    """
    # ``fingerprints``: a pre-built winnow_fingerprints(docs, k, w)
    # table (the selection is a pure per-doc function, so a shared
    # materialization equals a rebuild); solo calls derive it here
    fps = (
        (
            fingerprints
            if fingerprints is not None
            else winnow_fingerprints(docs, k, w, text_col, id_col)
        )
        .select("doc_id", "fp")
        .distinct()
        .persist()
    )
    keep = fps
    if max_df is not None:
        hot = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("fp")
        )
        keep = fps.join(F.broadcast(hot), "fp", "left_anti")
    a, b = keep.alias("a"), keep.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= int(min_shared))
    )


def blocking_quality(
    docs: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = MAX_DF,
    truth_pairs: DataFrame | None = None,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """Blocking-stage audit for the near-dup pipeline: pair completeness
    vs reduction ratio of the SimHash 4-band BLOCKING (candidates
    BEFORE any verification) against the exact n-gram-Jaccard truth
    pairs — the two numbers the record-linkage literature grades any
    blocking scheme on.  :func:`lsh_recall` prices the END-TO-END pair
    finder; this prices the candidate GENERATOR alone, which is what you
    tune (band width / bucket caps) when recall is off.

    * ``pair_completeness`` = |candidates ∩ truth| / |truth| — how many
      true near-dup pairs survive blocking at all.
    * ``reduction_ratio`` = 1 − |candidates| / (n·(n−1)/2) — how much of
      the quadratic comparison space blocking eliminated.

    The md5-60 SimHash family keeps every bit engine-reproducible; all
    five counts are exact BIGINTs and each ratio is one pinned division.
    Output (one row): (n_docs, n_truth, n_candidates, n_hit,
    pair_completeness, reduction_ratio).

    Scale shape: fingerprints at doc grain, band buckets with the
    :data:`MAX_DF` hot-bucket guard (never all-pairs), truth from the
    prefix-capped shingle join — the same envelopes as the operators it
    audits.  ``truth_pairs`` short-circuits the truth run with a
    pre-built :func:`ngram_jaccard_pairs` table at the same threshold —
    the dedup-closure family's shared stage, which this audit grades
    blocking AGAINST, so consuming the one materialization is the
    production composition.
    """
    truth = (
        truth_pairs
        if truth_pairs is not None
        else ngram_jaccard_pairs(
            docs, threshold, text_col=text_col, id_col=id_col, max_df=max_bucket
        )
    ).select("doc_a", "doc_b").persist()
    # ``fingerprints`` short-circuits the fingerprint pass with a
    # pre-built simhash_fingerprints(docs, ..., hash_fn='md5') table —
    # the shared-stage contract with simhash_near_pairs (one corpus
    # fingerprint materialization grades both the finder and blocking)
    fps = (
        fingerprints
        if fingerprints is not None
        else simhash_fingerprints(docs, text_col, id_col, hash_fn="md5")
    )
    # max_hamming = full width ⇒ NO Hamming verification: the raw
    # band-collision candidate set is exactly what a blocking audit
    # must grade.
    cand = banded_hamming_pairs(
        fps, "simhash", "doc", SIMHASH_BITS["md5"],
        max_hamming=SIMHASH_BITS["md5"], max_bucket=max_bucket,
    ).select("doc_a", "doc_b").persist()
    n_docs = fps.agg(F.count(F.lit(1)).alias("n_docs"))
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_hit = truth.join(cand, ["doc_a", "doc_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    out = (
        n_docs.crossJoin(F.broadcast(n_truth))
        .crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_hit))
    )
    total_pairs = (
        F.col("n_docs").cast("double")
        * (F.col("n_docs") - 1).cast("double")
        / 2.0
    )
    return out.select(
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_truth").cast("bigint").alias("n_truth"),
        F.col("n_candidates").cast("bigint").alias("n_candidates"),
        F.col("n_hit").cast("bigint").alias("n_hit"),
        F.when(
            F.col("n_truth") > 0,
            F.col("n_hit").cast("double") / F.col("n_truth").cast("double"),
        ).alias("pair_completeness"),
        F.when(
            F.col("n_docs") > 1,
            F.lit(1.0) - F.col("n_candidates").cast("double") / total_pairs,
        ).alias("reduction_ratio"),
    )


def dedup_roi_curve(
    docs: DataFrame,
    thresholds: tuple = (0.5, 0.6, 0.7, 0.8, 0.9),
    n: int = 3,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Dedup operating curve: for each candidate Jaccard threshold, how
    many near-dup pairs fire and how many documents the keep-lowest-id
    rule would DROP — the ROI readout that turns "pick a threshold"
    from folklore into a measured trade-off (pair count ~ verification
    cost; drop count ~ data saved), the dedup-family sibling of the
    selection curves in curation (coverage_curve, decile_lift).

    One pair-stage pass: the exact n-gram Jaccard pairs at the LOOSEST
    threshold are computed once (:func:`ngram_jaccard_pairs` — at
    100 TB that stage is the banded/prefix-filtered index, identical
    economics), then each pair replicates onto the ≤ |thresholds| rows
    it clears — a config-grain explode, no second corpus pass.
    ``n_docs_dropped`` counts distinct higher-id pair members (the
    keep-first survivorship rule dup_clusters uses).

    Output: (threshold, n_pairs, n_docs_dropped, drop_ratio) per
    threshold, drop_ratio over the full corpus count — exact integers
    + one division.
    """
    if pairs is None:
        pairs = ngram_jaccard_pairs(docs, threshold=min(thresholds), n=n)
    tdf = docs.sparkSession.createDataFrame(
        [(float(t),) for t in sorted(thresholds)], "threshold double"
    )
    hit = pairs.crossJoin(F.broadcast(tdf)).filter(
        F.col("jaccard") >= F.col("threshold")
    )
    per_t = hit.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.count_distinct("doc_b").cast("bigint").alias("n_docs_dropped"),
    )
    corpus = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    # thresholds that fire NO pair still report a zero row
    return (
        tdf.join(per_t, "threshold", "left")
        .crossJoin(F.broadcast(corpus))
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
            F.coalesce("n_docs_dropped", F.lit(0))
            .cast("bigint")
            .alias("n_docs_dropped"),
            F.when(
                F.col("n_docs") > 0,
                F.coalesce("n_docs_dropped", F.lit(0)).cast("double")
                / F.col("n_docs").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("drop_ratio"),
        )
        .orderBy("threshold")
    )


def dup_edge_support(
    docs: DataFrame,
    threshold: float = 0.5,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Embeddedness histogram of the near-dup pair graph: for every
    near-dup edge, how many OTHER documents are near-dups of both
    endpoints (its triangle support), summarized as (support →
    n_edges).  Support 0 edges are BRIDGES — pairs whose merge is
    witnessed by no third document — exactly the edges a conservative
    dedup reviews before fusing clusters (dup_clusters treats every
    edge alike; this ranks their evidence), the structural-cohesion
    audit of the provenance matrix family.

    Degree-ordered wedge kernel (the same Cohen / Suri-Vassilvitskii
    orientation as ``triangle_stats``): every pair edge is directed
    from its lower-``(degree, id)`` endpoint to the higher, wedges are
    enumerated only between a node's HIGHER-keyed out-neighbors
    (out-degree bounded O(sqrt(m)), so a hub of degree d contributes
    O(m) oriented wedges, never d·(d-1)/2 in one task), and each
    closed wedge yields its triangle exactly once.  Each triangle is
    then exploded to its three canonical edges and counted per edge:
    support(a,b) = |{x: (a,x) ∈ E ∧ (b,x) ∈ E}| — identical values to
    the naive symmetric self-join (Σ deg² work), pinned equal in
    tests/test_round8_ops.py, but the wedge volume is Σ out-deg²
    ≤ O(m^1.5) so the sf0.1→sf1 ratio tracks edge growth, not
    squared-degree growth (SCALE.md r8 panel's 3.7× residual).  The
    orientation key packs ``degree * 2^32 + doc_id`` into one exact
    BIGINT (doc ids are < 2^32 at every SF).  Exact integer counts
    throughout.

    Output: (support, n_edges) ascending; bridges are the support-0
    row.
    """
    # materialize the pair list ONCE: the wedge join reads it three
    # times (edges + both witness sides) and the shingle-join pair
    # stage is the expensive part — without this the stage recomputes
    # 3x (measured 6.6 s -> ~2 s at sf0.1, 43 s -> ~14 s at sf1)
    if pairs is None:
        pairs = (
            ngram_jaccard_pairs(docs, threshold=threshold)
            .select("doc_a", "doc_b")
            .localCheckpoint()
        )
    else:
        # caller supplies the (possibly memoized) pair stage — already
        # materialized, so no extra checkpoint here
        pairs = pairs.filter(F.col("jaccard") >= threshold).select(
            "doc_a", "doc_b"
        )
    deg = (
        pairs.select(F.col("doc_a").alias("node"))
        .unionByName(pairs.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    keyed = deg.select(
        "node", (F.col("deg") * F.lit(2**32) + F.col("node")).alias("k")
    )
    # node-grain lookups (|V| rows) — AQE broadcasts them when they fit
    ek = (
        pairs.join(
            keyed.select(F.col("node").alias("doc_a"), F.col("k").alias("ka")),
            "doc_a",
        )
        .join(
            keyed.select(F.col("node").alias("doc_b"), F.col("k").alias("kb")),
            "doc_b",
        )
        .select(
            F.when(F.col("ka") < F.col("kb"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("src"),
            F.when(F.col("ka") < F.col("kb"), F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("dst"),
            F.greatest("ka", "kb").alias("kdst"),
        )
        # read 3x below (two wedge sides + the closing join); without
        # this the upstream pair stage re-derives each time
        .localCheckpoint()
    )
    e1, e2 = ek.alias("e1"), ek.alias("e2")
    triangles = (
        e1.join(
            e2,
            (F.col("e1.src") == F.col("e2.src"))
            & (F.col("e1.kdst") < F.col("e2.kdst")),
        )
        .select(
            F.col("e1.src").alias("u"),
            F.col("e1.dst").alias("v"),
            F.col("e2.dst").alias("w"),
        )
        .join(
            ek.select(F.col("src").alias("v"), F.col("dst").alias("w")),
            ["v", "w"],
        )
    )
    # each triangle supports each of its three edges once; canonical
    # (min id, max id) form matches the pair list's doc_a < doc_b
    tri_edges = triangles.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("u", "v").alias("doc_a"),
                    F.greatest("u", "v").alias("doc_b"),
                ),
                F.struct(
                    F.least("u", "w").alias("doc_a"),
                    F.greatest("u", "w").alias("doc_b"),
                ),
                F.struct(
                    F.least("v", "w").alias("doc_a"),
                    F.greatest("v", "w").alias("doc_b"),
                ),
            )
        ).alias("e")
    ).select("e.doc_a", "e.doc_b")
    closed = tri_edges.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("support")
    )
    per_edge = pairs.join(closed, ["doc_a", "doc_b"], "left").select(
        F.coalesce("support", F.lit(0)).cast("bigint").alias("support")
    )
    return (
        per_edge.groupBy("support")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
        .orderBy("support")
    )

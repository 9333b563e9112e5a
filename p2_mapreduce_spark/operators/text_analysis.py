"""Text-analysis operators for LLM-data pipelines (extension surface).

Language ID, quality scoring, token statistics, and content
fingerprinting — each a pure built-in-function pipeline (regexp + string
+ hash functions, all JVM-side) whose arithmetic is IEEE-deterministic so
every query here is oracle-checkable cross-engine.

Reference seed: the only text analytics in the reference is
tokenize+count (wordcount.go:20-45); everything else is new surface per
BASELINE.json's north star.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from p2_mapreduce_spark.functions.numeric import dsum
from p2_mapreduce_spark.functions.text import (
    TOKEN_SPLIT_REGEX,
    token_ngrams,
    tokens_array,
)
from p2_mapreduce_spark.session import spread

#: (language, marker regex) — tiny n-gram/stopword heuristic. Real
#: pipelines plug a model here (fasttext et al., not in this container);
#: the *engine* contract is: one regexp count per language, argmax with
#: deterministic tie-break order.
LANG_MARKERS = (
    ("en", r"\b(the|and|of|to|is|in)\b"),
    ("de", r"\b(der|die|das|und|ist|nicht)\b"),
    ("es", r"\b(el|la|los|las|es|y|de)\b"),
    ("fr", r"\b(le|la|les|et|est|une)\b"),
)


def token_count(text: Column) -> Column:
    """Whitespace/punct token count (the BPE-ish pre-tokenizer count)."""
    return F.size(tokens_array(text))


#: GPT-2-style pre-tokenizer classes: letter runs, digit runs, other
#: non-space runs.  Same classes in Java regex (Spark) and RE2 (DuckDB).
BPE_PRETOKEN_REGEX = r"\p{L}+|\p{N}+|[^\s\p{L}\p{N}]+"


def bpe_pretoken_stats(docs: DataFrame) -> DataFrame:
    """Per-language BPE pre-tokenization statistics: piece counts by class
    (letter/digit/punct runs — the GPT-2 pre-tokenizer split) and the
    pieces-per-whitespace-token fertility ratio that sizes a training
    corpus in tokens.

    All per-row counts are projected once in a narrow select, then
    integer-summed (order-independent); fertility is one double division
    at the end.  Everything is regexp + size — JVM codegen, no shuffle
    beyond the #langs-row aggregate."""
    pre = spread(docs).select(
        "lang",
        F.size(F.regexp_extract_all("text", F.lit(BPE_PRETOKEN_REGEX), F.lit(0)))
        .alias("n_pieces"),
        F.size(F.regexp_extract_all("text", F.lit(r"\p{L}+"), F.lit(0)))
        .alias("n_alpha"),
        F.size(F.regexp_extract_all("text", F.lit(r"\p{N}+"), F.lit(0)))
        .alias("n_num"),
        token_count(F.col("text")).alias("n_ws"),
    )
    return pre.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_pieces").alias("sum_pieces"),
        F.sum("n_alpha").alias("sum_alpha"),
        F.sum("n_num").alias("sum_num"),
        (F.sum("n_pieces") - F.sum("n_alpha") - F.sum("n_num")).alias("sum_punct"),
        (F.sum("n_pieces").cast("double") / F.sum("n_ws")).alias("fertility"),
    )


def text_stats(docs: DataFrame) -> DataFrame:
    """Per-language corpus statistics: doc/char/token totals and means.
    The token count is projected ONCE per row before the aggregate —
    repeating the tokenize expression inside several agg expressions
    would re-tokenize per expression (HOF chains sit outside codegen
    subexpression elimination)."""
    pre = spread(docs).select(
        "lang",
        "source",
        "n_chars",
        F.length("text").alias("text_len"),
        token_count(F.col("text")).alias("ntok"),
    )
    return pre.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("ntok").alias("sum_tokens"),
        (F.sum("ntok").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        F.countDistinct("source").alias("n_sources"),
        F.min("text_len").alias("min_len"),
        F.max("text_len").alias("max_len"),
    )


def lang_scores(text: Column) -> list[tuple[str, Column]]:
    return [
        (lang, F.size(F.regexp_extract_all(F.lower(text), F.lit(rx), F.lit(0))))
        for lang, rx in LANG_MARKERS
    ]


def lang_id(docs: DataFrame) -> DataFrame:
    """Heuristic language ID: argmax of marker-hit counts, first-listed
    language wins ties, 'und' when nothing matches."""
    scores = lang_scores(F.col("text"))
    best = F.lit("und")
    best_n = F.lit(0)
    # fold right-to-left so earlier languages win ties with strict '>'
    for lang, n in reversed(scores):
        cond = n >= F.greatest(best_n, F.lit(1))
        # use > for later langs via ordering: since we fold reversed, an
        # earlier lang replacing on >= gives it the tie.
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_n = F.when(cond, n).otherwise(best_n)
    return spread(docs).select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        best.alias("detected_lang"),
        best_n.cast("bigint").alias("marker_hits"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Length/alpha-ratio/stopword heuristics → [0,1]-ish score.
    All ratios are single IEEE divisions of integer counts (deterministic
    and oracle-comparable bit-for-bit)."""
    text = F.col("text")
    n_chars = F.octet_length(text).cast("bigint")
    n_alpha = F.octet_length(F.regexp_replace(text, r"[^A-Za-z0-9]", "")).cast("bigint")
    n_spaces = (n_chars - F.octet_length(F.regexp_replace(text, r" ", ""))).cast("bigint")
    n_tokens = token_count(text).cast("bigint")
    stop_hits = F.size(
        F.regexp_extract_all(F.lower(text), F.lit(r"\b(the|and|of|to|a|in)\b"), F.lit(0))
    ).cast("bigint")
    alpha_ratio = n_alpha.cast("double") / n_chars
    space_ratio = n_spaces.cast("double") / n_chars
    stop_ratio = stop_hits.cast("double") / n_tokens
    score = alpha_ratio * 0.5 + space_ratio * 0.25 + stop_ratio * 0.25
    return spread(docs).select(
        "doc_id",
        n_chars.alias("n_bytes"),
        n_tokens.alias("n_tokens"),
        alpha_ratio.alias("alpha_ratio"),
        space_ratio.alias("space_ratio"),
        stop_ratio.alias("stop_ratio"),
        score.alias("quality"),
    )


def fingerprint_docs(docs: DataFrame) -> DataFrame:
    """Content fingerprint on normalized text (lower + whitespace
    collapse): md5 for exact-dup detection plus a 64-bit xxhash for
    compact join keys.  Both JVM hash functions, deterministic."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return spread(docs).select(
        "doc_id",
        F.md5(norm).alias("md5"),
        F.xxhash64(norm).alias("xxh64"),
        F.length(norm).alias("norm_len"),
    )


def hash_sample(docs: DataFrame, threshold_hex: str = "28",
                hash_col: str = "text") -> DataFrame:
    """Deterministic content-addressed sampling: keep rows whose
    ``md5(hash_col)`` first byte <= threshold (0x28/0xff ≈ 16%).

    This replaces ``df.sample()`` for pipeline splits at scale:
    ``sample()`` depends on partition layout (not reproducible across
    repartitions or engines), while a content hash gives the SAME sample
    for the same data everywhere — train/holdout splits stay disjoint
    across runs, engines, and backfills.  Hashing the content (not the
    id) also keeps exact duplicates in the same split."""
    pred = F.substring(F.md5(F.col(hash_col)), 1, 2) <= F.lit(threshold_hex)
    return docs.filter(pred).select("doc_id", "lang", "source", "n_chars")


#: Per-language sampling rates as md5-prefix thresholds (2 hex chars ⇒
#: rate ≈ int(hex,16)/256): quality-weighted corpus mixing — keep most of
#: the rare languages, downsample the dominant one.
STRATA_THRESHOLDS = (("en", "20"), ("de", "80"), ("es", "80"), ("fr", "80"))
DEFAULT_STRATUM_THRESHOLD = "40"


def stratified_sample(
    docs: DataFrame,
    thresholds: tuple[tuple[str, str], ...] = STRATA_THRESHOLDS,
    default_threshold: str = DEFAULT_STRATUM_THRESHOLD,
) -> DataFrame:
    """Per-stratum deterministic sampling: like :func:`hash_sample` but the
    keep-threshold depends on the group — the corpus-mixing primitive
    (downsample the dominant language, keep the rare ones).

    Same scale properties as hash_sample: a pure per-row predicate on a
    content hash, no shuffle, no RNG state, reproducible across engines,
    partitionings, and backfills (``sampleBy()`` is none of those).  The
    threshold map is a CASE expression, not a join — it's configuration,
    not data."""
    thr = F.lit(default_threshold)
    for lang, t in reversed(thresholds):
        thr = F.when(F.col("lang") == lang, F.lit(t)).otherwise(thr)
    pred = F.substring(F.md5(F.col("text")), 1, 2) <= thr
    return docs.filter(pred).select("doc_id", "lang", "source", "n_chars")


def top_bigrams(docs: DataFrame, k: int = 20) -> DataFrame:
    """Global top-k token bigrams — n-gram statistics over the corpus
    (wordcount's M1-M9 dataflow with a 2-token key).  One explode + one
    partial→final count + a distributed top-k (ties broken by bigram so
    the cut is total)."""
    bigrams = token_ngrams("text", 2, lambda g: F.concat_ws(" ", g))
    return (
        spread(docs).select(F.explode(bigrams).alias("bigram"))
        .where(F.col("bigram") != "")
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "bigram")
        .limit(k)
    )


def _md5_60(col: Column) -> Column:
    """Oracle-computable 60-bit hash (same family as the SimHash md5
    variant, dedup.py _simhash_token_hash): the 15-hex-digit md5 tail as
    a non-negative long — DuckDB reproduces it with
    ``CAST('0x'||substr(md5(x),18,15) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(col), 18, 15), 16, 10).cast("long")


def heavy_hitters(
    docs: DataFrame,
    k: int = 10,
    depth: int = 4,
    width: int = 256,
    text_col: str = "text",
) -> DataFrame:
    """Count-Min-Sketch heavy hitters: the exact top-k tokens with their
    CMS estimates and the sketch's signature one-sided overcount.

    The sketch is built FROM the per-token count table, not the raw token
    stream: bucket counts are sums of token counts, so aggregating the
    (already shuffled) distinct-token table gives the identical sketch at
    a fraction of the cost — one corpus-wide shuffle total, then
    everything downstream operates on distinct tokens (bounded by
    vocabulary, not corpus).  The sketch itself is ``depth × width`` rows
    — configuration-sized, broadcast to the top-k probe.

    Every column is exactly reproducible cross-engine (md5-60-bit bucket
    hash, integer sums), so unlike most sketches this one is value-hash
    oracle-checkable end to end; ``overcount = cms_est - exact >= 0`` is
    the CMS guarantee, surfaced as data instead of a pytest-only bound.
    """
    toks = spread(docs).select(
        F.explode(tokens_array(F.col(text_col))).alias("word")
    )
    counts = toks.groupBy("word").agg(F.count(F.lit(1)).alias("cnt")).persist()
    seeds = list(range(depth))
    # distinct-token table → (seed, bucket, sum of counts): the CMS rows
    buckets = (
        counts.select(
            "cnt",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("seed"),
                            (
                                _md5_60(
                                    F.concat(F.lit(f"{s}:"), F.col("word"))
                                )
                                % width
                            ).alias("b"),
                        )
                        for s in seeds
                    ]
                )
            ).alias("sb"),
        )
        .groupBy(F.col("sb.seed").alias("seed"), F.col("sb.b").alias("b"))
        .agg(F.sum("cnt").alias("bucket_cnt"))
    )
    topk = counts.orderBy(F.col("cnt").desc(), "word").limit(k)
    probes = topk.select(
        "word",
        "cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("seed"),
                        (
                            _md5_60(F.concat(F.lit(f"{s}:"), F.col("word")))
                            % width
                        ).alias("b"),
                    )
                    for s in seeds
                ]
            )
        ).alias("sb"),
    ).select("word", "cnt", F.col("sb.seed").alias("seed"), F.col("sb.b").alias("b"))
    return (
        probes.join(F.broadcast(buckets), ["seed", "b"])
        .groupBy("word", "cnt")
        .agg(F.min("bucket_cnt").alias("cms_est"))
        .select(
            "word",
            F.col("cnt").alias("exact_cnt"),
            "cms_est",
            (F.col("cms_est") - F.col("cnt")).alias("overcount"),
        )
    )


def tfidf_top_terms(docs: DataFrame, k: int = 5) -> DataFrame:
    """Rarity-weighted top-``k`` terms per document — the tf-idf keyword
    extraction every retrieval / labeling pipeline runs over a corpus.

    Score is ``(tf * n_docs) / df``: one integer multiply and one IEEE
    double division, both correctly-rounded operations, so the value (and
    therefore the ranking) is bit-identical cross-engine.  Classic tf-idf
    multiplies by ``ln(n/df)`` instead; ``ln`` is *not* IEEE-pinned (libm
    differs per engine), and since ln is monotone in ``n/df`` the per-term
    rarity ORDER is identical — only the absolute scale differs.

    Shape at 100 TB: tokenize+explode is a zero-shuffle map; per-doc term
    counts shuffle on (doc_id, term) with map-side combine (shuffle width
    = distinct pairs, not tokens); the document-frequency table shuffles
    on term the same way.  The tf⋈df join is skewed on stopword-grade
    terms — AQE skew-join splits those partitions (enabled in the session
    factory); a df ceiling (drop terms with df > x% of corpus) is the
    standard pre-filter when only rare terms matter.  The corpus size
    joins in as a broadcast single-row aggregate, never a driver round
    trip.  Top-k per doc is one window over the (doc_id, term) grain.
    """
    toks = spread(docs).select(
        "doc_id", F.explode(tokens_array(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_tbl, "term")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df"))
            .alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def build_vocab(docs: DataFrame, k: int = 1000) -> DataFrame:
    """Top-``k`` token vocabulary with dense rank ids — the first step of
    every tokenizer-training / feature-hashing pipeline (the reference's
    wordcount M1-M9 dataflow plus an id assignment).

    Shape at 100 TB: token counts shuffle once with map-side combine
    (shuffle width = distinct tokens); the top-k cut is a distributed
    ``TakeOrderedAndProject`` heap pass (count desc, token asc — a total
    order, so the cut is deterministic); id assignment is a window over
    the already-bounded k-row result, not the corpus.  Vocab ids are
    frequency-rank ids (0 = most frequent), the convention BPE/WordPiece
    vocabularies use."""
    counts = (
        spread(docs)
        .select(F.explode(tokens_array(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(k)
    )
    from pyspark.sql import Window

    # k rows by construction — the unpartitioned window is grain-bounded
    w = Window.orderBy(F.col("cnt").desc(), "token")
    return counts.select(
        (F.row_number().over(w) - 1).alias("token_id"), "token", "cnt"
    )


def oov_stats(docs: DataFrame, vocab_k: int = 512) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus top-``k``
    vocabulary — the cheap tokenizer-coverage / quality signal (a high
    OOV rate flags boilerplate, non-target-language, or mojibake docs).

    The vocab is a k-row broadcast; per-doc token rows join it
    broadcast-side (the corpus never shuffles on token), then aggregate
    on doc_id with map-side combine.  ``oov_rate`` is one IEEE division
    of two exact integers — bit-stable cross-engine."""
    vocab = build_vocab(docs, vocab_k).select("token")
    toks = spread(docs).select(
        "doc_id", F.explode(tokens_array(F.col("text"))).alias("token")
    )
    flagged = toks.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "token", "left"
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            # count-of-when, not sum-of-flag: both engines type it BIGINT
            F.count(F.when(F.col("in_vocab").isNull(), 1)).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            (F.col("n_oov").cast("double") / F.col("n_tokens")).alias("oov_rate"),
        )
    )


def pmi_bigrams(docs: DataFrame, min_count: int = 5, k: int = 50) -> DataFrame:
    """Top-``k`` collocations by pointwise mutual information — the
    phrase-mining pass (word2vec-style phrase joining, stopword-free
    keyphrase extraction) over the corpus bigram/unigram tables.

    The score is the PMI *lift* ``(c_xy · N) / (c_x · c_y)`` rather than
    its logarithm: ln is monotone, so the ranking is identical, and the
    lift is one BIGINT multiply per side plus one correctly-rounded IEEE
    division — bit-stable cross-engine, where libm's ln is not.

    Shape at 100 TB: unigram and bigram counts are two map-side-combined
    shuffles (width = distinct grams); the bigram⋈unigram joins are on
    the token key — stopword-heavy tokens are exactly the AQE-skew-join
    case; ``min_count`` prunes the long tail before the joins; final cut
    is a TakeOrderedAndProject heap with a total order."""
    toks = tokens_array(F.col("text"))
    base = spread(docs).select(toks.alias("toks"))
    uni = (
        base.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_tokens = uni.agg(F.sum("c").alias("n_tokens"))
    pairs = base.select(
        F.explode(
            F.when(
                F.size("toks") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.struct(
                        F.element_at("toks", i).alias("w1"),
                        F.element_at("toks", i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(F.expr("array()")),
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    big = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )
    c1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x"))
    c2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y"))
    scored = (
        big.join(c1, "w1")
        .join(c2, "w2")
        .join(F.broadcast(n_tokens))
        .select(
            "w1",
            "w2",
            "c_xy",
            "c_x",
            "c_y",
            (
                (F.col("c_xy") * F.col("n_tokens")).cast("double")
                / (F.col("c_x") * F.col("c_y")).cast("double")
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.col("lift").desc(), "w1", "w2").limit(k)


def corpus_report(docs: DataFrame) -> DataFrame:
    """Corpus curation dashboard: token/byte/quality aggregates at every
    grain of (lang × source) via CUBE — the one-query report a data
    curator reads before mixing sources — ``(lang, source, n_docs,
    total_tokens, avg_tokens, distinct_ratio_ppm)``.

    CUBE expands each input row into its 4 grouping sets INSIDE the
    aggregate (map-side combined like any other agg), so the report
    costs one scan + one shuffle at (grouping-set × group) grain.  NULL
    grain labels are surfaced as 'ALL' (engine-neutral: CUBE's null
    indicator vs a real null would be ambiguous — the fixture has no
    null lang/source).  Ratios are exact-integer ppm; the average is
    one IEEE division.
    """
    toks = tokens_array(F.col("text"))
    base = spread(docs).select(
        "lang",
        "source",
        F.size(toks).cast("bigint").alias("n_tok"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_uniq"),
    )
    return (
        base.cube("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            (
                F.sum("n_tok").cast("double") / F.count(F.lit(1))
            ).alias("avg_tokens"),
            # integer div, not double-divide-then-cast: Spark casts
            # double->bigint by truncation but the oracle engine rounds
            F.expr("sum(n_uniq) * 1000000 div sum(n_tok)")
            .cast("bigint")
            .alias("distinct_ratio_ppm"),
        )
        .select(
            F.coalesce(F.col("lang"), F.lit("ALL")).alias("lang"),
            F.coalesce(F.col("source"), F.lit("ALL")).alias("source"),
            "n_docs",
            "total_tokens",
            "avg_tokens",
            "distinct_ratio_ppm",
        )
    )


def doclen_histogram(docs: DataFrame) -> DataFrame:
    """Document-length distribution in power-of-two token buckets —
    ``(bucket_lo, bucket_hi, n_docs, share_ppm)`` — the curator's
    first diagnostic (truncation cliffs, boilerplate spikes, empty-doc
    mass all show up here).

    Bucket index = bit length of the token count (0 tokens → bucket 0),
    a pure integer expression; one map-side-combined aggregate at
    bucket grain (≤ ~40 rows).  Shares are exact-integer ppm against a
    broadcast one-row total.
    """
    base = spread(docs).select(
        F.size(tokens_array(F.col("text"))).cast("bigint").alias("n_tok")
    )
    bucket = (
        F.when(F.col("n_tok") <= 0, F.lit(0))
        .otherwise(F.length(F.expr("bin(n_tok)")))
        .cast("bigint")
    )
    hist = (
        base.select(bucket.alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    total = hist.agg(F.sum("n_docs").alias("total"))
    return (
        hist.crossJoin(F.broadcast(total))
        .select(
            F.when(F.col("b") <= 0, F.lit(0))
            .otherwise(
                F.expr("shiftleft(cast(1 as bigint), cast(b - 1 as int))")
            )
            .cast("bigint")
            .alias("bucket_lo"),
            F.expr("shiftleft(cast(1 as bigint), cast(b as int)) - 1")
            .cast("bigint")
            .alias("bucket_hi"),
            "n_docs",
            F.expr("n_docs * 1000000 div total")
            .cast("bigint")
            .alias("share_ppm"),
        )
    )


def rarity_score(docs: DataFrame) -> DataFrame:
    """Unigram rarity (surprisal proxy, ln-free): the mean inverse
    corpus frequency of each document's tokens, in exact ppm — the
    gibberish detector dual to :func:`quality_score` (typo-dense or
    machine-garbled text is made of corpus-rare tokens, boilerplate of
    corpus-common ones).  A true LM cross-entropy needs ``ln`` (the one
    transcendental whose last bit differs across engines); inverse
    frequency is monotone in unigram surprisal, which is all a
    threshold consumer uses.

    Determinism protocol: each token's term is ``floor(1e6·N/cnt)`` —
    one IEEE division + floor, bit-stable — and the per-doc mean sums
    those BIGINTs exactly, so the result is independent of aggregation
    order (a raw double sum would drift per shuffle).  Plan: one (doc,
    token) aggregate (map-side combined), token-frequency table joined
    back at token grain, one per-doc integer aggregate.

    Output: (doc_id, n_tokens, rarity_ppm) where rarity_ppm =
    floor(Σ floor(1e6·N/cnt(tok)) / n_tokens); N = corpus token count.
    """
    toks = spread(docs).select(
        F.col("doc_id"), F.explode(tokens_array(F.col("text"))).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    cnt = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    term = F.floor(
        F.lit(1_000_000.0) * F.col("n_total") / F.col("cnt")
    ).cast("bigint")
    return (
        tf.join(cnt, "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.floor(
                F.sum(term * F.col("tf")) / F.sum("tf")
            ).cast("bigint").alias("rarity_ppm"),
        )
    )


def distinctive_tokens(
    docs: DataFrame, top_k: int = 5, min_tf: int = 20
) -> DataFrame:
    """Per-source characteristic vocabulary: the tokens a source uses
    most disproportionately vs the rest of the corpus — the "what IS
    this source" diagnostic behind mixture decisions and contamination
    hunts.  Ranking statistic is the usage-rate ratio
    ``(tf_s/N_s) / (tf_r/N_r)``, carried as the EXACT integer cross
    product ``tf_s·N_r`` vs ``tf_r·N_s`` in DECIMAL(38,0) (token counts
    at 100 TB overflow a BIGINT product) — ppm lift via one final
    division; ``min_tf`` suppresses the infinite-lift noise of
    singleton tokens.

    One (source, token) aggregate (map-side combined), token-grain
    totals joined back, per-source top-k window bounded by the
    surviving vocabulary.  Output: (source, token, tf_source, tf_rest,
    lift_ppm, rk).
    """
    toks = spread(docs).select(
        F.col("source"), F.explode(tokens_array(F.col("text"))).alias("token")
    )
    st = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("tf_s"))
    tot_s = st.groupBy("source").agg(F.sum("tf_s").alias("n_s"))
    tok_all = st.groupBy("token").agg(F.sum("tf_s").alias("tf_all"))
    grand = st.agg(F.sum("tf_s").alias("n_all"))
    scored = (
        st.join(tok_all, "token")
        .join(tot_s, "source")
        .crossJoin(F.broadcast(grand))
        .withColumn("tf_r", F.col("tf_all") - F.col("tf_s"))
        .withColumn("n_r", F.col("n_all") - F.col("n_s"))
        .where((F.col("tf_s") >= min_tf) & (F.col("tf_r") > 0))
        .withColumn(
            "lift_ppm",
            # `div` (integral quotient) on decimals is exact — a scaled
            # decimal DIVISION would round HALF_UP at its result scale
            # before floor, off-by-one near integer boundaries
            F.expr(
                "CAST((CAST(tf_s AS DECIMAL(38,0)) * n_r * 1000000) div "
                "(CAST(tf_r AS DECIMAL(38,0)) * n_s) AS BIGINT)"
            ),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("lift_ppm").desc(), F.col("token")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= top_k)
        .select(
            "source",
            "token",
            F.col("tf_s").cast("bigint").alias("tf_source"),
            F.col("tf_r").cast("bigint").alias("tf_rest"),
            "lift_ppm",
            "rk",
        )
    )


def token_diversity(docs: DataFrame, group_col: str = "source") -> DataFrame:
    """Lexical diversity per source: the Gini-Simpson index
    ``D = 1 − Σ (c_i/n)²`` over the token frequency distribution (the
    probability two random tokens differ), plus the type-token ratio —
    the corpus-mix diagnostics a curation dashboard reads next to
    :func:`distinctive_tokens` (entropy is the usual alternative, but
    its log has no cross-engine-pinned evaluation; Gini-Simpson is an
    exact RATIONAL ``(n² − Σc_i²)/n²``, one double division at the
    surface).

    Σc_i² runs in DECIMAL(38,0) (HUGEINT in the oracle) — the square of
    a heavy token's count is n²-scale, the mwu_drift overflow lesson.
    Work beyond the tokenize+explode map is one aggregate at vocabulary
    grain per source.  Output: (source, n_tokens, n_types, simpson,
    ttr).
    """
    toks = spread(docs).select(
        F.col(group_col).alias("g"),
        F.explode(tokens_array(F.col("text"))).alias("w"),
    )
    per = toks.groupBy("g", "w").agg(F.count(F.lit(1)).alias("c"))
    agg = per.groupBy("g").agg(
        F.sum("c").cast("decimal(38,0)").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("s2"),
    )
    n2 = F.col("n") * F.col("n")
    return agg.select(
        F.col("g").alias(group_col),
        F.col("n").cast("bigint").alias("n_tokens"),
        "n_types",
        ((n2 - F.col("s2")).cast("double") / n2.cast("double")).alias("simpson"),
        (F.col("n_types").cast("double") / F.col("n").cast("double")).alias("ttr"),
    )


def vocab_growth(
    docs: DataFrame,
    n_checkpoints: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Vocabulary growth curve (the empirical Heaps'-law diagnostic):
    distinct-type count after each prefix of the corpus in ingestion
    order — the "is new data still adding vocabulary?" question that
    decides when more crawl stops paying for a tokenizer or retrieval
    index.

    EXACT at any scale without re-scanning prefixes: each document gets
    its ingestion ordinal (two-phase distributed rank over ``id_col`` —
    no single-task sort), each token keeps only its FIRST ordinal (one
    min aggregate at vocabulary grain), first-occurrences bucket into
    ``n_checkpoints`` equal prefixes, and one cumulative sum over the
    #checkpoints-row table yields the curve.  The corpus is scanned
    once; everything after the explode is vocabulary-grain.

    Output: (checkpoint, docs_prefix, new_types, vocab_size).
    """
    t = (
        docs.select(F.col(id_col).alias("id"))
        .repartitionByRange(F.col("id"))
        .withColumn("pid", F.spark_partition_id())
    )
    w_in = Window.partitionBy("pid").orderBy("id")
    t = t.withColumn("rn", F.row_number().over(w_in))
    per = t.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt"))
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = per.withColumn(
        "off", F.coalesce(F.sum("cnt").over(w_off), F.lit(0))
    ).select("pid", "off")
    total = per.agg(F.sum("cnt").alias("n_docs"))
    ords = t.join(F.broadcast(offsets), "pid").select(
        "id", (F.col("off") + F.col("rn")).alias("o")
    )
    toks = spread(docs).select(
        F.col(id_col).alias("id"),
        F.explode(tokens_array(F.col(text_col))).alias("w"),
    )
    first = (
        toks.join(ords, "id")
        .groupBy("w")
        .agg(F.min("o").alias("first_o"))
    )
    # checkpoint index 1..n: the prefix the first occurrence falls into —
    # ceil(first_o·n / N) in exact integer arithmetic
    ck = first.crossJoin(F.broadcast(total)).select(
        F.expr(
            f"CAST((first_o * {int(n_checkpoints)} + n_docs - 1) div n_docs "
            "AS INT)"
        ).alias("checkpoint"),
        F.col("n_docs"),
    )
    per_ck = ck.groupBy("checkpoint").agg(
        F.count(F.lit(1)).cast("bigint").alias("new_types")
    )
    # full checkpoint spine: a saturated vocabulary still reports every
    # prefix (new_types = 0), so the curve's flat tail is visible
    spine = (
        F.broadcast(total)
        .select(
            F.explode(
                F.sequence(F.lit(1), F.lit(int(n_checkpoints)))
            ).alias("checkpoint"),
            "n_docs",
        )
    )
    w_cum = Window.orderBy("checkpoint").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        spine.join(per_ck, "checkpoint", "left")
        .select(
            "checkpoint",
            F.expr(
                f"CAST(checkpoint * n_docs div {int(n_checkpoints)} AS BIGINT)"
            ).alias("docs_prefix"),
            F.coalesce("new_types", F.lit(0)).cast("bigint").alias("new_types"),
        )
        .select(
            "checkpoint",
            "docs_prefix",
            "new_types",
            F.sum("new_types").over(w_cum).cast("bigint").alias("vocab_size"),
        )
    )


def _cms_buckets(word_col, depth: int, width: int):
    """(seed, b) struct array for one token under the md5-60 CMS hash
    family — shared by sketch build and point query so probe and state
    can never disagree on the hash."""
    return F.array(
        *[
            F.struct(
                F.lit(s).alias("seed"),
                (_md5_60(F.concat(F.lit(f"{s}:"), word_col)) % width).alias(
                    "b"
                ),
            )
            for s in range(depth)
        ]
    )


def cms_state(
    docs: DataFrame, depth: int = 4, width: int = 256, text_col: str = "text"
) -> DataFrame:
    """Mergeable Count-Min-Sketch STATE over the corpus tokens:
    ``(seed, b, bucket_cnt)`` — ≤ depth×width rows regardless of corpus
    size, the same construction :func:`heavy_hitters` builds inline,
    exposed as a persistable state so split corpora (or a batch corpus
    + a live stream — see ``streaming.sinks.cms_state_sink``) merge by
    the associative bucket SUM (:func:`merge_cms_states`): CMS is a
    linear sketch, so split ⊕ split == direct, bit-for-bit.

    Shape at 100 TB: one token shuffle to the distinct-count table,
    then bucket sums at vocabulary grain; the state is config-sized.
    """
    toks = spread(docs).select(
        F.explode(tokens_array(F.col(text_col))).alias("word")
    )
    counts = toks.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        counts.select("cnt", F.explode(_cms_buckets(F.col("word"), depth, width)).alias("sb"))
        .groupBy(F.col("sb.seed").alias("seed"), F.col("sb.b").alias("b"))
        .agg(F.sum("cnt").cast("bigint").alias("bucket_cnt"))
    )


def merge_cms_states(a: DataFrame, b: DataFrame) -> DataFrame:
    """Associative CMS merge: bucket-wise SUM of two states built with
    the same (depth, width) — the linear-sketch property."""
    return (
        a.unionByName(b)
        .groupBy("seed", "b")
        .agg(F.sum("bucket_cnt").cast("bigint").alias("bucket_cnt"))
    )


def cms_query(
    state: DataFrame, words: DataFrame, depth: int = 4, width: int = 256
) -> DataFrame:
    """Point-query a CMS state: per word, ``min`` over its depth bucket
    counts — the one-sided estimate (``est >= true``).  ``words`` is a
    one-column ``word`` DataFrame; the state broadcasts (config-sized)."""
    probes = words.select(
        "word", F.explode(_cms_buckets(F.col("word"), depth, width)).alias("sb")
    ).select("word", F.col("sb.seed").alias("seed"), F.col("sb.b").alias("b"))
    return (
        probes.join(F.broadcast(state), ["seed", "b"], "left")
        .groupBy("word")
        .agg(
            F.min(F.coalesce("bucket_cnt", F.lit(0)))
            .cast("bigint")
            .alias("cms_est")
        )
    )


def zipf_buckets(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Zipf head/torso/tail decomposition: what share of the token MASS
    do the top-10 / top-100 / top-1000 / remaining types carry?  The
    one-table answer to "is this corpus boilerplate-head-heavy or
    long-tail rich", and the capacity planning input for
    stopword/cache/vocab-size choices.

    The frequency rank is the TWO-PHASE distributed rank over
    (count desc, word) at VOCABULARY grain (the dict_encode lesson: a
    global window over a 1e9-type vocabulary is a single-task sort —
    here no task ever sees more than a range partition of the vocab).
    Mass shares are exact BIGINT sums with one pinned division each.

    Output: (bucket, max_rank, n_types, token_mass, mass_share).
    """
    toks = spread(docs).select(
        F.explode(tokens_array(F.col(text_col))).alias("word")
    )
    counts = toks.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    t = counts.repartitionByRange(
        F.col("cnt").desc(), F.col("word")
    ).withColumn("pid", F.spark_partition_id())
    w_in = Window.partitionBy("pid").orderBy(F.col("cnt").desc(), "word")
    t = t.withColumn("rn", F.row_number().over(w_in))
    per = t.groupBy("pid").agg(F.count(F.lit(1)).alias("c"))
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = per.withColumn(
        "off", F.coalesce(F.sum("c").over(w_off), F.lit(0))
    ).select("pid", "off")
    ranked = t.join(F.broadcast(offsets), "pid").select(
        "word", "cnt", (F.col("off") + F.col("rn")).alias("r")
    )
    bucket = (
        F.when(F.col("r") <= 10, F.lit("1_head10"))
        .when(F.col("r") <= 100, F.lit("2_top100"))
        .when(F.col("r") <= 1000, F.lit("3_top1000"))
        .otherwise(F.lit("4_tail"))
    )
    total = counts.agg(F.sum("cnt").cast("bigint").alias("mass_total"))
    return (
        ranked.select(bucket.alias("bucket"), "cnt", "r")
        .groupBy("bucket")
        .agg(
            F.max("r").cast("bigint").alias("max_rank"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum("cnt").cast("bigint").alias("token_mass"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "bucket",
            "max_rank",
            "n_types",
            "token_mass",
            (
                F.col("token_mass").cast("double")
                / F.col("mass_total").cast("double")
            ).alias("mass_share"),
        )
    )


def readability_by_source(docs: DataFrame) -> DataFrame:
    """Flesch reading-ease per source — the grade-level readability
    signal real curation stacks (textstat-style filters) threshold on,
    complementing :func:`quality_score`' length/punct ratios with a
    sentence-structure measure.

    All three inputs are INTEGER counts from regex surfaces identical
    in Java-regex and RE2: words = ``[a-z0-9]+`` runs of the lowered
    text, sentences = ``[.!?]+`` runs (floored at 1 per doc so a
    fragment still scores), syllables = vowel-group runs ``[aeiouy]+``
    (the standard dictionary-free proxy).  Counts sum exactly per
    source (map-side combined, BIGINT) and the Flesch score is ONE
    pinned tree over the corpus-level ratios —
    ``206.835 − 1.015·(W/S) − 84.6·(Y/W)`` with double literals in
    scientific form so neither engine parses them as DECIMAL.

    Scale: one projection + one aggregate at source grain; no shuffle
    wider than #sources.  Returns ``(source, n_docs, n_words,
    n_sentences, n_syllables, flesch)``.

    Reference parity: tokenize/count composition (SURVEY.md M2/M8);
    readability itself is extension surface (§2.3).
    """
    words = F.size(F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
    sents = F.greatest(
        F.lit(1), F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)"))
    )
    sylls = F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
    per_source = (
        docs.select(
            "source",
            words.cast("bigint").alias("w"),
            sents.cast("bigint").alias("s"),
            sylls.cast("bigint").alias("y"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("w").cast("bigint").alias("n_words"),
            F.sum("s").cast("bigint").alias("n_sentences"),
            F.sum("y").cast("bigint").alias("n_syllables"),
        )
    )
    return per_source.select(
        "source",
        "n_docs",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.when(
            F.col("n_words") > 0,
            F.expr(
                "206.835e0"
                " - 1.015e0 * (cast(n_words as double)"
                " / cast(n_sentences as double))"
                " - 84.6e0 * (cast(n_syllables as double)"
                " / cast(n_words as double))"
            ),
        ).alias("flesch"),
    )


def lm_bigram_score(docs: DataFrame) -> DataFrame:
    """Per-document bigram language-model likelihood (add-one smoothed,
    ln-free): the mean conditional probability ``P(w2|w1) =
    (c(w1,w2)+1)/(c(w1·)+V)`` of the document's adjacent token pairs
    under the corpus's own bigram counts, in exact ppm — the classic
    KenLM-style fluency filter (Brown et al. class of n-gram LMs;
    CCNet/Gopher both gate on LM score).  Word salad and shuffled text
    score near the smoothing floor; fluent prose sits orders of
    magnitude higher.  :func:`rarity_score` reads unigram rarity; this
    reads SEQUENCE plausibility — a doc of common tokens in impossible
    order fools the former, not this.

    A true LM log-prob needs ``ln`` (the transcendental with no
    cross-engine bit contract); the per-bigram probability itself is
    one IEEE division, and its floor-quantized ppm is summed in exact
    BIGINT — partition/engine-invariant (the rarity_score protocol).

    Shape at 100 TB: bigram pairing is an in-row array transform (no
    shuffle); the model is two map-side-combined aggregates — (w1,w2)
    counts derived once, w1-margin counts derived FROM them (aggregate
    of aggregate, never a second corpus pass) — joined back at bigram
    grain; vocabulary is a one-row broadcast.  A hot ``w1`` ("the") is
    AQE skew-join territory, same as any NLP-count join.  Per-doc score
    is one integer aggregate at (doc, bigram) grain.

    Output: (doc_id, n_bigrams, lm_ppm) for docs with ≥ 2 tokens;
    lm_ppm = floor(Σ floor(1e6·(c12+1)/(c1+V))·tf / Σ tf).
    """
    toks = spread(docs).select(
        "doc_id", tokens_array(F.col("text")).alias("t")
    )
    # sequence(1, 0) would be the DESCENDING [1, 0] — guard short docs
    pairs = toks.where(F.expr("size(t) >= 2")).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(element_at(t, i) AS w1, "
                "element_at(t, i + 1) AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    tf = pairs.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("tf"))
    c12 = tf.groupBy("w1", "w2").agg(F.sum("tf").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = (
        spread(docs)
        .select(F.explode(tokens_array(F.col("text"))).alias("w"))
        .agg(F.count_distinct("w").alias("v"))
    )
    # ppm term: double mult + one division, floor — bit-stable both engines
    term = F.floor(
        F.lit(1_000_000.0) * (F.col("c12") + 1) / (F.col("c1") + F.col("v"))
    ).cast("bigint")
    return (
        tf.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_bigrams"),
            F.floor(F.sum(term * F.col("tf")) / F.sum("tf"))
            .cast("bigint")
            .alias("lm_ppm"),
        )
    )


def coverage_curve(
    docs: DataFrame,
    checkpoints: Sequence[int] = (1, 2, 5, 10, 20, 50),
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary coverage curve: what share of ALL token occurrences
    the top-r vocabulary entries cover, at rank checkpoints — the
    tokenizer/vocab-size design chart (pick the vocab size where the
    curve flattens; the rank-axis companion of zipf_buckets' mass
    histogram and vocab_topk's entry list).

    Rank = DESCENDING (freq, word) via the two-phase distributed rank
    (revenue_concentration's device — no single task sorts the
    vocabulary); the cumulative mass at each checkpoint is ONE
    conditional aggregate pass (no window over the vocabulary), and
    coverage is an exact integer ppm.

    Returns ``(rank_checkpoint, n_vocab, mass, coverage_ppm)`` — one
    row per checkpoint, ``n_vocab`` = entries actually present at that
    checkpoint (≤ checkpoint when the vocabulary is smaller).
    """
    wf = (
        spread(docs)
        .select(F.explode(tokens_array(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    # two-phase rank, DESCENDING mass: range-partition on (-freq, word)
    t = (
        wf.repartitionByRange(F.negate(F.col("freq")), F.col("word"))
        .withColumn("pid", F.spark_partition_id())
    )
    w_in = Window.partitionBy("pid").orderBy(F.desc("freq"), F.asc("word"))
    t = t.withColumn("rn", F.row_number().over(w_in))
    per = t.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt"))
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = per.withColumn(
        "off", F.coalesce(F.sum("cnt").over(w_off), F.lit(0))
    ).select("pid", "off")
    ranked = t.join(F.broadcast(offsets), "pid").select(
        "freq", (F.col("off") + F.col("rn")).alias("r")
    )
    cps = sorted(set(int(c) for c in checkpoints))
    aggs = []
    for c in cps:
        aggs.append(
            F.sum(F.when(F.col("r") <= c, F.col("freq")).otherwise(0))
            .cast("bigint")
            .alias(f"m_{c}")
        )
        aggs.append(
            F.sum(F.when(F.col("r") <= c, 1).otherwise(0))
            .cast("bigint")
            .alias(f"v_{c}")
        )
    aggs.append(F.sum("freq").cast("bigint").alias("total"))
    one = ranked.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).cast("bigint").alias("rank_checkpoint"),
                F.col(f"v_{c}").alias("n_vocab"),
                F.col(f"m_{c}").alias("mass"),
                F.expr(f"m_{c} * 1000000 div total").alias("coverage_ppm"),
            )
            for c in cps
        ]
    )
    return one.select(F.explode(pairs).alias("p")).select(
        F.col("p.rank_checkpoint").alias("rank_checkpoint"),
        F.col("p.n_vocab").alias("n_vocab"),
        F.col("p.mass").alias("mass"),
        F.col("p.coverage_ppm").cast("bigint").alias("coverage_ppm"),
    )


#: RAKE stopword lexicon — shared verbatim with the quality classifier's
#: stopword feature and the DuckDB oracle.
RAKE_STOPWORDS = ("the", "and", "of", "to", "a", "in")


def rake_keywords(
    docs: DataFrame,
    top_n: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """RAKE keyword scoring (Rose et al., "Automatic Keyword Extraction
    from Individual Documents") at word grain: split token streams into
    candidate phrases at stopwords, then score each content word by
    ``degree / frequency`` — degree counts the word's co-occurrence
    mass (Σ phrase length over its occurrences, itself included), so
    words that live in long multi-word phrases outrank equally-frequent
    words that appear alone.  The degree/frequency ratio is RAKE's
    whole trick and is ONE exact-integer division here — no tf-idf
    logs, bit-identical cross-engine.  Output ``(word, freq, degree,
    score)``, top ``top_n`` by (score desc, word).

    Complements the frequency family: tf-idf ranks by rarity,
    PMI by pairwise association, RAKE by phrase-structure centrality.

    Scale shape: phrase ids are a per-document running count of
    stopword positions (window partitioned BY DOCUMENT — bounded by
    document length, never corpus grain); phrase lengths and word
    aggregates are map-side-combined counts; the final cut is a
    top_n heap (TakeOrderedAndProject).
    """
    toks = spread(docs).select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokens_array(F.col(text_col))).alias("pos", "w"),
    )
    flagged = toks.withColumn("is_stop", F.col("w").isin(*RAKE_STOPWORDS))
    win = (
        Window.partitionBy("doc")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # phrase id = running count of stopword delimiters seen so far
    with_phrase = flagged.withColumn(
        "phrase",
        F.sum(F.when(F.col("is_stop"), 1).otherwise(0)).over(win),
    ).filter(~F.col("is_stop"))
    plen = with_phrase.groupBy("doc", "phrase").agg(
        F.count(F.lit(1)).alias("plen")
    )
    occ = with_phrase.join(plen, ["doc", "phrase"]).select("w", "plen")
    scored = occ.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("degree"),
    )
    return (
        scored.select(
            F.col("w").alias("word"),
            "freq",
            "degree",
            (F.col("degree").cast("double") / F.col("freq").cast("double")).alias(
                "score"
            ),
        )
        .orderBy(F.col("score").desc(), F.col("word"))
        .limit(int(top_n))
    )


def lang_confusion(docs: DataFrame) -> DataFrame:
    """Language-ID evaluation rollup — the confusion matrix + per-label
    accuracy of :func:`lang_id` against the corpus's own labels:
    ``(labeled_lang, detected_lang, n_docs, label_total, cell_share,
    is_correct)``.  The judge-every-classifier pattern completing the
    eval family (calibration_bins = probability quality, classifier_auc
    = ranking quality, this = categorical accuracy): each matrix cell's
    share of its label row is one exact division, so per-label accuracy
    is the ``is_correct`` diagonal's share.

    One label-grain aggregate over the detector's zero-shuffle map —
    output is |labels|×|predictions| rows, config-bounded."""
    preds = lang_id(docs).select("labeled_lang", "detected_lang")
    cells = preds.groupBy("labeled_lang", "detected_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    totals = cells.groupBy("labeled_lang").agg(
        F.sum("n_docs").cast("bigint").alias("label_total")
    )
    return cells.join(totals, "labeled_lang").select(
        "labeled_lang",
        "detected_lang",
        "n_docs",
        "label_total",
        (F.col("n_docs").cast("double") / F.col("label_total").cast("double"))
        .alias("cell_share"),
        (F.col("labeled_lang") == F.col("detected_lang")).alias("is_correct"),
    )


def detector_kappa(docs: DataFrame) -> DataFrame:
    """Cohen's kappa for the language detector vs the corpus labels —
    the chance-corrected scalar on top of :func:`lang_confusion`'s
    matrix (raw accuracy flatters any detector on a skewed label mix;
    kappa subtracts the agreement a label-marginal random guesser gets):
    one row ``(n_docs, n_agree, po, pe, kappa)``.

    Exactness: p_o = agree/n is one division; p_e's numerator
    Σ row_marginal·col_marginal is an exact BIGINT dot product of the
    marginals, so p_e = Σ/n² is one division too, and kappa's
    (po−pe)/(1−pe) is a fixed tree — all bit-identical cross-engine.
    Label/prediction marginals are |labels|-grain aggregates."""
    preds = lang_id(docs).select("labeled_lang", "detected_lang")
    cells = preds.groupBy("labeled_lang", "detected_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    ).persist()
    n_total = cells.agg(F.sum("n").cast("bigint").alias("n_docs"))
    agree = cells.filter(
        F.col("labeled_lang") == F.col("detected_lang")
    ).agg(F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_agree"))
    rowm = cells.groupBy("labeled_lang").agg(
        F.sum("n").cast("bigint").alias("rm")
    )
    colm = cells.groupBy("detected_lang").agg(
        F.sum("n").cast("bigint").alias("cm")
    )
    pe_num = (
        rowm.join(colm, rowm.labeled_lang == colm.detected_lang)
        .agg(
            F.coalesce(F.sum(F.col("rm") * F.col("cm")), F.lit(0))
            .cast("bigint")
            .alias("pe_num")
        )
    )
    po = F.col("n_agree").cast("double") / F.col("n_docs").cast("double")
    pe = F.col("pe_num").cast("double") / (
        F.col("n_docs") * F.col("n_docs")
    ).cast("double")
    return (
        n_total.crossJoin(F.broadcast(agree))
        .crossJoin(F.broadcast(pe_num))
        .select(
            "n_docs",
            "n_agree",
            po.alias("po"),
            pe.alias("pe"),
            F.when(pe < 1.0, (po - pe) / (F.lit(1.0) - pe))
            .otherwise(F.lit(0.0))
            .alias("kappa"),
        )
    )


def sentence_stats(docs: DataFrame) -> DataFrame:
    """Per-source sentence-structure profile: sentence count, token
    mass inside sentences, mean sentence length, short-sentence share,
    and the longest sentence — the structural quality signal (boiler-
    plate and navigation debris skew short; scraped run-ons skew long)
    that complements the character-level ratios of ``quality_score``
    and the token-level Flesch readability score.

    All in-row, JVM-only: documents split on sentence enders
    (``[.!?]+`` — the same regex class in Java and RE2, so the oracle
    splits identically), each sentence tokenized with the house
    ``\\p{L}\\p{N}`` splitter, empty sentences dropped, and the
    per-document count array reduced by built-in higher-order
    functions before one source-grain aggregate of exact BIGINTs.
    The only double is the final mean (one IEEE division).

    Output: (source, n_docs, n_sentences, n_tokens, short_share_ppm,
    avg_tokens, max_tokens); ``short`` = fewer than 4 tokens,
    surfaced exactly in ppm (the life_table device).
    """
    sents = F.split(F.col("text"), r"[.!?]+")
    counts = F.transform(
        sents,
        lambda s: F.size(
            F.filter(
                F.split(s, TOKEN_SPLIT_REGEX), lambda t: t != F.lit("")
            )
        ),
    )
    nonempty = F.filter(counts, lambda c: c > 0)
    per_doc = spread(docs).select(
        "source",
        F.size(nonempty).cast("bigint").alias("n_sent"),
        F.aggregate(
            nonempty, F.lit(0).cast("bigint"), lambda a, c: a + c
        ).alias("n_tok"),
        F.size(F.filter(nonempty, lambda c: c < 4))
        .cast("bigint")
        .alias("n_short"),
        F.coalesce(F.array_max(nonempty), F.lit(0))
        .cast("bigint")
        .alias("max_tok"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_sent").cast("bigint").alias("n_sentences"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.sum("n_short").cast("bigint").alias("n_short"),
        F.max("max_tok").cast("bigint").alias("max_tokens"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_sentences",
        "n_tokens",
        F.when(
            F.col("n_sentences") > 0,
            F.expr("(n_short * 1000000) div n_sentences"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("short_share_ppm"),
        F.when(
            F.col("n_sentences") > 0,
            F.col("n_tokens").cast("double")
            / F.col("n_sentences").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("avg_tokens"),
        "max_tokens",
    )


def text_burstiness(
    docs: DataFrame, min_df: int = 5, top_k: int = 25
) -> DataFrame:
    """Church–Gale term burstiness: collection frequency over document
    frequency (mean occurrences PER CONTAINING DOC) — the classical
    diagnostic separating topical/bursty terms (an article about a
    thing repeats its name) from function words (everywhere exactly
    once or twice).  Complements :func:`distinctive_tokens` (which
    contrasts sources) with the corpus-global burstiness ranking that
    drives stopword lists and dedup shingle choices.

    Exactness: cf and df are exact BIGINTs from ONE (doc, token)
    contraction; the surfaced ranking key is ``burst_ppm =
    floor(1e6·cf/df)`` (one IEEE division + floor — bit-stable), and
    the top-k order (burst_ppm desc, token) is total.

    Scale shape: token explode → (doc, token) map-side combine →
    token-grain aggregate → TakeOrdered top-k.  Output:
    (token, cf, df, burst_ppm).
    """
    toks = spread(docs).select(
        F.col("doc_id"),
        F.explode(tokens_array(F.col("text"))).alias("token"),
    )
    per = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    stats = per.groupBy("token").agg(
        F.sum("tf").cast("bigint").alias("cf"),
        F.count(F.lit(1)).cast("bigint").alias("df"),
    )
    return (
        stats.filter(F.col("df") >= min_df)
        .select(
            "token",
            "cf",
            "df",
            F.floor(F.lit(1_000_000.0) * F.col("cf") / F.col("df"))
            .cast("bigint")
            .alias("burst_ppm"),
        )
        .orderBy(F.col("burst_ppm").desc(), F.col("token"))
        .limit(top_k)
    )


def fleiss_kappa(docs: DataFrame) -> DataFrame:
    """Fleiss' kappa across THREE size raters — the multi-rater
    generalization of :func:`detector_kappa`'s Cohen form (Cohen only
    handles 2 raters; Fleiss is what annotation-agreement audits run
    when k ≥ 3): each document is "rated" short/medium/long by three
    measures (characters, tokens, distinct tokens, fixed thresholds),
    and kappa asks whether the measures agree beyond the chance their
    marginals imply — the consistency audit behind using any single
    length proxy for curation cuts.

    Exactness: per-item Σ_c n_ic² collapses to ``3 + 2·(#equal rater
    pairs)`` (exact int per doc, zero-shuffle); P̄ =
    (Σ_i Σ_c n_ic² − N·k)/(N·k·(k−1)) and P̄e = Σ_c C_c²/(N·k)² are
    each one pinned division over exact BIGINT/DECIMAL moments, and
    κ = (P̄ − P̄e)/(1 − P̄e) is a fixed tree.

    Scale shape: one zero-shuffle per-doc map, one global moment
    aggregate + one 3-row category aggregate.  Output: one row
    (n_docs, k_raters, p_bar, p_e, fleiss_kappa).
    """
    toks = tokens_array(F.col("text"))
    cls = lambda c, lo, hi: (  # noqa: E731
        F.when(c < lo, 0).when(c < hi, 1).otherwise(2)
    )
    rated = spread(docs).select(
        cls(F.length("text"), 200, 800).alias("r1"),
        cls(F.size(toks), 40, 160).alias("r2"),
        cls(F.size(F.array_distinct(toks)), 30, 100).alias("r3"),
    )
    per = rated.select(
        "r1", "r2", "r3",
        (
            F.lit(3)
            + 2
            * (
                (F.col("r1") == F.col("r2")).cast("int")
                + (F.col("r1") == F.col("r3")).cast("int")
                + (F.col("r2") == F.col("r3")).cast("int")
            )
        ).alias("s_i"),
    )
    moments = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("s_i").cast("bigint").alias("s1"),
    )
    cats = (
        per.select(F.explode(F.array("r1", "r2", "r3")).alias("c"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cc"))
        .agg(
            F.sum(
                F.col("cc").cast("decimal(19,0)")
                * F.col("cc").cast("decimal(19,0)")
            ).cast("decimal(38,0)").alias("pe_num")
        )
    )
    out = moments.crossJoin(cats)  # one row × one row
    n = F.col("n_docs").cast("double")
    k = F.lit(3.0)
    p_bar = (F.col("s1").cast("double") - n * k) / (
        n * k * (k - F.lit(1.0))
    )
    p_e = F.col("pe_num").cast("double") / ((n * k) * (n * k))
    kappa = F.when(
        p_e != 1.0, (p_bar - p_e) / (F.lit(1.0) - p_e)
    ).otherwise(F.lit(0.0))
    return out.select(
        "n_docs",
        F.lit(3).cast("int").alias("k_raters"),
        p_bar.alias("p_bar"),
        p_e.alias("p_e"),
        kappa.alias("fleiss_kappa"),
    ).filter(F.col("n_docs") > 0)


def textrank_keywords(
    docs: DataFrame, top_k: int = 20, iterations: int = 3
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau, 2004) at corpus
    grain: PageRank over the word co-occurrence graph (an undirected
    edge per ADJACENT token pair, the paper's window-2 unweighted
    variant), top-k words by centrality — the graph-centrality member
    of the keyword family next to tfidf_top_terms (contrast against
    other docs) and rake_keywords (phrase structure): TextRank scores
    a word by the company it keeps, no frequency table at all.

    Composition, not re-implementation: the graph is fed to
    :func:`~p2_mapreduce_spark.operators.graph.pagerank`, whose
    exact fixed-point integer protocol (rank_q = PR_SCALE-quantized,
    integer div per contribution) makes every iteration bit-identical
    cross-engine — node ids here are the WORDS themselves (pagerank
    only does arithmetic on rank/degree; the node is just a join key).

    Scale shape: adjacent pairs are an in-row array transform (no
    shuffle), the distinct edge set contracts at vocab² ceiling (in
    practice ~vocab·avg-degree), each PageRank round is one join +
    one aggregate on the word key; top-k is a TakeOrderedAndProject
    heap, not a global sort.  Output: (word, rank_q, rnk).
    """
    from p2_mapreduce_spark.operators.graph import pagerank

    toks = spread(docs).select(
        "doc_id", tokens_array(F.col("text")).alias("t")
    )
    adj = (
        toks.where(F.expr("size(t) >= 2"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "i -> struct(element_at(t, i) AS a, "
                    "element_at(t, i + 1) AS b))"
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("w1"), F.greatest("a", "b").alias("w2")
        )
        .distinct()
    )
    pr = pagerank(adj, src="w1", dst="w2", iterations=iterations)
    top = pr.orderBy(F.col("rank_q").desc(), F.col("node")).limit(top_k)
    w = Window.orderBy(F.col("rank_q").desc(), F.col("node"))
    return top.select(
        F.col("node").alias("word"),
        "rank_q",
        F.row_number().over(w).cast("bigint").alias("rnk"),
    )


def cronbach_alpha(docs: DataFrame) -> DataFrame:
    """Cronbach's α over the document-size "item" trio (characters,
    tokens, distinct tokens — the fleiss_kappa raters kept at their
    raw scales): the internal-consistency coefficient ``α = k/(k−1) ·
    (1 − Σσ²ᵢ / σ²_total)`` — the reliability-analysis complement of
    fleiss_kappa (kappa asks "do categorical raters agree?"; alpha
    asks "do continuous items measure one construct?").

    Exactness: per-item and total-score sums/squares are exact BIGINT/
    DECIMAL(38,0) from ONE scan (items derive in-row); sample
    variances clear means by ``(n·Σx² − (Σx)²)/(n(n−1))`` in pinned
    trees, the Σσ²ᵢ fold is k = 3 FIXED columns added in textual
    order, and α is one final tree.  Output one row: (n_docs,
    var_items_sum, var_total, alpha); zero rows when n < 2 or the
    total variance degenerates.
    """
    toks = spread(docs).select(
        F.col("n_chars").alias("x1"),
        F.size(tokens_array(F.col("text"))).cast("bigint").alias("x2"),
        F.size(F.array_distinct(tokens_array(F.col("text"))))
        .cast("bigint")
        .alias("x3"),
    ).withColumn("t", F.col("x1") + F.col("x2") + F.col("x3"))
    dd = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    agg = toks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        *[F.sum(c).cast("bigint").alias(f"s_{c}") for c in ("x1", "x2", "x3", "t")],
        *[
            F.sum(dd(c) * dd(c)).cast("decimal(38,0)").alias(f"q_{c}")
            for c in ("x1", "x2", "x3", "t")
        ],
    )
    two60 = 1152921504606846976

    def big_dbl(col: str):
        hi = F.expr(f"{col} div {two60}").cast("double")
        lo = F.expr(f"CAST({col} % {two60} AS BIGINT)").cast("double")
        return hi * F.lit(float(two60)) + lo

    n = F.col("n").cast("double")

    def var(c: str):
        s = F.col(f"s_{c}").cast("double")
        return (n * big_dbl(f"q_{c}") - s * s) / (n * (n - F.lit(1.0)))

    var_items = var("x1") + var("x2") + var("x3")
    var_total = var("t")
    alpha = (
        F.lit(3.0) / F.lit(2.0) * (F.lit(1.0) - var_items / var_total)
    )
    return agg.filter((F.col("n") > 1) & (var_total > 0.0)).select(
        F.col("n").alias("n_docs"),
        var_items.alias("var_items_sum"),
        var_total.alias("var_total"),
        alpha.alias("alpha"),
    )

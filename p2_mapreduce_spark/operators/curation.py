"""Training-data curation operators (extension surface).

Gopher-style repetition scoring, benchmark-contamination detection, and
PII / blocklist scrubbing — the filter stages a pretraining pipeline runs
over the raw corpus before tokenization.  Like the rest of the extension
surface, every kernel is a built-in-function pipeline (split / regexp /
hash / integer aggregates, all JVM codegen) whose arithmetic is exact or
single-IEEE-division, so each query is oracle-checkable cross-engine.

Reference seed: none — the reference's analytics surface stops at
tokenize+count (mapreduce/functions/wordcount.go:20-45); these are new
components per BASELINE.json's north star (LLM-data pipeline ops as
first-class operators).

Scale notes (100 TB contract):
- ``repetition_stats``: per-doc token/bigram histograms via exploded
  groupBy — partial aggregation (map-side combine) bounds the shuffle to
  distinct (doc, gram) pairs; all ratios are one exact-int division.
- ``benchmark_contamination``: the benchmark shingle set is by
  construction tiny (a benchmark, not a corpus) — it broadcasts, the
  corpus side never shuffles on shingles, and the only exchange is the
  per-doc count aggregate.
- ``pii_scrub``: embarrassingly parallel map — regexp counts + chained
  ``regexp_replace``, zero shuffles.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from p2_mapreduce_spark.functions.text import token_ngrams, tokens_array
from p2_mapreduce_spark.session import spread


def _bigrams(toks: Column) -> Column:
    """``array<string>`` of space-joined adjacent token pairs.

    Built with two slices + ``zip_with`` (codegen, no Python).  Short-doc
    guard mirrors dedup.hashed_shingles: ``sequence``/``slice`` semantics
    require an explicit empty for < 2 tokens.
    """
    n = F.size(toks)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))


def repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition profile (the Gopher/MassiveText quality
    rules): token count, distinct-token ratio, most-frequent-token share,
    most-frequent-bigram share, and the resulting ``repetitive`` flag.

    ONE pass over the corpus: tokens and bigrams are concatenated into a
    single tagged gram array (bigrams carry an order marker), exploded
    once, and collapsed with one groupBy(doc, gram) + groupBy(doc)
    cascade of conditional aggregates — the text is read, split, and
    shuffled exactly once (a tokens-histogram + bigrams-histogram join
    would tokenize and explode the corpus twice for no information
    gain).  Spark's partial aggregation combines counts map-side, so the
    exchange carries distinct grams per doc, not the corpus.  Ratios are
    exact-int IEEE divisions (oracle-identical); the flag thresholds
    follow Gopher Table A1 (top-bigram share > 0.18, distinct ratio <
    0.5), gated on ``n_tokens >= 20`` — repetition shares are
    meaningless on very short docs (a 5-token doc's top bigram is ≥ 0.25
    by pigeonhole), which is why MassiveText applies a min-word-count
    filter before these rules.
    """
    toks = spread(docs).select(
        F.col(id_col), tokens_array(F.col(text_col)).alias("t")
    )
    # tag: 1-grams vs 2-grams share one explode; a bigram's space makes
    # it collision-free against tokens, but the explicit order byte keeps
    # the split logic self-evident and n-gram-order generic
    tagged = toks.select(
        id_col,
        F.explode(
            F.concat(
                F.transform(
                    F.col("t"), lambda x: F.struct(x.alias("g"), F.lit(1).alias("o"))
                ),
                F.transform(
                    _bigrams(F.col("t")),
                    lambda x: F.struct(x.alias("g"), F.lit(2).alias("o")),
                ),
            )
        ).alias("gr"),
    ).select(id_col, F.col("gr.g").alias("g"), F.col("gr.o").alias("o"))
    is_tok = F.col("o") == 1
    hist = (
        tagged.groupBy(id_col, "g", "o")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum(F.when(is_tok, F.col("c"))).alias("n_tokens"),
            F.count(F.when(is_tok, F.lit(1))).alias("n_distinct"),
            F.max(F.when(is_tok, F.col("c"))).alias("top_token_cnt"),
            F.coalesce(
                F.sum(F.when(~is_tok, F.col("c"))), F.lit(0)
            ).alias("n_bigrams"),
            F.max(F.when(~is_tok, F.col("c"))).alias("top_bigram_cnt"),
        )
    )
    distinct_ratio = F.col("n_distinct") / F.col("n_tokens")
    top_token_ratio = F.col("top_token_cnt") / F.col("n_tokens")
    top_bigram_ratio = F.when(
        F.col("n_bigrams") > 0, F.col("top_bigram_cnt") / F.col("n_bigrams")
    ).otherwise(F.lit(0.0))
    return (
        hist.select(
            id_col,
            "n_tokens",
            "n_distinct",
            distinct_ratio.alias("distinct_ratio"),
            top_token_ratio.alias("top_token_ratio"),
            top_bigram_ratio.alias("top_bigram_ratio"),
        )
        .withColumn(
            "repetitive",
            (F.col("n_tokens") >= 20)
            & ((F.col("top_bigram_ratio") > 0.18) | (F.col("distinct_ratio") < 0.5)),
        )
    )


def _string_shingles(
    docs: DataFrame, n: int, text_col: str, id_col: str
) -> DataFrame:
    """(doc_id, shingle) — distinct word n-grams as strings.

    The string (not xxhash64) variant exists for set-membership against an
    external reference list (benchmarks ship as text).  At 100 TB both
    sides would be pre-hashed to 8 bytes (dedup.hashed_shingles); string
    equality against a broadcast set is already shuffle-free, so the only
    cost is comparison width.
    """
    sh = F.array_distinct(
        token_ngrams(text_col, n, lambda g: F.concat_ws(" ", g))
    )
    return spread(docs).select(
        F.col(id_col), F.explode(sh).alias("shingle")
    )


def benchmark_contamination(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    n: int = 5,
    threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document n-gram contamination against a benchmark set — the
    decontamination stage every pretraining pipeline runs so eval data
    does not leak into training data (GPT-3 appendix C / PaLM sec. 8
    methodology: 13-gram / n-gram overlap).

    ``benchmark`` defaults to the deterministic held-out slice
    ``doc_id % 25 == 0`` (stands in for an external eval set).  Its
    distinct shingle set is broadcast — a benchmark is KBs-to-MBs, never
    corpus-sized — so the corpus side streams map-local through the
    membership join; the only shuffle is the final per-doc count
    aggregate.  Output: one row per non-benchmark doc with its distinct
    shingle count, the number hitting the benchmark set, the exact-int
    contamination ratio, and the ``contaminated`` flag.
    """
    if benchmark is None:
        # held-out-slice mode: shingle the corpus ONCE and split the
        # result — two _string_shingles passes would scan + tokenize +
        # explode the whole table twice.  persist() before deriving both
        # sides, or the upstream explode re-executes per consumer (same
        # protocol as dedup.shingle_pairs; at 100 TB: checkpoint).
        all_sh = _string_shingles(docs, n, text_col, id_col).persist()
        bench_sh = (
            all_sh.filter((F.col(id_col) % 25) == 0)
            .select("shingle")
            .distinct()
            .withColumn("hit", F.lit(1))
        )
        doc_sh = all_sh.filter((F.col(id_col) % 25) != 0)
    else:
        bench_sh = (
            _string_shingles(benchmark, n, text_col, id_col)
            .select("shingle")
            .distinct()
            .withColumn("hit", F.lit(1))
        )
        doc_sh = _string_shingles(docs, n, text_col, id_col)
    ratio = F.col("n_contaminated") / F.col("n_shingles")
    return (
        doc_sh.join(F.broadcast(bench_sh), "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_contaminated"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_contaminated",
            ratio.alias("contamination_ratio"),
            (ratio >= threshold).alias("contaminated"),
        )
    )


def pack_sequences(
    docs: DataFrame,
    cap: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    partitions: int | None = None,
) -> DataFrame:
    """Sequence packing: assign each document a position in the
    concatenated token stream and the fixed-size training sequence its
    first token lands in — the chunking step that turns a curated corpus
    into ``cap``-token training examples.

    The global token offset is a prefix sum in ``doc_id`` order.  A
    naive ``Window.orderBy(doc_id)`` with no partition key funnels the
    corpus through ONE task — the classic scale-killer — so this is the
    two-phase distributed prefix sum instead:

    1. range-repartition by ``doc_id`` and materialize the partition id
       (ranges are assigned to ascending partition ids, so pid order ==
       key order);
    2. within-partition running sum (parallel window, partitioned by
       pid);
    3. per-partition totals — a #partitions-row aggregate — prefix-summed
       with a single-partition window that is *grain-bounded by
       configuration* (#partitions, not data) and joined back broadcast.

    The result is partitioning-INDEPENDENT (any range split reconstructs
    the same global order), so the oracle is a plain SQL window cumsum.
    ``offset / cap`` uses exact-int floor on values < 2^53 — identical
    cross-engine.
    """
    from pyspark.sql import Window

    from p2_mapreduce_spark.operators.text_analysis import token_count

    toks = spread(docs).select(
        F.col(id_col), token_count(F.col(text_col)).cast("bigint").alias("n_tokens")
    )
    if partitions:
        toks = toks.repartitionByRange(partitions, F.col(id_col))
    else:
        toks = toks.repartitionByRange(F.col(id_col))
    t = toks.withColumn("pid", F.spark_partition_id())
    within = F.sum("n_tokens").over(
        Window.partitionBy("pid").orderBy(id_col).rowsBetween(
            Window.unboundedPreceding, 0
        )
    )
    t = t.withColumn("local_cum", within)
    part_offsets = (
        t.groupBy("pid")
        .agg(F.sum("n_tokens").alias("part_total"))
        .withColumn(
            "part_offset",
            F.coalesce(
                F.sum("part_total").over(
                    Window.orderBy("pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("pid", "part_offset")
    )
    offset = F.col("part_offset") + F.col("local_cum") - F.col("n_tokens")
    return (
        t.join(F.broadcast(part_offsets), "pid")
        .select(
            id_col,
            "n_tokens",
            offset.alias("token_offset"),
            F.floor(offset / F.lit(float(cap))).cast("bigint").alias("seq_id"),
        )
    )


#: Scrub patterns, applied IN ORDER (order is part of the contract — a
#: URL contains no '@' after the email pass, etc.).  Every pattern is
#: shared Java-regex / RE2 syntax (no backrefs, no lookaround) so the
#: oracle applies the identical automaton.
SCRUB_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("url", r"https?://[^\s]+", "<URL>"),
    ("longnum", r"[0-9]{6,}", "<NUM>"),
)


def pii_scrub(
    docs: DataFrame,
    blocklist: tuple[str, ...] = ("customer", "supplier"),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """PII / blocklist scrubbing: counts and redacts emails, URLs, long
    digit runs, and a configurable term blocklist (known-bad domains /
    terms in a real pipeline).

    A pure per-row map — regexp counts via ``regexp_extract_all`` +
    chained ``regexp_replace`` — with zero shuffles at any scale; the
    output carries ``clean_md5`` instead of the scrubbed body so the
    verification surface stays narrow (the full text would be written to
    a sink, not collected).
    """
    text = F.col(text_col)
    counts = []
    clean = text
    for name, pat, token in SCRUB_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0)))
            .cast("bigint")
            .alias(f"n_{name}")
        )
        clean = F.regexp_replace(clean, pat, token)
    block_pat = r"\b(" + "|".join(blocklist) + r")\b"
    counts.append(
        F.size(F.regexp_extract_all(text, F.lit(block_pat), F.lit(0)))
        .cast("bigint")
        .alias("n_blocked")
    )
    clean = F.regexp_replace(clean, block_pat, "<BLOCKED>")
    return spread(docs).select(
        F.col(id_col),
        *counts,
        F.length(clean).cast("bigint").alias("clean_len"),
        F.md5(clean).alias("clean_md5"),
    )


def chunk_documents(
    docs: DataFrame, chunk_tokens: int = 64, overlap: int = 16
) -> DataFrame:
    """RAG-style document chunking: overlapping token windows of
    ``chunk_tokens`` tokens with ``overlap`` tokens shared between
    consecutive chunks — the splitting stage of every retrieval /
    embedding-index pipeline.

    Chunk starts are ``1, 1+stride, …`` (stride = chunk − overlap) up to
    ``n − overlap``, so every token lands in ≥1 chunk and the tail chunk
    is never a bare overlap remnant.  ``chunk_id`` is the 0-based window
    index (``posexplode`` position — equal to ``(start−1)/stride``, the
    form the oracle computes).

    Shape at 100 TB: tokenize + ``sequence``/``posexplode`` + ``slice``
    is a zero-shuffle per-row map (output rows ≈ tokens/stride); there is
    no aggregate and no join — the operator scales with input bytes.
    Chunk text re-joins tokens with single spaces (both engines build
    the identical string; original whitespace is not preserved — chunks
    feed a tokenizer, not a renderer).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    t = (
        spread(docs)
        .select("doc_id", tokens_array(F.col("text")).alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") > 0)
    )
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.col("n") - F.lit(overlap), F.lit(1)),
        F.lit(stride),
    )
    return t.select(
        "doc_id", "toks", "n", F.posexplode(starts).alias("chunk_id", "start")
    ).select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.least(F.lit(chunk_tokens), F.col("n") - F.col("start") + 1)
        .cast("long")
        .alias("n_tokens"),
        F.array_join(
            F.expr(f"slice(toks, start, {chunk_tokens})"), " "
        ).alias("chunk_text"),
    )


def pseudonymize(df: DataFrame, cols: Sequence[str], salt: str = "k1") -> DataFrame:
    """Deterministic pseudonymization: each identifier column is replaced
    by ``md5(salt:value)`` — referential integrity survives (equal values
    map to equal tokens, so joins and distinct-counts still work on the
    tokenized view) while the raw identifiers never leave the scan.
    Rotate ``salt`` to break linkage between releases.

    Zero-shuffle map (one md5 per cell, JVM codegen) — the complement of
    :func:`pii_scrub`, which redacts free text; this tokenizes keyed
    identifiers.  NOT encryption: md5 here is a one-way label, and
    small-domain columns remain guessable by dictionary attack without a
    secret salt — the salt is the secret.
    """
    out = df
    for c in cols:
        out = out.withColumn(
            c, F.md5(F.concat_ws(":", F.lit(salt), F.col(c).cast("string")))
        )
    return out


#: 2^60 — the md5-60 coin space (text_analysis._md5_60 family).
_COIN_SPACE = 1 << 60


def mixture_sample(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 0.0,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic mixture construction: keep each document with its
    source's target rate — the domain-reweighting step of a pretraining
    pipeline ("30% of src A, 5% of src B, drop the rest").

    The coin is the doc's md5-60 hash compared against
    ``floor(rate · 2^60)`` — an INTEGER comparison, no floats, so the
    sample is exact, reproducible under any partitioning/retry, and
    consistent across engines AND across runs (the same doc always makes
    the same cut — downstream joins on previously-sampled snapshots stay
    consistent).  Zero-shuffle map; thresholds travel inline as a CASE
    over the (config-sized) rate table.
    """
    thresholds = {s: int(r * _COIN_SPACE) for s, r in rates.items()}
    coin = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit("mix"), F.col(id_col).cast("string"))), 18, 15),
        16,
        10,
    ).cast("long")
    thr = None
    for s, t in sorted(thresholds.items()):
        cond = F.when(F.col(source_col) == s, F.lit(t))
        thr = cond if thr is None else thr.when(F.col(source_col) == s, F.lit(t))
    thr = (
        thr.otherwise(F.lit(int(default_rate * _COIN_SPACE)))
        if thr is not None
        else F.lit(int(default_rate * _COIN_SPACE))
    )
    return docs.filter(coin < thr)


def budget_sample(
    docs: DataFrame,
    budget_tokens: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-budget truncation per source: walk each source's documents
    in deterministic md5-hash order and keep whole documents while the
    running token total stays within ``budget_tokens`` — "at most N
    tokens per domain", the quota companion to :func:`mixture_sample`'s
    rate-based thinning.

    Hash order (not doc_id order) makes the kept set an unbiased,
    reproducible sample of the source rather than a prefix artifact of
    load order.  One shuffle on the source key; the running sum is a
    window cumsum of exact integer token counts (the pack_sequences
    discipline).  A single source's documents serialize into one
    partition per window semantics — sources are the natural parallel
    unit; a skewed mega-source would move to the two-phase distributed
    prefix sum (``pack_sequences``).
    """
    from pyspark.sql import Window

    from p2_mapreduce_spark.operators.text_analysis import token_count

    coin = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit("budget"), F.col(id_col).cast("string"))), 18, 15),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy(source_col).orderBy("coin", id_col)
    sized = spread(docs).select(
        id_col,
        source_col,
        coin.alias("coin"),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    return (
        sized.withColumn(
            "cum_tokens",
            F.sum("n_tokens").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .filter(F.col("cum_tokens") <= budget_tokens)
        .select(id_col, source_col, "n_tokens", "cum_tokens")
    )


def curation_decision(
    docs: DataFrame, min_quality: float = 0.5
) -> DataFrame:
    """End-to-end keep/drop decision table — the composed curation pass a
    training-data pipeline runs before tokenization: language ID, quality
    scoring, and exact dedup evaluated in ONE DataFrame DAG, with the
    drop *reason* surfaced so filtering is auditable.

    A document is kept iff it is the canonical copy of its content
    (smallest doc_id per md5, the exact_dedup rule), its detected
    language is a supported one (not 'und'), and its quality score
    clears ``min_quality``.  The reason column reports the FIRST failed
    check in that order — deterministic, so the whole table is
    value-hash oracle-checkable.

    Shape at 100 TB: lang and quality are zero-shuffle per-row maps
    computed in the same stage as the md5 projection; the only exchange
    is the md5 group for canonical-copy election (32-byte key, see
    exact_dedup); the canonical table joins back on md5 — same key, same
    partitioning, AQE reuses the exchange.  One scan of the corpus."""
    from p2_mapreduce_spark.operators.text_analysis import lang_id, quality_score

    base = docs.select("doc_id", F.md5("text").alias("text_md5"))
    canon = base.groupBy("text_md5").agg(F.min("doc_id").alias("canon_id"))
    signals = (
        lang_id(docs)
        .select("doc_id", "detected_lang")
        .join(quality_score(docs).select("doc_id", "quality"), "doc_id")
        .join(base, "doc_id")
        .join(canon, "text_md5")
    )
    is_canon = F.col("doc_id") == F.col("canon_id")
    lang_ok = F.col("detected_lang") != F.lit("und")
    qual_ok = F.col("quality") >= F.lit(min_quality)
    reason = (
        F.when(~is_canon, F.lit("duplicate"))
        .when(~lang_ok, F.lit("language"))
        .when(~qual_ok, F.lit("quality"))
        .otherwise(F.lit("kept"))
    )
    return signals.select(
        "doc_id",
        "detected_lang",
        "quality",
        is_canon.alias("is_canonical"),
        (is_canon & lang_ok & qual_ok).alias("keep"),
        reason.alias("reason"),
    )


#: quality_classifier weights: integer micro-weights over integer
#: features so the margin is a BIGINT — exact, order-independent, and
#: value-hash oracle-checkable.  The values are an illustrative
#: hand-tuned filter (reward length and lexical diversity, penalize
#: raw-byte bloat); swapping in learned weights changes nothing about
#: the plan.
QUALITY_WEIGHTS: dict[str, int] = {
    "bias": -500,
    "n_tokens": 5,
    "n_uniq": 20,
    "n_chars": -2,
    "n_stop": 100,
}


def quality_classifier(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Model-based quality filtering, the fasttext/logistic stage of a
    pretraining pipeline, reduced to its distributed-systems essence: a
    broadcast weight vector dotted with per-document integer features,
    keep = margin > 0 — ``(doc_id, n_tokens, n_uniq, n_stop, margin,
    keep)``.

    The features (token count, distinct-token count, byte length,
    stopword hits) are pure codegen expressions — one corpus scan, ZERO
    shuffles, no Python.  The margin is an exact BIGINT dot product (the
    monotone part of a logistic model; the sigmoid is omitted because
    only the sign gates the keep decision), so the decision is
    bit-identical under any partitioning and any engine.  A learned
    model slots in by replacing :data:`QUALITY_WEIGHTS` — at 100 TB the
    classifier cost stays exactly one map pass either way.

    Reference seed: none (extension — quality filtering per
    BASELINE.json's curation surface; complements the heuristic
    text_analysis.quality_score with a weighted-decision form).
    """
    w = QUALITY_WEIGHTS
    text = F.col(text_col)
    toks = tokens_array(text)
    n_tokens = F.size(toks).cast("bigint")
    n_uniq = F.size(F.array_distinct(toks)).cast("bigint")
    n_chars = F.octet_length(text).cast("bigint")
    n_stop = F.size(
        F.regexp_extract_all(
            F.lower(text), F.lit(r"\b(the|and|of|to|a|in)\b"), F.lit(0)
        )
    ).cast("bigint")
    margin = (
        F.lit(w["bias"])
        + F.lit(w["n_tokens"]) * n_tokens
        + F.lit(w["n_uniq"]) * n_uniq
        + F.lit(w["n_chars"]) * n_chars
        + F.lit(w["n_stop"]) * n_stop
    ).cast("bigint")
    return spread(docs).select(
        id_col,
        n_tokens.alias("n_tokens"),
        n_uniq.alias("n_uniq"),
        n_stop.alias("n_stop"),
        margin.alias("margin"),
        (margin > 0).alias("keep"),
    )


def sample_exact_k(
    df: DataFrame, k: int, id_col: str = "doc_id", salt: str = "s0"
) -> DataFrame:
    """Exactly-k uniform sample without replacement: keep the ``k`` rows
    with the smallest ``md5(salt || id)`` — the deterministic
    distributed replacement for reservoir sampling.

    A true streaming reservoir needs sequential state; the hash-order
    prefix is the shuffle-free equivalent (uniform because md5 is, exact
    because the cut is a count not a rate) and is what you actually run
    on a cluster: Spark plans ``orderBy(...).limit(k)`` as
    TakeOrderedAndProject — a per-partition top-k heap + driver merge of
    #partitions × k candidate rows, NEVER a global sort.  Same-salt
    invocations are repeatable; rotating ``salt`` redraws the sample.
    Complements :func:`mixture_sample` (Bernoulli, rate-based) and
    budget_sample (quota by token mass).

    Reference seed: none (extension).
    """
    h = F.md5(F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string")))
    return (
        df.withColumn("__h", h)
        .orderBy("__h", id_col)
        .limit(int(k))
        .drop("__h")
    )


def stratified_split(
    docs: DataFrame,
    fractions: Sequence[float] = (0.8, 0.1, 0.1),
    names: Sequence[str] = ("train", "val", "test"),
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: each row lands in the
    split whose cumulative-fraction interval contains its md5-60 coin —
    ``docs + (split)``.

    The coin is the same integer md5-60 device as :func:`mixture_sample`
    (no RNG, no floats in the comparison: thresholds are
    ``floor(cumfrac · 2^60)`` BIGINTs), so the assignment is exact,
    engine-neutral, and STABLE — re-running on a grown corpus never
    moves an old row between splits, the property that keeps eval sets
    uncontaminated across releases.  Zero-shuffle map.  Stratification
    is implicit: within every source/language/length stratum the hash is
    uniform, so each stratum splits at the same fractions (law of large
    numbers, not a per-stratum quota — exact quotas would need a
    per-stratum rank, i.e. a shuffle; see sample_exact_k for that
    trade).

    Reference seed: none (extension).
    """
    cum, bounds = 0.0, []
    for f in fractions[:-1]:
        cum += f
        bounds.append(int(cum * _COIN_SPACE))
    coin = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))),
            18,
            15,
        ),
        16,
        10,
    ).cast("long")
    expr = F.lit(names[-1])
    for thr, name in zip(reversed(bounds), reversed(list(names[:-1]))):
        expr = F.when(coin < F.lit(thr), F.lit(name)).otherwise(expr)
    return docs.withColumn("split", expr)


def dict_encode(
    df: DataFrame, col: str, id_col: str
) -> DataFrame:
    """Frequency-rank dictionary encoding of a categorical column:
    ``(id_col, col, code)`` where code 0 is the most frequent value
    (ties broken by value ascending) — the label-encoding step of
    feature engineering, done the way a columnar engine does dictionary
    compression.

    The dictionary is ONE count aggregate at value grain; the frequency
    rank is the TWO-PHASE distributed rank (the pack_sequences device),
    NOT a bare ``Window.orderBy`` — an unpartitioned rank window would
    funnel the whole distinct-value table through one task, which is
    fine for a 5-value status column and a scale-killer the moment
    someone encodes a 1e9-distinct token column:

    1. range-repartition the vocab by (count desc, value) — range
       partitions are assigned to ascending partition ids, so pid order
       == rank order;
    2. within-partition ``row_number`` (parallel, partitioned by pid);
    3. per-partition counts — a #partitions-row table — prefix-summed
       under a config-grain window and broadcast back as offsets.

    The encode join carries NO broadcast hint: AQE's runtime-measured
    size gate turns it into a broadcast join when the vocabulary is
    small (the common case, verified in the plan pin) and falls back to
    a shuffle join when someone really does encode a giant-vocabulary
    column — the size gate the old unconditional ``F.broadcast`` lacked.

    Reference seed: none (extension).
    """
    from pyspark.sql import Window

    vocab = df.groupBy(col).agg(F.count(F.lit(1)).alias("n"))
    vocab = vocab.repartitionByRange(
        F.col("n").desc(), F.col(col).asc()
    ).withColumn("pid", F.spark_partition_id())
    w_in = Window.partitionBy("pid").orderBy(F.col("n").desc(), F.col(col).asc())
    vocab = vocab.withColumn("rn", F.row_number().over(w_in))
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        vocab.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("off", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)))
        .select("pid", "off")
    )
    codes = (
        vocab.join(F.broadcast(offsets), "pid")
        .select(
            col,
            (F.col("off") + F.col("rn") - 1).cast("bigint").alias("code"),
        )
    )
    return df.select(id_col, col).join(codes, col).select(id_col, col, "code")


def sample_k_per_group(
    df: DataFrame,
    k: int,
    group_col: str,
    id_col: str = "doc_id",
    salt: str = "s0",
) -> DataFrame:
    """Exactly-k-per-stratum uniform sample: within every ``group_col``
    value, keep the ``k`` rows with the smallest ``md5(salt‖id)`` — the
    per-stratum quota :func:`stratified_split` deliberately does not do
    (quotas need a rank, i.e. one shuffle on the stratum key; the hash
    coin is shuffle-free but only hits fractions in expectation).

    One row_number window on the group key — strata process in
    parallel, per-stratum state is the rank counter.  Deterministic per
    salt; groups smaller than ``k`` keep all rows.
    """
    from pyspark.sql import Window

    h = F.md5(F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= int(k))
        .drop("__rk")
    )


def quality_budget_select(
    docs: DataFrame,
    budget_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Budget-constrained curation by quality: walk documents from the
    highest :func:`quality_classifier` margin down and keep whole docs
    while the running token total fits ``budget_tokens`` — the
    "best N billion tokens" selection a pretraining run actually wants,
    where budget_sample's hash order is replaced by a QUALITY order.

    The global running sum over (margin desc, id) order uses the same
    two-phase distributed prefix sum as :func:`pack_sequences` /
    budget_sample — range-partition by the sort key (descending margin),
    parallel within-partition windows, a config-bounded offset table
    broadcast back — so the million-doc ordering never funnels through
    one task.  Deterministic: margin is an exact BIGINT and ties break
    by id.  Output: the kept docs with ``margin``, ``n_tokens`` and the
    running ``cum_tokens`` (the doc's own tokens included).
    """
    from pyspark.sql import Window

    scored = quality_classifier(docs, text_col, id_col).select(
        id_col, "n_tokens", "margin"
    )
    scored = scored.repartitionByRange(
        F.col("margin").desc(), F.col(id_col).asc()
    ).withColumn("pid", F.spark_partition_id())
    w = (
        Window.partitionBy("pid")
        .orderBy(F.col("margin").desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t = scored.withColumn("local_cum", F.sum("n_tokens").over(w))
    offsets = (
        t.groupBy("pid")
        .agg(F.sum("n_tokens").alias("part_total"))
        .withColumn(
            "part_offset",
            F.coalesce(
                F.sum("part_total").over(
                    Window.orderBy("pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("pid", "part_offset")
    )
    return (
        t.join(F.broadcast(offsets), "pid")
        .withColumn(
            "cum_tokens",
            (F.col("part_offset") + F.col("local_cum")).cast("bigint"),
        )
        .filter(F.col("cum_tokens") <= budget_tokens)
        .select(id_col, "n_tokens", "margin", "cum_tokens")
    )


def weighted_sample(
    docs: DataFrame,
    k: int = 100,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
    salt: str = "wsamp",
) -> DataFrame:
    """Exactly-k WEIGHTED sample without replacement (priority sampling,
    Duffield/Lund/Thorup JACM'07): each row draws priority ``w / u`` with
    ``u`` uniform on (0,1], and the k largest priorities win — inclusion
    probability proportional to weight, the "sample long/high-quality
    documents preferentially" stage of corpus construction.

    ``u`` is the row's salted md5-60 coin (the same deterministic-coin
    protocol as :func:`mixture_sample`), so the draw is a pure function
    of the row id: reproducible under retries, AQE, any partitioning,
    and across engines.  The priority is ONE IEEE division of two exact
    integers (weight and coin+1) — oracle-identical.  Like
    :func:`sample_exact_k`, the cut is ``orderBy(...).limit(k)``, which
    Spark plans as TakeOrderedAndProject: per-partition top-k heaps and
    a #partitions × k driver merge — no global sort, no single-partition
    window, 100 TB-safe.

    Reference seed: none (extension).
    """
    coin = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))),
            18,
            15,
        ),
        16,
        10,
    ).cast("long")
    pri = F.col(weight_col).cast("double") / (coin.cast("double") + F.lit(1.0))
    return (
        docs.withColumn("__pri", pri)
        .orderBy(F.col("__pri").desc(), F.col(id_col))
        .limit(int(k))
        .drop("__pri")
    )


def quality_calibration(docs: DataFrame) -> DataFrame:
    """Per-source quantile normalization of the quality score — the fix
    for the classic curation bug where one global threshold silently
    drops entire sources (a transcript corpus scores lower than an
    encyclopedia on any absolute heuristic).  ``pct_in_source`` is the
    doc's percent-rank WITHIN its source, so "keep the top 40% of each
    source" becomes a single portable predicate.

    One scan computes the scores (zero-shuffle codegen ratios).  The
    per-source rank is the TWO-PHASE distributed rank (the
    pack_sequences device) rather than a ``Window.partitionBy(source)``
    — real corpora have ~10 sources of wildly different size, so the
    biggest source IS the corpus and a per-source window is a
    single-task sort at data grain.  Instead:

    1. range-repartition by (source, quality, doc_id): a mega-source
       spreads across MANY range partitions, each pid's span of a
       source is contiguous in rank order;
    2. within-partition ``row_number`` per (pid, source) — parallel,
       bounded by partition size, never source size;
    3. per-(pid, source) counts — #partitions × #sources rows —
       prefix-summed per source under a source-partitioned pid-ordered
       window (per-source state is #partitions-grain, i.e. config-
       bounded) and broadcast back, together with per-source totals.

    percent_rank = (rank-1)/(n_src-1) — exact ints, one IEEE division,
    tie-broken by doc_id for a total order (doc_id unique ⇒ rank ==
    row_number, so the result is bit-identical to percent_rank()).
    A single-doc source gets 0.0, matching SQL percent_rank.
    """
    from p2_mapreduce_spark.operators.text_analysis import quality_score

    scored = quality_score(docs).select("doc_id", "quality")
    src = docs.select("doc_id", "source")
    t = (
        scored.join(src, "doc_id")
        .repartitionByRange(
            F.col("source"), F.col("quality"), F.col("doc_id")
        )
        .withColumn("pid", F.spark_partition_id())
    )
    w_in = Window.partitionBy("pid", "source").orderBy("quality", "doc_id")
    t = t.withColumn("rn", F.row_number().over(w_in))
    per = t.groupBy("pid", "source").agg(F.count(F.lit(1)).alias("cnt"))
    w_off = (
        Window.partitionBy("source")
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per.withColumn(
        "off", F.coalesce(F.sum("cnt").over(w_off), F.lit(0))
    ).select("pid", "source", "off")
    totals = per.groupBy("source").agg(F.sum("cnt").alias("n_src"))
    pct = F.when(F.col("n_src") == 1, F.lit(0.0)).otherwise(
        (F.col("off") + F.col("rn") - 1).cast("double")
        / (F.col("n_src") - 1).cast("double")
    )
    return (
        t.join(F.broadcast(offsets), ["pid", "source"])
        .join(F.broadcast(totals), "source")
        .select("doc_id", "source", "quality", pct.alias("pct_in_source"))
    )


def length_batches(
    docs: DataFrame,
    batch_size: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    partitions: int | None = None,
) -> DataFrame:
    """Length-bucketed batch assignment — the inference/training batching
    step that groups similar-length documents so per-batch padding waste
    is minimal: documents take a global ordinal in ascending
    (n_tokens, id) order and ``batch_id = ordinal div batch_size``.

    The global ordinal is the SAME two-phase distributed prefix sum as
    :func:`pack_sequences` (range repartition on the order key →
    parallel within-partition row numbers → config-bounded per-partition
    offset table broadcast back) — a bare ``row_number`` over an
    unpartitioned window would funnel the corpus through one task.
    Partitioning-independent (any range split reconstructs the same
    order), so the oracle is a plain SQL row_number.

    Output: (doc_id, n_tokens, ordinal, batch_id).
    """
    from p2_mapreduce_spark.operators.text_analysis import token_count

    toks = spread(docs).select(
        F.col(id_col),
        token_count(F.col(text_col)).cast("bigint").alias("n_tokens"),
    )
    if partitions:
        toks = toks.repartitionByRange(partitions, F.col("n_tokens"), F.col(id_col))
    else:
        toks = toks.repartitionByRange(F.col("n_tokens"), F.col(id_col))
    t = toks.withColumn("pid", F.spark_partition_id())
    w_in = Window.partitionBy("pid").orderBy("n_tokens", id_col)
    t = t.withColumn("rn", F.row_number().over(w_in))
    per_pid = t.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt"))
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_pid.withColumn(
        "off", F.coalesce(F.sum("cnt").over(w_off), F.lit(0))
    ).select("pid", "off")
    return (
        t.join(F.broadcast(offsets), "pid")
        .withColumn("ordinal", (F.col("rn") + F.col("off") - 1).cast("bigint"))
        .withColumn(
            "batch_id",
            F.floor(F.col("ordinal") / F.lit(batch_size)).cast("bigint"),
        )
        .select(id_col, "n_tokens", "ordinal", "batch_id")
    )


def mixture_plan(
    docs: DataFrame,
    weights: dict[str, float],
    budget_tokens: int,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Mixture planning under availability: allocate a token budget
    across sources proportionally to target ``weights``, capped by what
    each source actually HAS — the water-filling step every pretraining
    mix negotiates ("we want 30% web / 30% code / 40% books, but there
    aren't enough books").

    Exact water-filling: allocation ``a_i = min(cap_i, λ·w_i)`` with λ
    chosen so Σa = min(budget, Σcap).  Sources sorted by ``cap/weight``
    ascending form a capped PREFIX: source j is capped iff the water
    level with the first j−1 sources capped already exceeds its ratio —
    one window cumsum decides every flag, and λ falls out of two
    conditional sums.  The corpus is touched ONCE (a token-count
    aggregate to source grain); everything after runs on the
    config-sized source table, where the single-partition window is
    grain-bounded by construction.

    Output per source: (source, avail_tokens, weight, allocated_tokens,
    capped) with Σ allocated == min(budget, Σ avail) up to flooring.
    """
    from p2_mapreduce_spark.operators.text_analysis import token_count

    w_expr = None
    for s, w in sorted(weights.items()):
        cond = F.when(F.col(source_col) == s, F.lit(float(w)))
        w_expr = cond if w_expr is None else w_expr.when(
            F.col(source_col) == s, F.lit(float(w))
        )
    w_expr = w_expr.otherwise(F.lit(0.0)) if w_expr is not None else F.lit(0.0)
    caps = (
        spread(docs)
        .select(F.col(source_col), token_count(F.col(text_col)).alias("t"))
        .groupBy(source_col)
        .agg(F.sum("t").cast("bigint").alias("cap"))
        .withColumn("w", w_expr)
        .where(F.col("w") > 0)
    )
    w_ord = Window.orderBy(F.col("cap") / F.col("w"), F.col(source_col))
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    tot = caps.agg(
        F.sum("cap").alias("cap_all"), F.sum("w").alias("w_all")
    )
    b = F.lit(int(budget_tokens)).cast("double")
    staged = (
        caps.crossJoin(F.broadcast(tot))
        .withColumn("cum_c", F.coalesce(F.sum("cap").over(w_prev), F.lit(0)))
        .withColumn("cum_w", F.coalesce(F.sum("w").over(w_prev), F.lit(0.0)))
        .withColumn(
            "capped",
            (b >= F.col("cap_all"))
            | (
                (b - F.col("cum_c")) / (F.col("w_all") - F.col("cum_w"))
                >= F.col("cap") / F.col("w")
            ),
        )
    )
    lam = staged.agg(
        (
            (b - F.coalesce(F.sum(F.when(F.col("capped"), F.col("cap"))), F.lit(0)))
            / F.sum(F.when(~F.col("capped"), F.col("w")))
        ).alias("lam")
    )
    return (
        staged.crossJoin(F.broadcast(lam))
        .select(
            source_col,
            F.col("cap").alias("avail_tokens"),
            F.col("w").alias("weight"),
            F.when(F.col("capped"), F.col("cap"))
            .otherwise(F.floor(F.col("lam") * F.col("w")).cast("bigint"))
            .alias("allocated_tokens"),
            "capped",
        )
    )


def quantile_normalize(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Cross-group QUANTILE NORMALIZATION — the ML-prep transform that
    maps each group's values onto the GLOBAL value distribution by rank
    (microarray-style): a value at within-group quantile q is replaced
    by the global value at quantile q, so every group ends up with the
    same marginal distribution and per-group scale/offset biases vanish
    (the calibration step quality_calibration's percentile answers per
    source, taken all the way to a value transform).

    Two applications of the two-phase distributed rank device — one for
    the within-group rank r of n_g (range-partitioned by (group, value,
    id)), one for the global ordinal table (value, id) — joined on the
    midpoint position ``p = ((2r−1)·N + n_g) div (2·n_g)`` (all-BIGINT,
    ∈ [1, N]).  No per-group or global sort ever runs in one task; the
    position join shuffles N rows once.  Total order everywhere via the
    id tie-break ⇒ deterministic cross-engine.

    Output: (id, group, value, norm_value).
    """
    t = (
        events.select(
            F.col(id_col).alias("id"),
            F.col(group_col).alias("g"),
            F.col(value_col).alias("v"),
        )
        .repartitionByRange(F.col("g"), F.col("v"), F.col("id"))
        .withColumn("pid", F.spark_partition_id())
    )
    w_in = Window.partitionBy("pid", "g").orderBy("v", "id")
    t = t.withColumn("rn", F.row_number().over(w_in))
    per = t.groupBy("pid", "g").agg(F.count(F.lit(1)).alias("cnt"))
    w_off = (
        Window.partitionBy("g")
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per.withColumn(
        "off", F.coalesce(F.sum("cnt").over(w_off), F.lit(0))
    ).select("pid", "g", "off")
    totals = per.groupBy("g").agg(F.sum("cnt").alias("n_g"))
    grand = totals.agg(F.sum("n_g").alias("n_all"))
    ranked = (
        t.join(F.broadcast(offsets), ["pid", "g"])
        .join(F.broadcast(totals), "g")
        .crossJoin(F.broadcast(grand))
        .select(
            "id",
            "g",
            "v",
            (F.col("off") + F.col("rn")).alias("r"),
            "n_g",
            "n_all",
        )
    )
    # (2r−1)·N is n²-scale: DECIMAL(38,0) so BIGINT can't wrap silently
    # (HUGEINT in the oracle — the mwu_drift overflow lesson)
    ranked = ranked.withColumn(
        "p",
        F.expr(
            "CAST(((2 * CAST(r AS DECIMAL(38,0)) - 1) * n_all + n_g) "
            "div (2 * n_g) AS BIGINT)"
        ),
    )
    # global ordinal table: same device, no group key
    u = (
        events.select(
            F.col(id_col).alias("gid"), F.col(value_col).alias("gv")
        )
        .repartitionByRange(F.col("gv"), F.col("gid"))
        .withColumn("gpid", F.spark_partition_id())
    )
    w_gin = Window.partitionBy("gpid").orderBy("gv", "gid")
    u = u.withColumn("grn", F.row_number().over(w_gin))
    gper = u.groupBy("gpid").agg(F.count(F.lit(1)).alias("cnt"))
    w_goff = Window.orderBy("gpid").rowsBetween(Window.unboundedPreceding, -1)
    goff = gper.withColumn(
        "goff", F.coalesce(F.sum("cnt").over(w_goff), F.lit(0))
    ).select("gpid", "goff")
    ordinal = (
        u.join(F.broadcast(goff), "gpid")
        .select((F.col("goff") + F.col("grn")).alias("p"), F.col("gv"))
    )
    return (
        ranked.join(ordinal, "p")
        .select(
            F.col("id").alias(id_col),
            F.col("g").alias(group_col),
            F.col("v").alias(value_col),
            F.col("gv").alias("norm_value"),
        )
    )


def systematic_sample(
    docs: DataFrame,
    every: int = 10,
    order_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Systematic (every-k-th) sampling in a deterministic total order —
    the survey-sampling classic: sort by (order key, id), keep ordinals
    k, 2k, 3k, …  Unlike the Bernoulli hash coin it guarantees an even
    spread across the ORDER dimension (here: document length), which is
    what you want when the sort key correlates with the property being
    estimated.

    The global ordinal is the two-phase distributed prefix sum (no
    single-task sort); the keep test is one modulus.  Output: the
    sampled rows with their ordinal.
    """
    t = (
        docs.select(id_col, order_col)
        .repartitionByRange(F.col(order_col), F.col(id_col))
        .withColumn("pid", F.spark_partition_id())
    )
    w_in = Window.partitionBy("pid").orderBy(order_col, id_col)
    t = t.withColumn("rn", F.row_number().over(w_in))
    per = t.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt"))
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = per.withColumn(
        "off", F.coalesce(F.sum("cnt").over(w_off), F.lit(0))
    ).select("pid", "off")
    return (
        t.join(F.broadcast(offsets), "pid")
        .select(
            id_col,
            order_col,
            (F.col("off") + F.col("rn")).alias("ordinal"),
        )
        .where(F.col("ordinal") % every == 0)
    )


def feature_hash(
    docs: DataFrame,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The hashing trick (Weinberger et al., ICML'09): tokens map to a
    FIXED ``n_buckets``-dimensional signed-count feature vector through
    a hash — the featurizer that needs no vocabulary pass, no dict
    broadcast, and no coordination, which is why it is the default for
    streaming / 100 TB featurization (contrast ``dict_encode``, which
    must materialize the vocabulary).  Bucket and sign both come from
    the engine's md5 device (bucket = 60-bit prefix mod n_buckets, sign
    = parity of the next nibble), so features are deterministic across
    runs, partitionings, and ENGINES — the oracle recomputes them
    exactly in SQL.

    Shape at 100 TB: tokenize-explode (codegen), one map-side-combined
    SUM at (doc, bucket) grain — per-doc output is bounded by
    ``n_buckets`` regardless of document length.  Rows with an empty
    token set produce no output (sparse semantics).
    """
    from p2_mapreduce_spark.functions.text import tokens_array
    from p2_mapreduce_spark.session import spread

    toks = spread(docs).select(
        F.col(id_col).alias("id"),
        F.explode(tokens_array(F.col(text_col))).alias("w"),
    )
    md5 = F.md5(F.col("w"))
    bucket = (
        F.conv(F.substring(md5, 1, 15), 16, 10).cast("long")
        % F.lit(int(n_buckets))
    )
    sign = F.when(
        F.conv(F.substring(md5, 16, 1), 16, 10).cast("long") % 2 == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    return (
        toks.select(F.col("id").alias(id_col), bucket.alias("bucket"), sign.alias("s"))
        .groupBy(id_col, "bucket")
        .agg(F.sum("s").cast("bigint").alias("feat"))
    )


def target_encode(
    orders: DataFrame,
    cat_col: str = "o_orderpriority",
    target_col: str = "o_totalprice",
    key_col: str = "o_orderkey",
) -> DataFrame:
    """Leave-one-out target (mean) encoding — the category featurizer
    that replaces each row's category with the mean target of the OTHER
    rows in that category, the standard leakage guard (plain mean
    encoding lets each row see its own label; LOO removes it:
    ``(Σ_cat − own) / (n_cat − 1)``).

    Exactness: targets quantize to cents once (floor — deterministic),
    category sums are exact BIGINTs, and the encoding is ONE division
    of two exact integers — bit-identical cross-engine, order- and
    partition-invariant.  Singleton categories (n=1) encode as NULL
    (no "other rows" exist) rather than a fabricated prior.

    Shape at 100 TB: one map-side-combined aggregate at category grain
    (a handful of rows), broadcast-joined back to the fact table — the
    fact table never shuffles.
    """
    cents = F.floor(F.col(target_col) * 100).cast("bigint")
    t = orders.select(
        F.col(key_col), F.col(cat_col), cents.alias("own_cents")
    )
    per_cat = t.groupBy(cat_col).agg(
        F.sum("own_cents").alias("cat_cents"),
        F.count(F.lit(1)).cast("bigint").alias("cat_n"),
    )
    return t.join(F.broadcast(per_cat), cat_col).select(
        key_col,
        cat_col,
        "cat_n",
        F.when(
            F.col("cat_n") > 1,
            (F.col("cat_cents") - F.col("own_cents")).cast("double")
            / ((F.col("cat_n") - 1).cast("double") * F.lit(100.0)),
        ).alias("loo_mean"),
    )


def neyman_alloc(
    events: DataFrame,
    n_total: int = 500,
    group_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Neyman-optimal stratified sample allocation: stratum h gets
    ``n·(N_h·σ_h)/Σ(N_k·σ_k)`` draws — minimum-variance allocation for
    estimating the population mean, the sampling-DESIGN step upstream
    of the engine's quota samplers (``budget_sample`` executes a quota;
    this computes the right quotas).

    Exactness: per-stratum moments aggregate as exact decimals
    (the value_outliers protocol), σ is the pinned
    ``sqrt((s2 − s1²/n)/(n−1))`` tree, fractional allocations are one
    shared IEEE expression, and integerization is LARGEST REMAINDER
    (floor everything, hand the shortfall to the biggest fractional
    parts, ties → group key) — allocations sum to EXACTLY ``n_total``
    and every step is engine-reproducible.  A single-row stratum (σ
    undefined) contributes weight 0 (nothing to vary over).

    Shape at 100 TB: one map-side-combined aggregate to #strata rows;
    everything after runs at stratum grain (the #strata-row window is
    config-bounded).
    """
    dec = F.col(value_col).cast("decimal(12,2)")
    per = events.groupBy(F.col(group_col).alias("g")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        F.sum(dec).cast("double").alias("s1"),
        F.sum(dec * dec).cast("double").alias("s2"),
    )
    sigma = F.when(F.col("n_h") > 1, F.sqrt(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n_h"))
        / (F.col("n_h") - 1)
    )).otherwise(F.lit(0.0))
    w = per.select(
        "g", "n_h", sigma.alias("sigma"),
        (F.col("n_h").cast("double") * sigma).alias("wt"),
    )
    tot = w.agg(F.sum("wt").alias("wsum"))
    frac = w.crossJoin(F.broadcast(tot)).select(
        "g", "n_h", "sigma",
        (F.lit(float(n_total)) * F.col("wt") / F.col("wsum")).alias("frac"),
    )
    base = frac.select(
        "g", "n_h", "sigma", "frac",
        F.floor("frac").cast("bigint").alias("base"),
        (F.col("frac") - F.floor("frac")).alias("rem"),
    )
    short = base.agg(
        (F.lit(int(n_total)) - F.sum("base")).cast("bigint").alias("short")
    )
    wr = Window.orderBy(F.col("rem").desc(), F.col("g"))
    return (
        base.crossJoin(F.broadcast(short))
        .withColumn("rr", F.row_number().over(wr))
        .select(
            F.col("g").alias(group_col),
            "n_h",
            "sigma",
            (
                F.col("base")
                + F.when(F.col("rr") <= F.col("short"), 1).otherwise(0)
            ).cast("bigint").alias("alloc"),
        )
    )


def cluster_sample(
    df: DataFrame, group_col: str = "user_id", threshold_hex: str = "28"
) -> DataFrame:
    """GROUP-COHERENT (cluster) sampling: keep EVERY row of the groups
    whose ``md5(group)`` first byte <= threshold, and no rows of the
    rest — the sampling mode session/funnel/retention analysis
    requires, where row-level sampling (hash_sample's mode) silently
    destroys within-group structure (a 10% row sample leaves no intact
    session to sessionize).

    Same md5-coin determinism contract as the rest of the sampling
    family: the keep-set is a pure function of the group key — stable
    across runs, engines, partitionings, and backfills, and CONSISTENT
    with any other operator sampling on the same key (joins between two
    cluster-sampled tables keep aligned groups).

    Zero shuffle: the predicate is a per-row hash filter pushed to the
    scan; group coherence comes from hashing the KEY, not from grouping.
    """
    pred = (
        F.substring(F.md5(F.col(group_col).cast("string")), 1, 2)
        <= F.lit(threshold_hex)
    )
    return df.filter(pred)


def otsu_threshold(docs: DataFrame, levels: int = 1000) -> DataFrame:
    """Automatic quality-cutoff selection by Otsu's method: the
    threshold over the (quantized) quality-score histogram that
    maximizes between-class variance — the principled answer to "where
    do I cut?" that replaces hand-picked quality filters (curation
    pipelines routinely bake in an arbitrary 0.5).

    Classic Otsu runs on the HISTOGRAM LEVELS, so after one quantize
    (``floor(quality·levels)``) everything is exact integers: per-level
    counts, cumulative (w0, sum0) over the ≤``levels``+1-row histogram,
    and the criterion numerator ``a = sum0·N − S·w0`` in DECIMAL(38,0)
    (1000·N² — a BIGINT overflows near N=3e6).  The criterion
    ``a²/(w0·(N−w0))`` is one pinned double tree per candidate (a² at
    1e16 rows would overflow even DECIMAL, so the square lives in
    double — deterministic, same tree in the oracle); the argmax takes
    the max-filter-min device, ties → smallest level.

    Plan at 100 TB: ONE map-side-combined histogram aggregate at level
    grain; the cumulative window and argmax run on ≤ ``levels``+1 rows
    (config grain — the doclen_histogram justification); one-row output.

    Returns ``(lvl, threshold, criterion, n_below, n_above)``.
    """
    from p2_mapreduce_spark.operators.text_analysis import quality_score

    lv = quality_score(docs).select(
        F.floor(F.col("quality") * levels).cast("bigint").alias("lvl")
    )
    # the histogram IS the sufficient statistic — materialize it ONCE:
    # it feeds three plan branches (tot, cum, and the argmax's max), and
    # without the persist each branch re-runs the full quality_score
    # regex scan over the corpus (4 scans; measured 1.2 s → 2.9 s at
    # sf0.1 when the base table is an InMemoryRelation, the r05→r06
    # bench regression).  ≤ levels+1 rows — config grain, not data grain.
    hist = lv.groupBy("lvl").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    ).persist()
    tot = hist.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.col("lvl") * F.col("cnt")).cast("decimal(38,0)").alias("s"),
    )
    w = Window.orderBy("lvl").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        hist.withColumn("w0", F.sum("cnt").over(w))
        .withColumn(
            "sum0",
            F.sum((F.col("lvl") * F.col("cnt")).cast("decimal(38,0)")).over(w),
        )
        .crossJoin(F.broadcast(tot))
        .filter(F.col("w0") < F.col("n"))
    )
    a = (
        F.col("sum0") * F.col("n").cast("decimal(38,0)")
        - F.col("s") * F.col("w0").cast("decimal(38,0)")
    ).cast("double")
    w0d = F.col("w0").cast("double")
    # the w0 < n guard lives INSIDE the expression (CASE short-circuits):
    # Catalyst pushes the later criterion == best filter below the row
    # filter, and in ANSI mode the unguarded division then throws on the
    # w0 == n row it was about to discard
    crit = F.when(
        F.col("w0") < F.col("n"),
        (a * a) / (w0d * (F.col("n").cast("double") - w0d)),
    )
    scored = cum.select("lvl", "w0", "n", crit.alias("criterion"))
    mx = scored.agg(F.max("criterion").alias("best"))
    return (
        scored.crossJoin(F.broadcast(mx))
        .filter(F.col("criterion") == F.col("best"))
        .groupBy("criterion")
        .agg(
            F.min("lvl").cast("bigint").alias("lvl"),
            F.max("n").alias("n"),
        )
        .join(scored.select("lvl", "w0"), "lvl")
        .select(
            "lvl",
            (F.col("lvl").cast("double") / F.lit(float(levels))).alias("threshold"),
            "criterion",
            F.col("w0").alias("n_below"),
            (F.col("n") - F.col("w0")).alias("n_above"),
        )
    )


def temperature_mix(
    docs: DataFrame,
    budget: int = 1000,
    group_col: str = "source",
) -> DataFrame:
    """Temperature-based mixture weighting at T=2 — the standard
    multilingual/multi-domain sampling rule (mBERT/XLM exponentiate
    corpus sizes by 1/T so low-resource domains are not drowned; T=2 is
    the common production setting): domain i's share ∝ √n_i, then a
    ``budget``-row allocation by largest remainder.

    T=2 is also the exactness sweet spot: √ is the one power that is
    CORRECTLY ROUNDED in IEEE (general ``pow`` is not, and differs
    across libm builds — the reason this operator does not take an
    arbitrary T).  The rounded √n quantizes to a BIGINT micro-weight
    (floor(√n·10⁶)) BEFORE the cross-domain sum, so the denominator is
    an exact integer, every share is an exact integer ppm, and the
    largest-remainder integerization (the neyman_alloc device, here on
    exact micro-remainders — no float at all) sums to EXACTLY
    ``budget``, ties → group key.

    Shape at 100 TB: one map-side-combined count to #domains rows;
    everything after is domain-grain (config-bounded window).

    Returns ``(source, n_docs, weight_q, share_ppm, alloc)``.
    """
    per = docs.groupBy(F.col(group_col).alias("g")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    wq = F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1e6).cast("bigint")
    w = per.select("g", "n_docs", wq.alias("weight_q"))
    tot = w.agg(F.sum("weight_q").cast("bigint").alias("wsum"))
    b = F.lit(int(budget)).cast("bigint")
    scored = w.crossJoin(F.broadcast(tot)).select(
        "g",
        "n_docs",
        "weight_q",
        F.expr("weight_q * 1000000 div wsum").alias("share_ppm"),
        # exact micro-allocation: budget·wq/wsum as integer quotient +
        # integer remainder — largest-remainder needs no float anywhere
        F.expr(f"({int(budget)} * weight_q) div wsum").alias("base"),
        F.expr(f"({int(budget)} * weight_q) % wsum").alias("rem"),
    )
    short = scored.agg((b - F.sum("base")).cast("bigint").alias("short"))
    wr = Window.orderBy(F.col("rem").desc(), F.col("g"))
    return (
        scored.crossJoin(F.broadcast(short))
        .withColumn("rr", F.row_number().over(wr))
        .select(
            F.col("g").alias(group_col),
            "n_docs",
            "weight_q",
            F.col("share_ppm").cast("bigint").alias("share_ppm"),
            (
                F.col("base")
                + F.when(F.col("rr") <= F.col("short"), 1).otherwise(0)
            ).cast("bigint").alias("alloc"),
        )
    )


def calibration_bins(
    docs: DataFrame,
    n_bins: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Model calibration audit (reliability diagram + per-bin ECE
    terms) — the acceptance gate between :func:`quality_classifier` and
    the mixture decisions its scores feed: bucket documents by
    normalized classifier score, compare each bucket's mean score with
    its observed positive rate (label: ``lang = 'en'``), and surface
    the weighted gap — ``(bin, n_docs, n_pos, mean_score, pos_rate,
    abs_gap, ece_term)``; ``SUM(ece_term)`` is the expected calibration
    error.

    Exactness protocol: score = min-max-normalized margin, so the bin
    id is ALL-BIGINT (``(margin−min)·n_bins div (max−min)``, clamped to
    the top bin) and every per-bin mean is ONE IEEE division of exact
    BIGINT sums — ``mean_score = (Σmargin − n·min)/(n·(max−min))`` —
    followed by a fixed subtract/abs/multiply/divide tree, identical in
    both engines.

    Scale shape: margins are a zero-shuffle map (quality_classifier),
    the min/max contract to ONE broadcast row, and the bin aggregate is
    map-side combined at n_bins grain.  Degenerate corpora (max = min)
    collapse to bin 0 rather than dividing by zero.
    """
    m = quality_classifier(docs, text_col, id_col).select(
        F.col(id_col).alias("doc_id"), "margin"
    )
    lab = spread(docs).select(
        F.col(id_col).alias("doc_id"),
        (F.col("lang") == "en").cast("int").alias("pos"),
    )
    base = m.join(lab, "doc_id")
    mm = base.agg(
        F.min("margin").alias("mn"),
        F.max("margin").alias("mx"),
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
    )
    nb = int(n_bins)
    with_bin = base.crossJoin(F.broadcast(mm)).withColumn(
        "bin",
        F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
            F.least(
                F.lit(nb - 1),
                F.expr(f"(margin - mn) * {nb} div (mx - mn)"),
            )
        ).cast("bigint"),
    )
    per = with_bin.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("margin").cast("bigint").alias("sum_margin"),
        F.first("mn").alias("mn"),
        F.first("mx").alias("mx"),
        F.first("n_total").alias("n_total"),
    )
    mean_score = F.when(F.col("mx") == F.col("mn"), F.lit(0.0)).otherwise(
        (F.col("sum_margin") - F.col("n_docs") * F.col("mn")).cast("double")
        / (F.col("n_docs") * (F.col("mx") - F.col("mn"))).cast("double")
    )
    pos_rate = F.col("n_pos").cast("double") / F.col("n_docs").cast("double")
    return per.select(
        "bin",
        "n_docs",
        "n_pos",
        mean_score.alias("mean_score"),
        pos_rate.alias("pos_rate"),
        F.abs(mean_score - pos_rate).alias("abs_gap"),
        (
            F.abs(mean_score - pos_rate)
            * F.col("n_docs").cast("double")
            / F.col("n_total").cast("double")
        ).alias("ece_term"),
    )


def classifier_auc(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact ROC AUC of the quality classifier's margin against the
    ``lang = 'en'`` label — the ranking-quality companion to
    :func:`calibration_bins`' probability-quality audit (a model can be
    well-calibrated and rank poorly, or vice versa; a model gate needs
    both numbers).

    AUC equals the Mann-Whitney U statistic normalized by n₊·n₋, so
    this is ONE composition: margins (zero-shuffle map) →
    ``profile.mwu_drift`` with the label as the group — the same
    all-integer midrank construction (u2 = 2·U clears tie halves;
    DECIMAL-grade products) already oracle-pinned for drift, surfaced
    as ``(n_pos, n_neg, u2, auc)``.  Ties get the standard half
    credit; AUC 0.5 = uninformative ranking.
    """
    from p2_mapreduce_spark.operators.profile import mwu_drift

    m = quality_classifier(docs, text_col, id_col).select(
        F.col(id_col).alias("doc_id"), "margin"
    )
    lab = spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.when(F.col("lang") == "en", "pos").otherwise("neg").alias("label"),
    )
    frame = m.join(lab, "doc_id").select("label", "margin")
    out = mwu_drift(frame, group_col="label", value_col="margin")
    return out.filter(F.col("label") == "pos").select(
        F.col("n_group").alias("n_pos"),
        F.col("n_rest").alias("n_neg"),
        "u2",
        "auc",
    )


def decile_lift(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Decile lift / gains table for the quality classifier against the
    ``lang = 'en'`` label — the third face of the model gate triad
    (:func:`classifier_auc` prices RANKING, :func:`calibration_bins`
    prices PROBABILITIES; the lift table prices the OPERATING POINTS:
    "if I keep the top 20% by margin, what share of the positives do I
    capture?" — the curve a curation budget is actually cut on).

    Docs are ranked by (margin desc, id) with the repo's two-phase
    distributed rank (range partition → local row_number → broadcast
    offset table — no single-task global sort), split into 10
    equal-frequency deciles by pure integer arithmetic (``(rank−1)·10
    div n + 1``), and each decile reports exact BIGINT counts plus the
    cumulative capture rate and lift, every float a single pinned
    division of integer products.

    Output: (decile, n_docs, n_pos, cum_docs, cum_pos, capture, lift),
    10 rows.  Scale shape: one classifier map pass, one range exchange,
    decile-grain (10-row) aggregation after.
    """
    scored = quality_classifier(docs, text_col, id_col).select(
        F.col(id_col).alias("doc_id"), "margin"
    ).join(
        spread(docs).select(
            F.col(id_col).alias("doc_id"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        ),
        "doc_id",
    )
    part = scored.repartitionByRange(
        32, F.col("margin").desc(), F.col("doc_id").asc()
    ).withColumn("pid", F.spark_partition_id())
    w = Window.partitionBy("pid").orderBy(
        F.col("margin").desc(), F.col("doc_id").asc()
    )
    local = part.withColumn("rn", F.row_number().over(w))
    offsets = (
        local.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("part_n"))
        .withColumn(
            "part_offset",
            F.coalesce(
                F.sum("part_n").over(
                    Window.orderBy("pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("pid", "part_offset")
    )
    total = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tot"),
        F.sum("pos").cast("bigint").alias("pos_tot"),
    )
    ranked = (
        local.join(F.broadcast(offsets), "pid")
        .withColumn("rank", F.col("part_offset") + F.col("rn"))
        .crossJoin(F.broadcast(total))
        .withColumn(
            "decile",
            # exact BIGINT // (SQL `div`), matching the DuckDB oracle's
            # integer division — double division + cast can disagree when
            # the quotient lands within half an ulp of an integer.
            F.expr("((rank - 1) * 10) div n_tot") + F.lit(1),
        )
    )
    per = ranked.groupBy("decile", "n_tot", "pos_tot").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("pos").cast("bigint").alias("n_pos"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.withColumn(
        "cum_docs", F.sum("n_docs").over(wc).cast("bigint")
    ).withColumn("cum_pos", F.sum("n_pos").over(wc).cast("bigint"))
    capture = F.when(F.col("pos_tot") == 0, F.lit(0.0)).otherwise(
        F.col("cum_pos").cast("double") / F.col("pos_tot").cast("double")
    )
    lift = F.when(
        (F.col("pos_tot") == 0) | (F.col("cum_docs") == 0), F.lit(0.0)
    ).otherwise(
        (F.col("cum_pos").cast("double") * F.col("n_tot").cast("double"))
        / (F.col("cum_docs").cast("double") * F.col("pos_tot").cast("double"))
    )
    return cum.select(
        "decile", "n_docs", "n_pos", "cum_docs", "cum_pos",
        capture.alias("capture"), lift.alias("lift"),
    )


def token_dropout(
    docs: DataFrame,
    drop_mod: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic word-dropout augmentation: drop every token whose
    salted md5-60 hash lands in bucket 0 of ``drop_mod`` (≈10% of token
    OCCURRENCE TYPES — the same token drops everywhere, a content-keyed
    mask, so the augmentation is reproducible across reruns, engines,
    and partitionings; no RNG state to ship).  This is the
    augmentation-face of the curation family: denoising-style pretraining
    and robustness evals both consume exactly this transform.

    Pure codegen chain — tokens_array → filter by hash → concat — one
    map pass, zero shuffles, no Python.  Output: (doc_id, n_tokens,
    n_kept, text_aug).  The dropped share concentrates measure-zero
    rows only via the hash, so at 100 TB the pass stays embarrassingly
    parallel.
    """
    toks = tokens_array(F.col(text_col))
    keep = F.filter(
        toks,
        lambda t: F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.lit("drop"), t)), 18, 15
                ),
                16,
                10,
            ).cast("long"),
            F.lit(drop_mod),
        )
        != 0,
    )
    return spread(docs).select(
        id_col,
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(keep).cast("bigint").alias("n_kept"),
        F.concat_ws(" ", keep).alias("text_aug"),
    )


def average_precision(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Average precision (AUC-PR summary) of the quality classifier
    against the ``lang = 'en'`` label — the imbalance-robust companion
    to :func:`classifier_auc`'s ROC AUC (with rare positives, ROC
    flatters any ranker; AP weights by precision at each positive hit,
    which is what retrieval/filter gates actually experience).

    AP = (1/n₊)·Σ_{positives at rank k} cum_pos(k)/k over the (margin
    desc, id) ranking.  Ranks and cumulative positive counts come from
    the two-phase distributed rank/prefix-sum (range partition → local
    windows → broadcast offset table); each precision term quantizes to
    NANO units — ``(cum_pos·10⁹) div k`` — so the cross-positive sum is
    an exact BIGINT (order-independent at any scale; overflow needs
    cum_pos > 9·10⁹ docs) and AP surfaces with two pinned divisions.

    Output (one row): (n_docs, n_pos, ap_nano_sum, average_precision).
    """
    scored = quality_classifier(docs, text_col, id_col).select(
        F.col(id_col).alias("doc_id"), "margin"
    ).join(
        spread(docs).select(
            F.col(id_col).alias("doc_id"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        ),
        "doc_id",
    )
    part = scored.repartitionByRange(
        32, F.col("margin").desc(), F.col("doc_id").asc()
    ).withColumn("pid", F.spark_partition_id())
    w = (
        Window.partitionBy("pid")
        .orderBy(F.col("margin").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = part.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("pid").orderBy(
                F.col("margin").desc(), F.col("doc_id").asc()
            )
        ),
    ).withColumn("cpos", F.sum("pos").over(w))
    offsets = (
        local.groupBy("pid")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("pos").alias("psum"),
        )
        .withColumn(
            "off_rank",
            F.coalesce(
                F.sum("cnt").over(
                    Window.orderBy("pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .withColumn(
            "off_pos",
            F.coalesce(
                F.sum("psum").over(
                    Window.orderBy("pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("pid", "off_rank", "off_pos")
    )
    ranked = local.join(F.broadcast(offsets), "pid").select(
        "pos",
        (F.col("off_rank") + F.col("rn")).alias("k"),
        (F.col("off_pos") + F.col("cpos")).alias("cum_pos"),
    )
    terms = ranked.filter(F.col("pos") == 1).select(
        F.expr("(cum_pos * 1000000000) div k").alias("t")
    )
    total = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("pos").cast("bigint").alias("n_pos"),
    )
    agg = terms.agg(F.sum("t").cast("bigint").alias("ap_nano_sum"))
    ap = F.when(F.col("n_pos") == 0, F.lit(0.0)).otherwise(
        (F.col("ap_nano_sum").cast("double") / 1.0e9)
        / F.col("n_pos").cast("double")
    )
    return total.crossJoin(F.broadcast(agg)).select(
        "n_docs", "n_pos",
        F.coalesce("ap_nano_sum", F.lit(0)).alias("ap_nano_sum"),
        ap.alias("average_precision"),
    )


def isotonic_calibration(
    docs: DataFrame,
    n_bins: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Isotonic (PAV) calibration of the classifier's reliability curve
    — the monotone fit applied on top of :func:`calibration_bins`' raw
    per-bin rates (the standard post-hoc calibrator next to Platt
    scaling, whose sigmoid/log is not cross-engine pinned; isotonic is
    pure order statistics and minimax means).

    Uses the minimax closed form instead of the sequential
    pool-adjacent-violators sweep: ``iso_i = max_{j≤i} min_{k≥i}
    rate(j..k)`` over the present bins — O(B³) IN-ROW work on the
    config-grain bin table (B ≤ 10), with every span rate ONE pinned
    division of exact BIGINT prefix sums, so the fit is bit-identical
    cross-engine with no recursion anywhere.

    Output: (bin, n_docs, n_pos, raw_rate, iso_rate); iso_rate is the
    nondecreasing projection of raw_rate under bin weights.
    """
    cb = calibration_bins(docs, n_bins, text_col, id_col).select(
        "bin", "n_docs", "n_pos"
    )
    packed = cb.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct("bin", "n_docs", "n_pos"))
        ).alias("bs")
    # empty-corpus guard: sequence(1, 0) counts DOWN in Spark (the
    # hashed_shingles short-doc lesson) — an empty bin list must yield
    # an empty result, not a garbage [1, 0] index walk
    ).filter(F.size(F.col("bs")) > 0)
    b = F.size(F.col("bs"))
    idx = F.sequence(F.lit(1), b)
    # exact BIGINT prefix sums over the sorted bin list (index 0 = 0)
    ppos = F.concat(
        F.array(F.lit(0).cast("bigint")),
        F.transform(
            idx,
            lambda i: F.aggregate(
                F.slice(F.col("bs"), F.lit(1), i),
                F.lit(0).cast("bigint"),
                lambda acc, s: acc + s["n_pos"],
            ),
        ),
    )
    pn = F.concat(
        F.array(F.lit(0).cast("bigint")),
        F.transform(
            idx,
            lambda i: F.aggregate(
                F.slice(F.col("bs"), F.lit(1), i),
                F.lit(0).cast("bigint"),
                lambda acc, s: acc + s["n_docs"],
            ),
        ),
    )
    packed = packed.withColumn("ppos", ppos).withColumn("pn", pn)
    rate = lambda j, k: (  # noqa: E731 — span rate over bins j..k
        (
            F.element_at(F.col("ppos"), k + 1)
            - F.element_at(F.col("ppos"), j)
        ).cast("double")
        / (
            F.element_at(F.col("pn"), k + 1)
            - F.element_at(F.col("pn"), j)
        ).cast("double")
    )
    iso = F.transform(
        F.sequence(F.lit(1), b),
        lambda i: F.array_max(
            F.transform(
                F.sequence(F.lit(1), i),
                lambda j: F.array_min(
                    F.transform(
                        F.sequence(i, b),
                        lambda k: rate(j, k),
                    )
                ),
            )
        ),
    )
    out = packed.withColumn("iso", iso).select(
        F.posexplode(
            F.arrays_zip(F.col("bs"), F.col("iso"))
        ).alias("i", "z")
    )
    raw = (
        F.col("z.bs.n_pos").cast("double")
        / F.col("z.bs.n_docs").cast("double")
    )
    return out.select(
        F.col("z.bs.bin").alias("bin"),
        F.col("z.bs.n_docs").cast("bigint").alias("n_docs"),
        F.col("z.bs.n_pos").cast("bigint").alias("n_pos"),
        raw.alias("raw_rate"),
        F.col("z.iso").alias("iso_rate"),
    )


def raking_weights(
    docs: DataFrame,
    row_col: str = "source",
    col_col: str = "lang",
    iterations: int = 3,
) -> DataFrame:
    """Iterative proportional fitting (raking) of corpus weights: cell
    weights over the (source × lang) contingency calibrated so the
    LANGUAGE marginal becomes uniform while the SOURCE marginal stays
    at its observed counts — the survey-statistics reweighting a
    pretraining mix uses to hit target language shares without
    dropping data (the multiplicative sibling of mixture_plan's
    selection approach).

    Determinism protocol: weights live in BIGINT micro-units; each IPF
    step multiplies by ONE pinned ratio of exact sums (``floor(w ·
    (target_micro / sum_micro))``), so every round's state is exact
    integers and the whole fixed-iteration loop value-hashes against an
    unrolled CTE (the pagerank device).  Micro-precision floors each
    step; with targets ≥ 1 doc the relative drift per step is < 1e-6 —
    quantization, not randomness.

    Scale shape: the corpus contracts to the contingency ONCE
    (map-side combined); all ``2·iterations`` steps run at GRID grain
    (|sources| × |langs|) with broadcast marginal tables — iteration
    cost independent of corpus size.  Output: (source, lang, n_docs,
    w_micro, weight) — ``weight`` is the calibrated cell mass; divide
    by n_docs for a per-document weight.
    """
    import math

    # ONE corpus pass contracts to the contingency; the IPF loop then
    # runs DRIVER-SIDE over the collected grid (|sources| × |langs| —
    # config grain, the same documented bound as kmeans' driver-held
    # centroids and BPE's per-round argmax).  A distributed loop here
    # re-evaluates the corpus aggregate once per lazy step (measured
    # 5.6 s for 6 grid-grain steps at sf0.1); driver arithmetic on ≤ a
    # few hundred BIGINTs is exact, engine-neutral (CPython float IS
    # IEEE double, math.floor matches SQL floor), and costs nothing.
    cells = (
        docs.groupBy(F.col(row_col).alias("r"), F.col(col_col).alias("c"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    grid = {(row["r"], row["c"]): int(row["n"]) for row in cells}
    row_t = {}
    col_keys = set()
    total = 0
    for (r, c), n in grid.items():
        row_t[r] = row_t.get(r, 0) + n * 1_000_000
        col_keys.add(c)
        total += n
    tc_micro = (total * 1_000_000) // len(col_keys) if col_keys else 0
    w = {k: n * 1_000_000 for k, n in grid.items()}
    for _ in range(int(iterations)):
        rs: dict = {}
        for (r, _c), wv in w.items():
            rs[r] = rs.get(r, 0) + wv
        w = {
            (r, c): math.floor(float(wv) * (float(row_t[r]) / float(rs[r])))
            for (r, c), wv in w.items()
        }
        cs: dict = {}
        for (_r, c), wv in w.items():
            cs[c] = cs.get(c, 0) + wv
        w = {
            (r, c): math.floor(float(wv) * (float(tc_micro) / float(cs[c])))
            for (r, c), wv in w.items()
        }
    rows = [
        (r, c, grid[(r, c)], w[(r, c)], w[(r, c)] / 1.0e6)
        for (r, c) in sorted(grid)
    ]
    return docs.sparkSession.createDataFrame(
        rows,
        schema=(
            f"{row_col} string, {col_col} string, n_docs bigint, "
            "w_micro bigint, weight double"
        ),
    )


def brier_score(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Brier score of the classifier's min-max-normalized score against
    the ``lang = 'en'`` label — the PROPER scoring rule completing the
    probability-eval family (calibration_bins audits reliability,
    isotonic_calibration fits the monotone correction; the Brier score
    is the single number that penalizes BOTH miscalibration and low
    resolution, and unlike log loss its arithmetic is ln-free).

    Exactness protocol: p = (margin − min)/(max − min) is one pinned
    division per doc (degenerate max = min corpora pin p = 0, the
    calibration_bins bin-0 convention); each squared-error term
    quantizes to NANO units before the cross-doc sum, so the aggregate
    is an exact BIGINT under any partitioning; the mean divides twice,
    pinned.  Output (one row): (n_docs, n_pos, brier_nano_sum, brier).

    Scale shape: zero-shuffle margin map + one broadcast min/max row +
    one map-side-combined global aggregate.
    """
    m = quality_classifier(docs, text_col, id_col).select(
        F.col(id_col).alias("doc_id"), "margin"
    )
    lab = spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    base = m.join(lab, "doc_id")
    mm = base.agg(F.min("margin").alias("mn"), F.max("margin").alias("mx"))
    p = F.when(F.col("mx") == F.col("mn"), F.lit(0.0)).otherwise(
        (F.col("margin") - F.col("mn")).cast("double")
        / (F.col("mx") - F.col("mn")).cast("double")
    )
    term = (p - F.col("pos").cast("double")) * (
        p - F.col("pos").cast("double")
    )
    agg = base.crossJoin(F.broadcast(mm)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum(F.floor(term * 1.0e9).cast("bigint"))
        .cast("bigint")
        .alias("brier_nano_sum"),
    )
    return agg.select(
        "n_docs", "n_pos", "brier_nano_sum",
        F.when(F.col("n_docs") == 0, F.lit(0.0)).otherwise(
            (F.col("brier_nano_sum").cast("double") / 1.0e9)
            / F.col("n_docs").cast("double")
        ).alias("brier"),
    )


def mcc_eval(docs: DataFrame, pos_lang: str = "en") -> DataFrame:
    """Matthews correlation coefficient of the quality classifier
    against the language label — the single-threshold summary that,
    unlike accuracy or F1, stays honest under class imbalance (a
    filter that flags everything scores 0, not the base rate), and
    the standard headline number for a production keep/drop gate next
    to the threshold-free :func:`classifier_auc`.

    The four confusion cells are exact BIGINT conditional counts from
    one corpus scan over the :func:`quality_classifier` margin
    (pred = margin > 0, label = lang == pos_lang); MCC =
    (TP·TN − FP·FN)/√((TP+FP)(TP+FN)(TN+FP)(TN+FN)) is one pinned
    IEEE tree (the four marginal factors multiply as doubles — their
    BIGINT product could overflow at 10⁹ rows, the doubles cannot).

    Output: one row (tp, fp, tn, fn, accuracy, mcc).
    """
    scored = quality_classifier(docs).join(
        spread(docs).select("doc_id", "lang"), "doc_id"
    )
    cells = scored.select(
        (F.col("margin") > 0).alias("pred"),
        (F.col("lang") == pos_lang).alias("label"),
    ).agg(
        F.sum(F.when(F.col("pred") & F.col("label"), 1).otherwise(0))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.when(F.col("pred") & ~F.col("label"), 1).otherwise(0))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.when(~F.col("pred") & ~F.col("label"), 1).otherwise(0))
        .cast("bigint")
        .alias("tn"),
        F.sum(F.when(~F.col("pred") & F.col("label"), 1).otherwise(0))
        .cast("bigint")
        .alias("fn"),
    )
    tp, fp = F.col("tp").cast("double"), F.col("fp").cast("double")
    tn, fn = F.col("tn").cast("double"), F.col("fn").cast("double")
    denom = (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    n = tp + fp + tn + fn
    return cells.select(
        "tp",
        "fp",
        "tn",
        "fn",
        F.when(n > 0.0, (tp + tn) / n).otherwise(F.lit(0.0)).alias(
            "accuracy"
        ),
        F.when(denom > 0.0, (tp * tn - fp * fn) / F.sqrt(denom))
        .otherwise(F.lit(0.0))
        .alias("mcc"),
    )


def label_noise(docs: DataFrame, pos_lang: str = "en") -> DataFrame:
    """Confident-learning label-noise audit (Northcutt's cleanlab
    counting argument, reduced to the binary case): a document is
    CONFIDENTLY class j when its class-j score clears the class's
    mean score threshold; docs whose confident class disagrees with
    their given label are the suspected noise a relabeling pass
    should look at first.

    Exactness: with score_en = margin and score_other = −margin, the
    threshold comparisons cross-multiply to pure BIGINT tests
    (margin·n_en ≥ sum_en, margin·n_other ≤ sum_other) — no double
    means, no ties ambiguity; when both classes clear, the argmax is
    ``margin ≥ 0``.  The two (count, sum) thresholds are a one-row
    broadcast aggregate; everything else is one conditional-count
    pass.

    Output: one row per given label: (label, n_docs, n_conf_pos,
    n_conf_neg, n_unconfident, n_suspect).
    """
    scored = quality_classifier(docs).join(
        spread(docs).select("doc_id", "lang"), "doc_id"
    ).select(
        F.when(F.col("lang") == pos_lang, pos_lang)
        .otherwise("other")
        .alias("label"),
        "margin",
    )
    thr = scored.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("margin").cast("bigint").alias("s"),
    )
    t = (
        thr.groupBy()
        .pivot("label", [pos_lang, "other"])
        .agg(F.first("n").alias("n"), F.first("s").alias("s"))
    )
    pos_n = F.coalesce(F.col(f"{pos_lang}_n"), F.lit(0))
    pos_s = F.coalesce(F.col(f"{pos_lang}_s"), F.lit(0))
    neg_n = F.coalesce(F.col("other_n"), F.lit(0))
    neg_s = F.coalesce(F.col("other_s"), F.lit(0))
    flagged = scored.crossJoin(F.broadcast(t)).select(
        "label",
        (
            (pos_n > 0) & (F.col("margin") * pos_n >= pos_s)
        ).alias("c_pos"),
        (
            (neg_n > 0) & (F.col("margin") * neg_n <= neg_s)
        ).alias("c_neg"),
        "margin",
    ).select(
        "label",
        F.when(
            F.col("c_pos") & (~F.col("c_neg") | (F.col("margin") >= 0)),
            F.lit(pos_lang),
        )
        .when(F.col("c_neg"), F.lit("other"))
        .otherwise(F.lit(""))
        .alias("conf"),
    )
    return (
        flagged.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("conf") == pos_lang, 1).otherwise(0))
            .cast("bigint")
            .alias("n_conf_pos"),
            F.sum(F.when(F.col("conf") == "other", 1).otherwise(0))
            .cast("bigint")
            .alias("n_conf_neg"),
            F.sum(F.when(F.col("conf") == "", 1).otherwise(0))
            .cast("bigint")
            .alias("n_unconfident"),
            F.sum(
                F.when(
                    (F.col("conf") != "") & (F.col("conf") != F.col("label")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_suspect"),
        )
    )


def ht_estimate(lineitem: DataFrame, rate_mod: int = 16) -> DataFrame:
    """Horvitz–Thompson total estimation from a deterministic hash
    sample — the honesty gate for every sampled dashboard: sample
    1/``rate_mod`` of the rows by md5 bucket (known inclusion
    probability π = 1/rate_mod), estimate the revenue total as
    Σ_sample v/π, and report the estimate NEXT TO the true total and
    the realized relative error, so the sampling machinery itself is
    what the query audits.

    Exactness: cents-grain BIGINTs; the HT estimate is
    rate_mod · Σ_sample cents (exact); the relative error is one
    pinned IEEE tree.  The hash bucket reuses the md5 device of
    :func:`sample_exact_k` (uniform, deterministic, engine-portable).

    Output: one row (n_total, n_sampled, true_total, ht_estimate,
    rel_err).
    """
    base = spread(lineitem).select(
        F.floor(F.col("l_extendedprice") * 100)
        .cast("bigint")
        .alias("cents"),
        (
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                1,
            )
            == "0"
        ).alias("picked"),  # first hex nibble: exactly 1/16
    )
    agg = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum("cents").cast("bigint").alias("true_cents"),
        F.sum(F.when(F.col("picked"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_sampled"),
        F.coalesce(
            F.sum(F.when(F.col("picked"), F.col("cents"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("samp_cents"),
    )
    est = F.col("samp_cents") * rate_mod
    err = F.when(
        F.col("true_cents") > 0,
        (est - F.col("true_cents")).cast("double")
        / F.col("true_cents").cast("double"),
    ).otherwise(F.lit(0.0))
    return agg.select(
        "n_total",
        "n_sampled",
        (F.col("true_cents").cast("double") / 100.0).alias("true_total"),
        (est.cast("double") / 100.0).alias("ht_estimate"),
        err.alias("rel_err"),
    )


def stump_gini(lineitem: DataFrame) -> DataFrame:
    """Decision-stump feature ranking by Gini impurity decrease: for
    each candidate feature (quantity decile, discount level, ship
    month), the weighted Gini impurity of the one-level split against
    the parent impurity on the binary label ``l_returnflag = 'R'`` —
    the first thing a tree learner computes, and the standard
    model-free "which columns matter" screen for ML prep (target
    encoding's diagnostic sibling: that transforms the feature, this
    SCORES it).

    Exactness: all bucket counts (n_b, positives p_b) are exact
    BIGINTs from ONE scan (the three features unpivot in-row, so the
    fact table is read once); parent and per-bucket Gini terms are
    pinned IEEE trees, and the split impurity folds over the
    BUCKET-SORTED array (the logrank cross-group device) so both
    engines add identical doubles in identical order.

    Output: (feature, n_buckets, gini_parent, gini_split, decrease),
    one row per feature, ordered by feature; zero rows on empty input.
    """
    feats = lineitem.select(
        (F.col("l_returnflag") == "R").cast("bigint").alias("y"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("qty_decile").alias("feature"),
                    F.expr(
                        "CAST(floor(l_quantity) AS BIGINT) div 10"
                    ).alias("bucket"),
                ),
                F.struct(
                    F.lit("discount_level").alias("feature"),
                    F.floor(F.col("l_discount") * 100)
                    .cast("bigint")
                    .alias("bucket"),
                ),
                F.struct(
                    F.lit("ship_month").alias("feature"),
                    F.month("l_shipdate").cast("bigint").alias("bucket"),
                ),
            )
        ).alias("f"),
    ).select("y", F.col("f.feature").alias("feature"), F.col("f.bucket").alias("bucket"))
    cells = feats.groupBy("feature", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.sum("y").cast("bigint").alias("pb"),
    )
    glob = lineitem.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("l_returnflag") == "R").cast("bigint"))
        .cast("bigint")
        .alias("p"),
    )
    folded = cells.groupBy("feature").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.array_sort(
            F.collect_list(F.struct("bucket", "nb", "pb"))
        ).alias("gs"),
    ).crossJoin(F.broadcast(glob))
    n = F.col("n").cast("double")
    p = F.col("p").cast("double")
    g_parent = (
        F.lit(1.0)
        - (p / n) * (p / n)
        - ((n - p) / n) * ((n - p) / n)
    )
    g_split = F.aggregate(
        F.col("gs"),
        F.lit(0.0),
        lambda acc, x: acc
        + (x["nb"].cast("double") / F.col("n").cast("double"))
        * (
            F.lit(1.0)
            - (x["pb"].cast("double") / x["nb"].cast("double"))
            * (x["pb"].cast("double") / x["nb"].cast("double"))
            - (
                (x["nb"] - x["pb"]).cast("double")
                / x["nb"].cast("double")
            )
            * (
                (x["nb"] - x["pb"]).cast("double")
                / x["nb"].cast("double")
            )
        ),
    )
    return (
        folded.filter(F.col("n") > 0)
        .select(
            "feature",
            "n_buckets",
            g_parent.alias("gini_parent"),
            g_split.alias("gini_split"),
            (g_parent - g_split).alias("decrease"),
        )
        .orderBy("feature")
    )

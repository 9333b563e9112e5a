"""Full-text search indexing: inverted-index construction and BM25
retrieval over the documents table.

The reference's wordcount (mapreduce/functions/wordcount.go:20-45) is the
degenerate 1-doc-corpus case of an inverted index; these operators are
the real thing — the map→shuffle→reduce dataflow whose reduce key is the
TERM and whose values are per-document statistics.

Spark-first shape: the index is one ``posexplode`` + one partial→final
aggregate at (term, doc) grain — the same one-shuffle contract as
wordcount, just with a composite key.  Retrieval never scans the corpus
per query: term statistics contract to term grain, corpus constants to
ONE row, and both come back as broadcasts.

Determinism: every statistic is an exact BIGINT; the only floats are the
BM25 per-term kernels, each a fixed expression tree over exact inputs,
summed in FIXED textual order (one pivoted column per query term) — no
float reduction over an unordered set anywhere, so scores are bit-equal
cross-engine and the ranking is stable under any partitioning.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from p2_mapreduce_spark.functions.text import tokens_array
from p2_mapreduce_spark.session import spread


def build_postings(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Inverted index at (term, doc) grain: ``(token, doc_id, tf,
    first_pos)`` — term frequency and the first 0-based token position.

    ONE wide exchange (the (token, doc) aggregate, map-side combined);
    at 100 TB you'd follow with ``repartitionByRange('token')`` + a
    sorted partitioned write so each term's posting list is a contiguous
    run — the layout face is writers.write_partitioned's job, the plan
    here is the index build itself.
    """
    toks = spread(docs).select(
        F.col(id_col),
        F.posexplode(tokens_array(F.col(text_col))).alias("pos", "token"),
    )
    return toks.groupBy("token", id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("tf"),
        F.min("pos").cast("bigint").alias("first_pos"),
    )


def bm25_search(
    docs: DataFrame,
    terms: Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Ln-free BM25 retrieval for a fixed bag of query ``terms`` —
    ``(doc_id, n_terms_hit, score)`` for the ``top_n`` best documents.

    The idf factor is the Robertson lift WITHOUT the log —
    ``(N - df + ½)/(df + ½)`` — monotone in the classic idf, so the
    RANKING is BM25's while every score stays a small fixed IEEE tree
    (log is the one transcendental whose last bit differs across
    engines; same dodge as text_analysis.tfidf_top_terms).

    Plan shape: tokens are filtered to the query bag BEFORE the (term,
    doc) aggregate (the explode stream drops to matching terms only);
    df contracts to ≤|terms| rows and joins back broadcast; corpus
    length stats contract to ONE broadcast row.  Per-doc scores sum one
    pivoted column per term in fixed textual order.  The final cut is
    TakeOrderedAndProject (heap, no global sort).
    """
    term_list = sorted(set(terms))
    toks = spread(docs).select(
        F.col(id_col), F.explode(tokens_array(F.col(text_col))).alias("token")
    )
    # per-doc length over ALL tokens (before the query filter)
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).cast("bigint").alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_len"),
    )
    hits = toks.filter(F.col("token").isin(term_list))
    tf = hits.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    df_t = tf.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    # one tf column per term, fixed order — the float sum is a literal
    # expression chain, never an unordered aggregate
    pivoted = tf.groupBy(id_col).agg(
        *[
            F.max(F.when(F.col("token") == t, F.col("tf"))).alias(f"tf_{i}")
            for i, t in enumerate(term_list)
        ]
    )
    scored = (
        pivoted.join(dl, id_col)
        .crossJoin(F.broadcast(corpus))
        .crossJoin(
            F.broadcast(
                df_t.groupBy().pivot("token", term_list).sum("df").select(
                    *[
                        F.coalesce(F.col(f"`{t}`"), F.lit(0)).alias(f"df_{i}")
                        for i, t in enumerate(term_list)
                    ]
                )
            )
        )
    )
    avgdl = F.col("total_len").cast("double") / F.col("n_docs").cast("double")
    norm = F.lit(float(k1)) * (
        F.lit(1.0 - b) + F.lit(float(b)) * F.col("dl").cast("double") / avgdl
    )
    score = F.lit(0.0)
    n_hit = F.lit(0)
    for i in range(len(term_list)):
        tf_i = F.col(f"tf_{i}")
        idf = (
            F.col("n_docs").cast("double") - F.col(f"df_{i}").cast("double") + 0.5
        ) / (F.col(f"df_{i}").cast("double") + 0.5)
        kernel = (
            idf
            * (tf_i.cast("double") * F.lit(float(k1) + 1.0))
            / (tf_i.cast("double") + norm)
        )
        score = score + F.when(tf_i.isNotNull(), kernel).otherwise(F.lit(0.0))
        n_hit = n_hit + F.when(tf_i.isNotNull(), 1).otherwise(0)
    return (
        scored.select(
            id_col,
            n_hit.cast("bigint").alias("n_terms_hit"),
            score.alias("score"),
        )
        .orderBy(F.col("score").desc(), id_col)
        .limit(int(top_n))
    )


def phrase_search(
    docs: DataFrame,
    phrase: Sequence[str] = ("data", "join"),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase retrieval over the positional index: documents where
    the tokens of ``phrase`` occur CONSECUTIVELY, with occurrence count
    and first match position — the positional-postings complement to
    :func:`bm25_search`'s bag-of-words ranking.

    Plan: the posexplode stream is filtered to the phrase's tokens
    before any shuffle (the index touched is |phrase| posting lists,
    not the corpus); adjacency is ``len(phrase)-1`` equi-joins on
    ``(doc, pos ± offset)`` — narrow 16-byte keys, and every join after
    the first reuses the same (doc) clustering.  All exact integer
    arithmetic.
    """
    terms = list(phrase)
    if len(terms) < 2:
        raise ValueError("phrase needs at least two tokens")
    toks = spread(docs).select(
        F.col(id_col),
        F.posexplode(tokens_array(F.col(text_col))).alias("pos", "token"),
    ).where(F.col("token").isin(terms))
    matches = (
        toks.where(F.col("token") == terms[0])
        .select(F.col(id_col), F.col("pos"))
    )
    for i, term in enumerate(terms[1:], start=1):
        nxt = (
            toks.where(F.col("token") == term)
            .select(F.col(id_col).alias("__d"), (F.col("pos") - i).alias("__p"))
        )
        matches = matches.join(
            nxt,
            (matches[id_col] == nxt["__d"]) & (matches["pos"] == nxt["__p"]),
        ).select(matches[id_col], matches["pos"])
    return (
        matches.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.min("pos").cast("bigint").alias("first_pos"),
        )
    )


def substring_search(
    docs: DataFrame,
    needle: str = "data join",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring (LIKE '%needle%') retrieval with a character-trigram
    prefilter — the pg_trgm strategy: a document containing ``needle``
    necessarily contains every character trigram of ``needle``, so the
    trigram inverted index prunes the corpus to candidates BEFORE any
    full-text verification, and the prefilter is provably lossless.

    The explode stream is filtered to the needle's (config-sized)
    trigram set immediately — the shuffle carries only matching
    (doc, trigram) rows; candidates must hit ALL distinct needle
    trigrams (count == m), then one verification pass confirms the
    contiguous match and counts occurrences.  At 100 TB the trigram
    table is built once as a persistent index (same lifecycle as
    build_postings); per query you touch m posting lists, not the
    corpus.
    """
    if len(needle) < 3:
        raise ValueError("needle must be at least 3 chars for trigrams")
    trigrams = sorted({needle[i : i + 3] for i in range(len(needle) - 2)})
    m = len(trigrams)
    text = F.col(text_col)
    # posting-list probe: only (doc, needle-trigram) rows survive the
    # explode, so the aggregate's shuffle carries 8-byte ids + 3-char
    # keys — the text column never enters the exchange
    cand = (
        spread(docs)
        .select(
            F.col(id_col),
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.length(text) - 2),
                        lambda i: F.substring(text, i, 3),
                    )
                )
            ).alias("tri"),
        )
        .where(F.col("tri").isin(trigrams))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_tri"))
        .where(F.col("n_tri") == m)
        .select(id_col)
    )
    # verification re-reads ONLY candidate docs (semi-join-shaped probe)
    verified = docs.join(cand, id_col, "left_semi")
    occurrences = (
        (F.length(text) - F.length(F.replace(text, F.lit(needle))))
        / F.lit(len(needle))
    ).cast("bigint")
    return (
        verified.withColumn("n_matches", occurrences)
        .withColumn("first_off", F.instr(text, needle).cast("bigint"))
        .where(F.col("n_matches") > 0)
        .select(id_col, "n_matches", "first_off")
    )


def build_trigram_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Materialize the character-trigram inverted index
    (:func:`substring_search`'s prefilter) as a PARTITIONED on-disk
    table — the index lifecycle face, same contract as the LSH
    (save_lsh_index) and IVF (save_ivf_index) artifacts: built once per
    corpus snapshot, probed by every subsequent substring query.

    Layout: partitioned by the trigram's first character, sorted by
    trigram within partitions — a probe for needle trigrams prunes to
    the touched partition directories (PartitionFilters) and row groups
    (min/max on the sorted column), so per-query I/O is proportional to
    the posting lists read, not the corpus.
    """
    text = F.col(text_col)
    tris = (
        spread(docs)
        .select(
            F.col(id_col).alias("doc"),
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.length(text) - 2),
                        lambda i: F.substring(text, i, 3),
                    )
                )
            ).alias("tri"),
        )
        .withColumn("tri_head", F.substring("tri", 1, 1))
    )
    (
        tris.repartition("tri_head")
        .sortWithinPartitions("tri")
        .write.mode("overwrite")
        .partitionBy("tri_head")
        .parquet(path)
    )


def substring_search_indexed(
    docs: DataFrame,
    index_path: str,
    needle: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`substring_search` against a PERSISTED trigram index: the
    probe reads only the needle trigrams' partitions (partition pruning
    on ``tri_head``, row-group pruning on the sorted ``tri``), then
    verification re-reads candidate docs only — per-query cost is
    posting lists + candidates, the corpus scan is amortized into
    :func:`build_trigram_index`.  Results are bit-identical to the
    direct operator (pinned in pytest)."""
    if len(needle) < 3:
        raise ValueError("needle must be at least 3 chars for trigrams")
    trigrams = sorted({needle[i : i + 3] for i in range(len(needle) - 2)})
    m = len(trigrams)
    spark = docs.sparkSession
    idx = spark.read.parquet(index_path)
    cand = (
        idx.where(
            F.col("tri_head").isin(sorted({t[0] for t in trigrams}))
            & F.col("tri").isin(trigrams)
        )
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_tri"))
        .where(F.col("n_tri") == m)
        .select(F.col("doc").alias(id_col))
    )
    text = F.col(text_col)
    verified = docs.join(cand, id_col, "left_semi")
    occurrences = (
        (F.length(text) - F.length(F.replace(text, F.lit(needle))))
        / F.lit(len(needle))
    ).cast("bigint")
    return (
        verified.withColumn("n_matches", occurrences)
        .withColumn("first_off", F.instr(text, needle).cast("bigint"))
        .where(F.col("n_matches") > 0)
        .select(id_col, "n_matches", "first_off")
    )


def rrf_fuse(
    ranks_a: DataFrame,
    ranks_b: DataFrame,
    k_rrf: int = 60,
    top_n: int = 20,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion of two rankings — the standard hybrid-
    retrieval combiner (Cormack, Clarke & Buettcher, SIGIR'09):
    ``score(d) = Σ_systems 1/(k + rank_sys(d))`` over the systems that
    returned ``d``, here the sparse (BM25) and dense (embedding-kNN)
    lists of a RAG stack.

    Inputs are two ``(id, rnk)`` DataFrames (1-based ranks).  Both are
    top-N lists — CONFIG-bounded, not data-bounded — so the fusion join
    is broadcast-sized by construction no matter the corpus size; all
    the data-scale work happens inside the retrievers that produced
    them (each already shaped for 100 TB: bm25_search contracts to
    term grain, knn_* never shuffle the corpus).

    Determinism: the two-term score is computed as ONE double division
    of exact BIGINTs — ``(2k+ra+rb)/((k+ra)(k+rb))`` — and the
    one-term score as ``1/(k+r)``; each is a single correctly-rounded
    IEEE op over integers < 2^53, so scores are bit-equal cross-engine
    and the (score DESC, id) ranking is total and reproducible.
    """
    a = ranks_a.select(F.col(id_col).alias("id"), F.col("rnk").alias("ra"))
    b = ranks_b.select(F.col(id_col).alias("id"), F.col("rnk").alias("rb"))
    fused = a.join(b, "id", "full_outer")
    k = F.lit(int(k_rrf))
    score = (
        F.when(
            F.col("ra").isNotNull() & F.col("rb").isNotNull(),
            (2 * k + F.col("ra") + F.col("rb")).cast("double")
            / ((k + F.col("ra")) * (k + F.col("rb"))).cast("double"),
        )
        .when(F.col("ra").isNotNull(), F.lit(1.0) / (k + F.col("ra")).cast("double"))
        .otherwise(F.lit(1.0) / (k + F.col("rb")).cast("double"))
    )
    out = fused.select(
        F.col("id").alias(id_col),
        F.col("ra").cast("bigint").alias("rank_a"),
        F.col("rb").cast("bigint").alias("rank_b"),
        score.alias("rrf_score"),
    )
    w = Window.orderBy(F.col("rrf_score").desc(), F.col(id_col))
    # the window is over the fused candidate set: ≤ 2·top-N rows by
    # construction (both inputs are LIMITed lists) — config grain, the
    # same single-partition exception as vocab_topk's k-row window
    return (
        out.withColumn("fused_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("fused_rank") <= top_n)
    )


def hybrid_search(
    docs: DataFrame,
    embeddings: DataFrame,
    terms: Sequence[str],
    query_vec_id: int = 0,
    n_candidates: int = 50,
    k_rrf: int = 60,
    top_n: int = 20,
) -> DataFrame:
    """Hybrid sparse+dense retrieval: BM25 over ``terms`` fused with
    exact cosine kNN around the ``query_vec_id`` embedding by
    reciprocal-rank fusion — the canonical RAG retrieval stack as one
    dataflow.  ``vec_id`` is the document key on the dense side (the
    synthetic corpus aligns them 1:1).

    Plan: the two retrievers run independently (each internally
    top-N-bounded: BM25 ends in TakeOrderedAndProject, kNN in a
    per-query window over broadcast-scored candidates); fusion joins
    two ≤``n_candidates``-row lists.  No stage touches corpus-scale
    data more than the retrievers already do.
    """
    from p2_mapreduce_spark.operators.similarity import knn_exact

    sparse = bm25_search(docs, terms, top_n=n_candidates).select(
        "doc_id", F.row_number().over(
            Window.orderBy(F.col("score").desc(), F.col("doc_id"))
        ).cast("bigint").alias("rnk")
    )
    dense = knn_exact(
        embeddings, embeddings.filter(F.col("vec_id") == query_vec_id), n_candidates
    ).select(F.col("n_id").alias("doc_id"), F.col("rnk"))
    return rrf_fuse(sparse, dense, k_rrf=k_rrf, top_n=top_n)


#: Fixed evaluation workload: (query_id, scoring_term, relevance_term).
#: Scoring and relevance deliberately use DIFFERENT terms so the metrics
#: are non-trivial — ranking by tf(scoring_term) is the "system under
#: test", containing relevance_term is the "ground truth" label.
RETRIEVAL_EVAL_QUERIES = (
    (0, "join", "dup"),
    (1, "dup", "join"),
    (2, "hash", "vector"),
    (3, "window", "dup"),
    (4, "scan", "filter"),
    (5, "spark", "big"),
)


def retrieval_eval(
    docs: DataFrame,
    queries: Sequence[tuple[int, str, str]] = RETRIEVAL_EVAL_QUERIES,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Retrieval-quality evaluation (the acceptance gate for a search /
    RAG stack, the lexical sibling of the ANN family's ``ann_recall``):
    for each benchmark query, rank candidate documents by term
    frequency of the scoring term (ties → smallest doc id, a total rule
    so ranks are bit-deterministic cross-engine), label documents
    containing the relevance term as relevant, and report cutoff-``k``
    metrics — ``(query_id, n_candidates, n_relevant, hits_at_k,
    rr_at_k, p_at_k, recall_at_k)``.

    All metrics are single IEEE divisions of exact BIGINTs (reciprocal
    rank, precision@k, recall@k) — no log-discounted gain (NDCG's
    transcendental) so every value is reproducible bit-for-bit; MRR@k
    convention: 0.0 when no relevant document appears in the top k.

    Scale shape: the token stream filters to the query-term union
    BEFORE the (doc, term) aggregate (map-side combined); the term→
    query map is config-grain and broadcast; per-query ranking windows
    partition on query_id over CANDIDATE docs only (docs containing
    that query's scoring term), and everything after the top-k cut is
    queries×k-grain.
    """
    spark = docs.sparkSession
    qdf = spark.createDataFrame(
        list(queries), "query_id long, s_term string, r_term string"
    )
    needed = sorted({t for _q, s, r in queries for t in (s, r)})
    tf = (
        spread(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens_array(F.col(text_col))).alias("token"),
        )
        .filter(F.col("token").isin(needed))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    cand = tf.join(
        F.broadcast(qdf), tf.token == qdf.s_term
    ).select("query_id", "doc_id", F.col("tf").alias("score"))
    rel = tf.join(
        F.broadcast(qdf), tf.token == qdf.r_term
    ).select("query_id", F.col("doc_id").alias("rel_doc"))
    n_rel = rel.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_relevant")
    )
    n_cand = cand.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    topk = cand.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= int(k)
    )
    judged = topk.join(
        rel,
        (topk.query_id == rel.query_id) & (topk.doc_id == rel.rel_doc),
        "left",
    ).select(topk.query_id, "rnk", rel.rel_doc.isNotNull().alias("is_rel"))
    per_q = judged.groupBy("query_id").agg(
        F.sum(F.when(F.col("is_rel"), 1).otherwise(0))
        .cast("bigint")
        .alias("hits_at_k"),
        F.min(F.when(F.col("is_rel"), F.col("rnk"))).alias("first_rel"),
    )
    return (
        n_cand.join(n_rel, "query_id", "left")
        .join(per_q, "query_id", "left")
        .select(
            "query_id",
            "n_candidates",
            F.coalesce("n_relevant", F.lit(0)).cast("bigint").alias("n_relevant"),
            F.coalesce("hits_at_k", F.lit(0)).cast("bigint").alias("hits_at_k"),
            F.when(
                F.col("first_rel").isNotNull(),
                F.lit(1.0) / F.col("first_rel").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("rr_at_k"),
            (
                F.coalesce("hits_at_k", F.lit(0)).cast("double")
                / F.lit(float(k))
            ).alias("p_at_k"),
            F.when(
                F.coalesce("n_relevant", F.lit(0)) > 0,
                F.coalesce("hits_at_k", F.lit(0)).cast("double")
                / F.col("n_relevant").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("recall_at_k"),
        )
    )


def search_snippets(
    docs: DataFrame,
    terms: tuple[str, ...] = ("data", "join"),
    window: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Snippet/highlight extraction: for every document hitting the
    query, the best ``window``-token span by query-term density
    (leftmost on ties) — the result-page stage after retrieval
    (postings/BM25 say WHICH docs; the snippet says WHERE to look).

    The whole selection is IN-ROW (the winnowing device): a transform
    over window starts scores each span with filter+size over the
    token-array slice, array_max elects the density, array_position
    takes the leftmost argmax — one zero-shuffle codegen pass, O(len ·
    window) per document, no explode of the corpus at span grain.

    Output: (doc_id, best_pos, n_hits, snippet) for docs with ≥ 1 hit.
    """
    toks = tokens_array(F.col(text_col))
    term_arr = F.array(*[F.lit(t) for t in terms])
    # score each token ONCE (0/1 hit flags), then window scores are
    # integer sums over flag slices — O(len·|terms|) string compares +
    # O(len·window) int adds, instead of re-running the string filter
    # per window start (measured 4.7 s → ~1 s at sf0.1: interpreted
    # HOFs re-evaluate everything referenced per element, so the inner
    # loop must touch ints, not string arrays)
    # Every intermediate (tokens, hit flags, window scores, argmax) is
    # LET-BOUND through a one-element transform: CollapseProject undoes
    # alias staging through selects and interpreted HOFs have no CSE,
    # so an inline reference would re-tokenize / re-score per use (the
    # round-4 lesson — lambda variables are the only real let in
    # Catalyst).  Inner loop is int adds over the bound flag array.
    def _let(value, fn):
        return F.element_at(F.transform(F.array(value), fn), 1)

    res = _let(toks, lambda t: _let(
        F.transform(
            t, lambda x: F.array_contains(term_arr, x).cast("int")
        ),
        lambda fl: _let(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size(t) - (window - 1), F.lit(1)),
                ),
                lambda i: F.aggregate(
                    F.slice(fl, i, window),
                    F.lit(0),
                    lambda acc, x: acc + x,
                ),
            ),
            lambda h: _let(
                F.array_position(h, F.array_max(h)),
                lambda p: F.struct(
                    p.cast("bigint").alias("best_pos"),
                    F.array_max(h).cast("bigint").alias("n_hits"),
                    F.concat_ws(
                        " ", F.slice(t, p.cast("int"), window)
                    ).alias("snippet"),
                ),
            ),
        ),
    ))
    return (
        spread(docs)
        .select(F.col(id_col), res.alias("r"))
        .select(id_col, "r.*")
        .filter(F.col("n_hits") >= 1)
    )


def fuzzy_search(
    part: DataFrame,
    queries: tuple[str, ...] = ("lrge", "bold", "gizmmo"),
    max_dist: int = 1,
) -> DataFrame:
    """Fuzzy (typo-tolerant) vocabulary search: edit-distance matches
    for each query against the part-name token vocabulary, with the
    q-gram-lemma trigram prefilter — one Unicode edit destroys at most
    3 distinct trigrams of the query, so a true match at distance ≤ d
    shares ≥ m − 3d of the query's m distinct trigrams.  When that
    bound is < 1 (short queries) the prefilter is provably powerless
    and the operator scans the vocabulary instead of silently losing
    recall — the honesty stance of substring_search's lossless filter.

    Everything runs at VOCABULARY grain (distinct name tokens — the
    inverted-index contract: the corpus contracts to tokens once, each
    query probes tokens, never rows).  Output: (query, token, dist,
    n_parts) for dist ≤ max_dist.
    """
    tok = (
        part.select(
            F.explode(F.split(F.col("p_name"), " ")).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
    )
    outs = []
    for q in queries:
        trigs = sorted({q[i : i + 3] for i in range(len(q) - 2)})
        thr = len(trigs) - 3 * max_dist
        cand = tok
        if thr >= 1:
            shared = F.size(
                F.filter(
                    F.array(*[F.lit(g) for g in trigs]),
                    lambda g: F.contains(F.col("token"), g),
                )
            )
            cand = tok.filter(shared >= thr)
        outs.append(
            cand.select(
                F.lit(q).alias("query"),
                "token",
                F.levenshtein(F.lit(q), F.col("token"))
                .cast("bigint")
                .alias("dist"),
                "n_parts",
            ).filter(F.col("dist") <= max_dist)
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res

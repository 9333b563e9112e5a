"""Property-based tests (hypothesis) for the engine's cross-cutting
invariants — the properties every oracle comparison silently relies on:

- tokenizer parity: Spark's Java-regex tokenization equals DuckDB's
  RE2 tokenization for arbitrary unicode text (the shared `\\p{L}\\p{N}`
  class semantics);
- decimal protocol: dsum is exactly the mathematical sum for 2-decimal
  inputs under ANY partitioning;
- connected components: the iterative label propagation equals a
  reference union-find on arbitrary small graphs;
- n-gram windows: ``token_ngrams`` equals a pure-Python n-gram
  reference over the same split/lower/drop-empty contract.

Example counts are small (each example runs Spark jobs); hypothesis still
explores the weird corners (empty strings, astral-plane runes, negative
zero, self-loops) far better than hand-picked fixtures.
"""

import decimal
import unicodedata

import duckdb
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from p2_mapreduce_spark.functions.numeric import dsum
from p2_mapreduce_spark.functions.text import token_ngrams, tokens_array
from p2_mapreduce_spark.operators.graph import connected_components


_AGREED_ALPHABET: str | None = None


def _agreement_alphabet(spark) -> str:
    """Codepoints on which BOTH regex engines agree about membership in
    ``[\\p{L}\\p{N}]`` and about ``lower()`` — the domain of the parity
    contract.  Java 17 ships Unicode 13 tables while DuckDB's
    RE2/utf8proc ship newer ones, and newly-assigned letters land
    *inside* old planes (e.g. U+1E4D0 Nag Mundari, Unicode 15), so no
    static cap or block list stays correct across engine upgrades —
    calibrate empirically once per session instead."""
    global _AGREED_ALPHABET
    if _AGREED_ALPHABET is not None:
        return _AGREED_ALPHABET
    cps = [c for c in range(0x30000) if not 0xD800 <= c <= 0xDFFF]
    jvm = {
        r["cp"]: (r["lo"], r["w"])
        for r in spark.createDataFrame(
            [(c, chr(c)) for c in cps], "cp long, ch string"
        )
        .select(
            "cp",
            F.lower("ch").alias("lo"),
            F.col("ch").rlike("^[\\p{L}\\p{N}]$").alias("w"),
        )
        .collect()
    }
    duck = duckdb.connect().execute(
        r"SELECT cp, lower(chr(cp::INT)), regexp_matches(chr(cp::INT), '^[\p{L}\p{N}]$')"
        r" FROM range(196608) t(cp) WHERE cp NOT BETWEEN 55296 AND 57343"
    ).fetchall()
    _AGREED_ALPHABET = "".join(
        chr(cp) for cp, lo, w in duck if jvm[cp] == (lo, w)
    )
    # sanity: the engines agree on every real-world script's core
    assert {"a", "Z", "9", "é", "中", "א"} <= set(_AGREED_ALPHABET)
    return _AGREED_ALPHABET


@settings(max_examples=8, deadline=None)
@given(data=st.data())
def test_tokenizer_matches_duckdb_on_arbitrary_text(spark, data):
    texts = data.draw(
        st.lists(
            st.text(
                alphabet=st.sampled_from(_agreement_alphabet(spark)),
                max_size=80,
            ),
            min_size=1,
            max_size=12,
        )
    )
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "text"])
    got = {
        r["i"]: r["toks"]
        for r in df.select("i", tokens_array(F.col("text")).alias("toks")).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, ?)" for i in range(len(texts)))
        + ") v(i, text)",
        texts,
    )
    want = {
        i: [t for t in toks if t != ""]
        for i, toks in con.execute(
            r"SELECT i, regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+') FROM t"
        ).fetchall()
    }
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.decimals(
            min_value=-10**6, max_value=10**6, places=2, allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=200,
    ),
    st.integers(min_value=1, max_value=13),
)
def test_dsum_is_exact_under_any_partitioning(spark, values, n_parts):
    df = spark.createDataFrame(
        [(float(v),) for v in values], "x double"
    ).repartition(n_parts)
    got = df.agg(dsum("x").alias("s")).first()["s"]
    want = float(sum(values, decimal.Decimal(0)))
    assert got == want  # exact, not approx — that's the protocol


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1,
        max_size=25,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    # reference union-find
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {v: find(v) for v in parent}
    # canonical label = min of component
    comp_min: dict[int, int] = {}
    for v, r in want.items():
        comp_min[r] = min(comp_min.get(r, v), v)
    want = {v: comp_min[find(v)] for v in parent}

    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {r["v"]: r["component"] for r in connected_components(df).collect()}
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=30),
    st.integers(min_value=1, max_value=5),
    st.integers(min_value=2, max_value=9),
)
def test_pack_sequences_is_a_prefix_sum_under_any_partitioning(
    spark, token_counts, cap, n_parts
):
    """pack_sequences == the driver-side prefix sum, for any doc sizes
    (incl. zero-token docs), any cap, any range-partition count."""
    from p2_mapreduce_spark.operators.curation import pack_sequences

    texts = [(i, " ".join(["w"] * n)) for i, n in enumerate(token_counts)]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_tokens"], r["token_offset"], r["seq_id"])
        for r in pack_sequences(df, cap=cap, partitions=n_parts).collect()
    }
    cum = 0
    for i, n in enumerate(token_counts):
        assert got[i] == (n, cum, cum // cap)
        cum += n


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from("abcdefg"), min_size=0, max_size=30
        ).map(" ".join),
        min_size=1,
        max_size=8,
    )
)
def test_repetition_stats_matches_local_histograms(spark, texts):
    """repetition_stats == a local Counter over tokens/bigrams, for
    arbitrary small-alphabet docs (high collision rates stress the
    tagged single-explode path)."""
    from collections import Counter

    from p2_mapreduce_spark.operators.curation import repetition_stats

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    for i, text in enumerate(texts):
        toks = [t for t in text.split() if t]
        if not toks:
            assert i not in got
            continue
        bigrams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        tc, bc = Counter(toks), Counter(bigrams)
        r = got[i]
        assert r["n_tokens"] == len(toks)
        assert r["n_distinct"] == len(tc)
        assert r["top_token_ratio"] == max(tc.values()) / len(toks)
        if bigrams:
            assert r["top_bigram_ratio"] == max(bc.values()) / len(bigrams)
        else:
            assert r["top_bigram_ratio"] == 0.0


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=30,
    )
)
def test_triangle_stats_matches_bruteforce(spark, edges):
    """Degree-ordered triangle census == brute-force enumeration on
    arbitrary small graphs (self-loops and duplicate edges included)."""
    from itertools import combinations

    from p2_mapreduce_spark.operators.graph import triangle_stats

    adj = {}
    for u, v in edges:
        if u != v:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
    want_tri = sum(
        1
        for a, b, c in combinations(sorted(adj), 3)
        if b in adj[a] and c in adj[a] and c in adj[b]
    )
    want_edges = sum(len(s) for s in adj.values()) // 2
    want_wedges = sum(len(s) * (len(s) - 1) // 2 for s in adj.values())

    df = spark.createDataFrame(edges, "u long, v long")
    r = triangle_stats(df).collect()[0]
    if not adj:  # all edges were self-loops
        assert r["n_edges"] == 0 and r["n_triangles"] == 0
        return
    assert r["n_nodes"] == len(adj)
    assert r["n_edges"] == want_edges
    assert r["n_wedges"] == want_wedges
    assert r["n_triangles"] == want_tri


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=1,
        max_size=30,
    ),
    st.integers(0, 14),
)
def test_bfs_hops_matches_reference_bfs(spark, edges, source):
    """Distributed frontier BFS == textbook queue BFS on arbitrary small
    graphs, including unreachable components and source-not-in-graph."""
    from collections import deque

    from p2_mapreduce_spark.operators.graph import bfs_hops

    adj = {}
    for u, v in edges:
        if u != v:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
    want = {source: 0}
    dq = deque([source])
    while dq:
        n = dq.popleft()
        if want[n] >= 6:
            continue
        for nb in adj.get(n, ()):
            if nb not in want:
                want[nb] = want[n] + 1
                dq.append(nb)

    df = spark.createDataFrame(edges, "u long, v long")
    got = {r["node"]: r["hop"] for r in bfs_hops(df, source, max_hops=6).collect()}
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=40),
        min_size=2,
        max_size=8,
    )
)
def test_allpairs_equals_naive_on_random_corpora(spark, texts):
    """PPJoin prefix filtering is exact on arbitrary corpora: equality
    with the unpruned inverted-index join for every random input,
    including empty/short docs and all-identical corpora."""
    from p2_mapreduce_spark.operators.dedup import (
        allpairs_jaccard,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    ap = sorted(tuple(r) for r in allpairs_jaccard(docs, threshold=0.6).collect())
    naive = sorted(
        tuple(r)
        for r in ngram_jaccard_pairs(docs, threshold=0.6, max_df=None).collect()
    )
    assert ap == naive


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),    # group
            st.integers(min_value=-1000, max_value=1000),  # value
        ),
        min_size=1,
        max_size=120,
    ),
    st.integers(min_value=1, max_value=11),
)
def test_two_phase_rank_equals_global_sort_rank(spark, rows, n_parts):
    """PROPERTY: the distributed two-phase rank (range-repartition →
    per-partition row_number → offset merge) assigns EXACTLY the rank a
    global sort would, for any data and any input partitioning — the
    invariant every rank-device consumer (trimmed mean, RFM, A/B
    median, Lorenz points, TWAP lag) rests on.  Verified against a
    local Python sort with the same (group, value, id) total order."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    data = [(g, v, i) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "g int, v int, id int"
    ).repartition(n_parts)
    t = df.repartitionByRange(F.col("g"), F.col("v"), F.col("id")).withColumn(
        "pid", F.spark_partition_id()
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
    got = {
        (r["g"], r["id"]): r["rank"]
        for r in t.join(F.broadcast(offsets), ["pid", "g"])
        .select("g", "id", (F.col("off") + F.col("rn")).alias("rank"))
        .collect()
    }
    want = {}
    for g in {g for g, _, _ in data}:
        members = sorted(
            ((v, i) for gg, v, i in data if gg == g)
        )
        for rank, (v, i) in enumerate(members, start=1):
            want[(g, i)] = rank
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    ra=st.lists(st.integers(1, 1000), min_size=0, max_size=12, unique=True),
    rb=st.lists(st.integers(1, 1000), min_size=0, max_size=12, unique=True),
)
def test_rrf_fuse_matches_exact_rational_order(spark, ra, rb):
    """RRF fused ORDER equals the exact-rational reference on arbitrary
    rank lists: the one-division double trick cannot reorder items,
    because distinct exact scores differ by far more than 1 ulp at
    k=60 and ranks ≤ 1000."""
    from fractions import Fraction

    from p2_mapreduce_spark.operators.search import rrf_fuse

    a_ids = list(range(100, 100 + len(ra)))
    b_ids = list(range(100 + len(ra) // 2, 100 + len(ra) // 2 + len(rb)))
    a = spark.createDataFrame(
        list(zip(a_ids, [i + 1 for i in range(len(ra))])) or [(None, None)],
        "doc_id long, rnk long",
    ).dropna()
    b = spark.createDataFrame(
        list(zip(b_ids, [i + 1 for i in range(len(rb))])) or [(None, None)],
        "doc_id long, rnk long",
    ).dropna()
    got = [
        r["doc_id"]
        for r in sorted(
            rrf_fuse(a, b, k_rrf=60, top_n=100).collect(),
            key=lambda r: r["fused_rank"],
        )
    ]
    ref: dict[int, Fraction] = {}
    for i, d in enumerate(a_ids):
        ref[d] = ref.get(d, Fraction(0)) + Fraction(1, 60 + i + 1)
    for i, d in enumerate(b_ids):
        ref[d] = ref.get(d, Fraction(0)) + Fraction(1, 60 + i + 1)
    want = [d for d, _ in sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))]
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    sizes=st.lists(st.integers(1, 10_000), min_size=1, max_size=8),
    budget=st.integers(1, 500),
)
def test_temperature_mix_allocation_is_exact(spark, sizes, budget):
    """For ANY domain-size profile and budget: allocations sum exactly
    to the budget, and match the pure-integer largest-remainder
    reference computed from the same sqrt micro-weights."""
    import math

    from p2_mapreduce_spark.operators.curation import temperature_mix

    rows = [(i, f"s{g:02d}") for g, n in enumerate(sizes) for i in range(n)]
    docs = spark.createDataFrame(rows, ["doc_id", "source"])
    got = {r["source"]: r["alloc"] for r in temperature_mix(docs, budget=budget).collect()}
    wq = {f"s{g:02d}": math.floor(math.sqrt(float(n)) * 1e6) for g, n in enumerate(sizes)}
    wsum = sum(wq.values())
    base = {g: budget * q // wsum for g, q in wq.items()}
    rem = {g: (budget * q) % wsum for g, q in wq.items()}
    short = budget - sum(base.values())
    order = sorted(wq, key=lambda g: (-rem[g], g))
    want = {g: base[g] + (1 if order.index(g) < short else 0) for g in wq}
    assert got == want and sum(got.values()) == budget


@settings(max_examples=25, deadline=None)
@given(
    words=st.lists(
        st.text(
            # full tokenizer domain: ASCII plus multi-byte UTF-8 letters
            # (2-byte Latin/Greek/Cyrillic, 3-byte CJK) — the fold must
            # hash the UTF-8 BYTES, exactly Go's fnv.New32a []byte input
            alphabet="abcdefghijklmnopqrstuvwxyz0123456789éßñøλщ中語ア한",
            min_size=1,
            max_size=24,
        ),
        min_size=1,
        max_size=12,
        unique=True,
    )
)
def test_fnv1a32_sql_matches_go_fold_for_any_token(spark, words):
    """For ANY Unicode token the M2 tokenizer can emit: the SQL fold
    equals the byte-wise FNV-1a Go computes — the bit-exactness the
    fnv_partition reducer-bin parity rests on."""
    from p2_mapreduce_spark.mapreduce import fnv1a32_sql

    def fnv(b: bytes) -> int:
        h = 2166136261
        for c in b:
            h = ((h ^ c) * 16777619) % 2**32
        return h

    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {
        r["w"]: r["h"]
        for r in df.selectExpr("w", f"{fnv1a32_sql('w')} as h").collect()
    }
    assert got == {w: fnv(w.encode()) for w in words}


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=30,
    )
)
def test_dup_edge_support_orientation_matches_naive(spark, edges):
    """The round-9 degree-ordered wedge kernel must equal the naive
    common-neighbor count on ARBITRARY pair graphs (hubs, ties in the
    (degree, id) key, isolated edges) — guards the orientation change
    against the exact semantics it replaced."""
    from collections import Counter

    from p2_mapreduce_spark.operators.dedup import dup_edge_support

    canon = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not canon:
        return
    nbr: dict[int, set[int]] = {}
    for a, b in canon:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    want = Counter(len(nbr[a] & nbr[b]) for a, b in canon)
    pairs = spark.createDataFrame(
        [(a, b, 1.0) for a, b in canon], "doc_a long, doc_b long, jaccard double"
    )
    docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )
    got = {
        r["support"]: r["n_edges"]
        for r in dup_edge_support(docs, pairs=pairs).collect()
    }
    assert got == dict(want)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.binary(min_size=0, max_size=400), min_size=1, max_size=6)
)
def test_avi_kernels_never_raise_on_arbitrary_bytes(spark, payloads):
    """Demux robustness: ARBITRARY byte payloads — including ones that
    start with valid RIFF magic but carry garbage sizes — must
    quarantine (zero or partial rows), never fail the stage."""
    from p2_mapreduce_spark.operators.multimodal import (
        avi_av_stats,
        avi_frame_stats,
    )

    rows = [(i, "video", p) for i, p in enumerate(payloads)]
    # adversarial variants: valid magic + garbage body
    rows += [
        (100 + i, "video", b"RIFF" + p[:4] + b"AVI " + p)
        for i, p in enumerate(payloads)
    ]
    media = spark.createDataFrame(
        rows, "media_id long, modality string, payload binary"
    )
    # must complete without raising; any emitted row is well-typed
    for df in (avi_frame_stats(media), avi_av_stats(media)):
        out = df.collect()
        assert isinstance(out, list)


def _py_tokens(text: str) -> list[str]:
    """Pure-Python twin of the tokenizer contract: split on every rune
    outside the Unicode L*/N* categories, lowercase, drop empties."""
    spaced = "".join(
        c if unicodedata.category(c)[0] in "LN" else " " for c in text
    )
    return [t.lower() for t in spaced.split()]


#: Letters and digits (ASCII and not) whose L/N membership and
#: lowercase agree between Java and Python, plus separators.
_NGRAM_ALPHABET = "aBzZ09éÄγΔЖж日本٣² ,-_!\t"
_NGRAM_WORDS = ["the", "Cat", "sat", "ÉTÉ", "日本", "٣٣", "x2"]
_NGRAM_EDGES = [
    None, "", " ,-! ", "one", "a b", "a b c", "v w x y z", "a a a a a a a",
    "Ä-ä ä_Ä",
]


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.text(alphabet=_NGRAM_ALPHABET, max_size=40),
            # few distinct words, so windows repeat within a document
            st.lists(st.sampled_from(_NGRAM_WORDS), max_size=12).map(" ".join),
        ),
        max_size=8,
    )
)
def test_token_ngrams_match_python_reference(spark, drawn):
    """Every n-token window of every document, in order, duplicates
    kept; null/empty text and documents shorter than n yield []."""
    texts = _NGRAM_EDGES + drawn
    ns = (2, 3, 5)
    df = spark.createDataFrame(list(enumerate(texts)), "i long, text string")
    got = {
        r["i"]: [r[f"g{n}"] for n in ns]
        for r in df.select(
            "i", *[token_ngrams("text", n, lambda g: g).alias(f"g{n}") for n in ns]
        ).collect()
    }
    for i, text in enumerate(texts):
        toks = _py_tokens(text) if text is not None else []
        want = [
            [toks[j:j + n] for j in range(len(toks) - n + 1)] for n in ns
        ]
        assert got[i] == want, (text, got[i], want)

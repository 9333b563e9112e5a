"""Engine-core tests: the generic (plugin-compat) MapReduce path, partition
invariance, empty inputs, and the columnar fast path."""

import pytest
from pyspark.sql import functions as F

from p2_mapreduce_spark.mapreduce import run_mapreduce, run_mapreduce_by_name
from p2_mapreduce_spark.registry import (
    default_registry,
    sum_reduce,
    wordcount_map,
    wordcount_reduce,
)


@pytest.fixture(scope="module")
def tiny_docs(spark):
    rows = [
        ("a.txt", "the cat and the hat"),
        ("b.txt", "The HAT; the cat!"),
        ("c.txt", ""),
    ]
    return spark.createDataFrame(rows, ["filename", "contents"])


EXPECTED = {"the": 4, "cat": 2, "hat": 2, "and": 1}


def test_wordcount_python_path(spark, tiny_docs):
    out = run_mapreduce(tiny_docs, wordcount_map, wordcount_reduce, aggregate=True)
    got = {r["key"]: int(r["value"]) for r in out.collect()}
    assert got == EXPECTED
    # aggregate path: globally sorted by key
    keys = [r["key"] for r in out.collect()]
    assert keys == sorted(keys)


@pytest.mark.parametrize("r", [1, 4, 17])
def test_partition_count_invariance(spark, tiny_docs, r):
    """Reference M3 takes num_reduce_tasks; results must not depend on it
    (the reference's filename-hash quirk violated this — we don't)."""
    out = run_mapreduce(tiny_docs, wordcount_map, wordcount_reduce, num_partitions=r)
    got = {row["key"]: int(row["value"]) for row in out.collect()}
    assert got == EXPECTED


def test_empty_input(spark):
    empty = spark.createDataFrame([], "filename string, contents string")
    out = run_mapreduce(empty, wordcount_map, wordcount_reduce)
    assert out.count() == 0


def test_registry_columnar_path_matches_python_path(spark, tiny_docs):
    """udf_roundtrip seed: the registered columnar implementation must agree
    with the Python plugin path exactly."""
    fast = run_mapreduce_by_name(tiny_docs, "wordcount", "wordcount")
    slow = run_mapreduce(tiny_docs, wordcount_map, wordcount_reduce)
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, slow.collect()))


def test_registry_unknown_plugin(spark):
    reg = default_registry()
    with pytest.raises(KeyError):
        reg.get_map("nope")


def test_grep_and_count_plugins(spark):
    """A second plugin workload end-to-end: grep lines + count matches per
    file — the map emits (filename, line), the generic count reduce tallies
    them; verified against plain Python."""
    rows = [
        ("a.txt", "data line one\nno match\nmore data here"),
        ("b.txt", "nothing here\nstill nothing"),
        ("c.txt", "data data data"),
    ]
    df = spark.createDataFrame(rows, ["filename", "contents"])
    out = run_mapreduce_by_name(df, "grep_data", "count")
    got = {r["key"]: int(r["value"]) for r in out.collect()}
    assert got == {"a.txt": 2, "c.txt": 1}


def test_sum_reduce_python_and_columnar_agree(spark, tiny_docs):
    """sum over ("word","1") pairs == wordcount; and the columnar sum must
    match the Python plugin path bit-for-bit."""
    py = run_mapreduce(tiny_docs, wordcount_map, sum_reduce)
    assert {r["key"]: int(r["value"]) for r in py.collect()} == EXPECTED
    reg = default_registry()
    mapped = reg.get_map("wordcount").columnar(tiny_docs)
    fast = reg.get_reduce("sum").columnar(mapped)
    assert {r["key"]: int(r["value"]) for r in fast.collect()} == EXPECTED


def test_non_aggregate_path_total_grouping(spark, tiny_docs):
    """aggregate=False (M10 concatenate path): still exactly one output row
    per key — the intended semantics, not the reference's split-key quirk."""
    out = run_mapreduce(tiny_docs, wordcount_map, wordcount_reduce, aggregate=False)
    rows = out.collect()
    keys = [r["key"] for r in rows]
    assert len(keys) == len(set(keys))
    assert {r["key"]: int(r["value"]) for r in rows} == EXPECTED


def test_combiner_path_matches_plain_reduce(spark, tiny_docs):
    """sum_reduce is @associative → combines with itself; the combined
    result must equal the plain collect_list path exactly."""
    plain = run_mapreduce(tiny_docs, wordcount_map, sum_reduce, aggregate=True)
    combined = run_mapreduce(
        tiny_docs, wordcount_map, sum_reduce, aggregate=True, combiner=sum_reduce
    )
    auto = run_mapreduce(tiny_docs, wordcount_map, sum_reduce, aggregate=True)
    rows = lambda df: [(r["key"], r["value"]) for r in df.collect()]
    assert rows(plain) == rows(combined) == rows(auto)
    assert dict(rows(combined)) == {k: str(v) for k, v in EXPECTED.items()}


def test_registry_wordcount_combiner_replaces_len(spark, tiny_docs):
    """The registered wordcount pair carries sum_reduce as its combiner
    (its map emits only "1"s, whose hierarchical fold of len IS integer
    sum); forcing the non-columnar path must route through it and still
    produce exact counts.  'count' over arbitrary values has a two-stage
    fold a self-combiner can't express — it stays plain (see registry)."""
    import p2_mapreduce_spark.registry as R

    reg = R.default_registry()
    assert reg.get_reduce("wordcount").combiner is R.sum_reduce
    assert reg.get_reduce("count").combiner is None
    out = run_mapreduce(
        tiny_docs, wordcount_map, wordcount_reduce, aggregate=True,
        combiner=reg.get_reduce("wordcount").combiner,
    )
    assert {r["key"]: r["value"] for r in out.collect()} == {
        k: str(v) for k, v in EXPECTED.items()
    }


@pytest.mark.parametrize("aggregate", [True, False])
def test_reduce_runs_once_per_key(spark, tiny_docs, aggregate):
    """The key sort sits below the pandas_udf reduce, so the aggregate
    path's range-partition sample job reads JVM-side grouped rows and
    never calls the reduce: one call per distinct key on both paths."""
    calls = spark.sparkContext.accumulator(0)

    def counting_reduce(key, values):
        calls.add(1)
        return wordcount_reduce(key, values)

    out = run_mapreduce(tiny_docs, wordcount_map, counting_reduce, aggregate=aggregate)
    assert {r["key"]: int(r["value"]) for r in out.collect()} == EXPECTED
    assert calls.value == len(EXPECTED)


def test_aggregate_plan_sorts_before_the_reduce(spark, tiny_docs):
    """Plan pin for the sort-before-reduce shape: no Exchange above
    ArrowEvalPython, and since ArrowEvalPython keeps its child's
    ordering, a caller's sortWithinPartitions("key") plans no extra Sort."""
    import re

    from p2_mapreduce_spark.plans import physical_plan

    out = run_mapreduce(tiny_docs, wordcount_map, wordcount_reduce, aggregate=True)
    tree = physical_plan(out).split("\n\n")[0].splitlines()
    py = next(i for i, ln in enumerate(tree) if "ArrowEvalPython" in ln)
    assert not any("Exchange" in ln for ln in tree[:py]), tree
    n_sorts = lambda df: len(re.findall(r"^\(\d+\) Sort\b", physical_plan(df), re.M))
    assert n_sorts(out.sortWithinPartitions("key")) == n_sorts(out) == 1


def _coercion_map(filename, contents):
    # an int value, a None key and a None value per token, a non-str
    # key and value once per row
    yield 7, 2.5
    for tok in contents.split():
        yield tok, 1
        yield None, tok
        yield tok, None


def _coercion_combiner(key, values):
    # None for "y" (on both sides of the shuffle), else the largest value
    if key == "y":
        return None
    return max((str(v) for v in values if v is not None), default=None)


@pytest.mark.parametrize("aggregate", [True, False])
@pytest.mark.parametrize(
    "combiner, want",
    [
        (None, [("7", "'2.5'|'2.5'|'2.5'"), ("x", "'1'"), ("y", "'1'|'1'"),
                ("z", "'1'"), (None, "'x'|'y'|'y'|'z'")]),
        (_coercion_combiner, [("7", "2.5"), ("x", "1"), ("y", None),
                              ("z", "1"), (None, "z")]),
    ],
    ids=["plain", "combiner"],
)
def test_coercion_contract(spark, aggregate, combiner, want):
    """Keys and values become strings as pd.Series(dtype="string") makes
    them; None values leave the plain path's lists, None keys form one
    group, and a None combiner partial is dropped (the key's value comes
    out null).  Expected rows are the outputs of the ship-every-pair
    dataflow this packing replaced."""
    df = spark.createDataFrame(
        [("a", "x y"), ("b", "y z"), (None, None)], "filename string, contents string"
    )
    out = run_mapreduce(
        df, _coercion_map, lambda k, vs: "|".join(sorted(map(repr, vs))),
        aggregate=aggregate, combiner=combiner,
    )
    rows = [(r["key"], r["value"]) for r in out.collect()]
    assert sorted(rows, key=lambda r: (r[0] is None, r[0] or "")) == want


def test_combiner_bounds_per_key_state_on_skewed_input(spark):
    """Skewed-key fixture: one key carries 50k values spread over many
    input rows/partitions.  With the combiner, no reduce-side value list
    may exceed the number of upstream batches (far below the value
    count) — asserted by running the reduce through a wrapper that
    records list lengths via the result encoding."""
    rows = [("f%d" % i, " ".join(["hot"] * 500)) for i in range(100)]
    rows += [("g%d" % i, "cold%d" % i) for i in range(20)]
    df = spark.createDataFrame(rows, ["filename", "contents"]).repartition(8)

    # encode the observed list length into the output so the assertion
    # needs no executor-side state channel
    def counting_sum(key, values):
        total = sum(int(v.split(":")[-1]) if ":" in v else int(v) for v in values)
        return f"{len(values)}:{total}"

    out = run_mapreduce(
        df, wordcount_map, counting_sum, aggregate=True, combiner=counting_sum
    )
    got = {r["key"]: r["value"] for r in out.collect()}
    hot_lists, hot_total = got["hot"].split(":")
    assert int(hot_total) == 100 * 500
    # 8 input partitions → at most 8 partials reach the final fold (one
    # Arrow batch per small partition); the uncombined path would be 50000
    assert int(hot_lists) <= 8


def test_table_udf_sentence_split(spark):
    from p2_mapreduce_spark.registry import apply_table_udf, default_registry

    reg = default_registry()
    assert "sentence_split" in reg.list()["table"]
    docs = spark.createDataFrame(
        [
            (1, "First one. Second!  Third?"),
            (2, "no terminator"),
            (3, "..."),
        ],
        "doc_id long, text string",
    )
    rows = apply_table_udf(docs, reg.get_table("sentence_split"), "doc_id", "text")
    got = sorted((r["doc_id"], r["sentence_idx"], r["sentence"]) for r in rows.collect())
    assert got == [
        (1, 0, "First one"),
        (1, 1, "Second"),
        (1, 2, "Third"),
        (2, 0, "no terminator"),
    ]


def test_table_udf_unknown_name_raises():
    import pytest as _pytest

    from p2_mapreduce_spark.registry import default_registry

    with _pytest.raises(KeyError):
        default_registry().get_table("nope")


def test_grep_plugin_matches_dataframe_filter(spark, sf_dir):
    """The closure-factory grep plugin (pattern shipped by value) agrees
    with the declarative regexp filter — and cross-checks the positional
    phrase/substring operators' doc sets."""
    from pyspark.sql import functions as F

    from p2_mapreduce_spark.mapreduce import run_mapreduce
    from p2_mapreduce_spark.registry import count_reduce, make_grep_map
    from p2_mapreduce_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = run_mapreduce(
        docs, make_grep_map(r"\bdata join\b"), count_reduce,
        key_col="doc_id", value_col="text",
    )
    got = sorted(int(r.key) for r in out.collect())
    want = sorted(
        r.doc_id
        for r in docs.where(F.col("text").rlike(r"\bdata join\b")).collect()
    )
    assert got == want and len(got) > 0


def test_index_plugin_postings_sorted_and_partition_invariant(spark):
    """The third registry plugin (inverted index): postings are
    numerically sorted distinct doc ids regardless of value arrival
    order or partitioning; per-doc duplicate tokens collapse in the
    map (set-guard) so the reduce sees each (token, doc) once."""
    from p2_mapreduce_spark.mapreduce import run_mapreduce
    from p2_mapreduce_spark.registry import index_map, postings_reduce

    docs = spark.createDataFrame(
        [
            (10, "alpha beta alpha"),
            (2, "beta gamma"),
            (1, "Alpha!"),
        ],
        ["doc_id", "text"],
    )
    for parts in (1, 7):
        out = {
            r["key"]: r["value"]
            for r in run_mapreduce(
                docs.repartition(parts),
                index_map,
                postings_reduce,
                key_col="doc_id",
                value_col="text",
            ).collect()
        }
        assert out["alpha"] == "1,10"   # numeric, not lexicographic
        assert out["beta"] == "2,10"
        assert out["gamma"] == "2"


def test_fnv1a32_matches_go_reference_bytes(spark):
    """fnv1a32_sql must equal hash/fnv.New32a() byte-for-byte: pinned
    against a pure-Python FNV-1a over the utf-8 bytes for a spread of
    tokens (incl. digits and the empty-adjacent single char)."""
    from p2_mapreduce_spark.mapreduce import fnv1a32_sql

    words = ["hello", "a", "0", "zz9", "mapreduce", "the", "chunk42"]

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


def test_fnv_partition_counts_total_and_range(spark, sf_dir):
    from pyspark.sql import functions as F

    from p2_mapreduce_spark.functions.text import tokens_array
    from p2_mapreduce_spark.mapreduce import fnv_partition_counts
    from p2_mapreduce_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = fnv_partition_counts(docs, num_reducers=4).collect()
    assert {r["reducer"] for r in out} <= {0, 1, 2, 3}
    n_tok = docs.select(
        F.explode(tokens_array(F.col("text")))
    ).count()
    assert sum(r["n_tokens"] for r in out) == n_tok

"""The MapReduce dataflow (reference operators M1-M10) on Spark.

The reference executes ``map → FNV-hash partition → shuffle → group-by-key
→ sort keys → reduce → (optional) controller-side final aggregate``
(cmd/storage-node/main.go:572-878 map side, :1101-1398 reduce side;
cmd/controller/manager/manager.go:1038-1173 final aggregate).  On Spark the
same dataflow is ONE declarative plan:

    input → mapInPandas(map_fn + pack)     # M1 map (Arrow-batched)
          → repartition(R, key)            # M3 hash partition + shuffle
          → groupBy(key) + flatten(collect_list)  # M4+M5 group-by-key
          → orderBy(key) | sortWithinPartitions(key)   # M9 | M6
          → pandas_udf(reduce_fn)          # M7 reduce (UDAF-like)

``pack`` groups each Arrow batch's emitted pairs by key: one row per
(key, batch) carrying ``values array<string>``, every value of the key in
that batch (or, with a combiner, its one folded partial).  Packing is
lossless, so it works for any reducer; the shuffle carries a batch's
vocabulary instead of one record per emitted pair.  The key sort runs on
the grouped rows BEFORE the reduce: ``ArrowEvalPython`` keeps its child's
ordering, so the output contract is the same, and the range-partition
sample job behind ``orderBy`` reads JVM-side rows instead of re-running
the Python reduce — the reduce runs exactly once per key.

Stage barrier (M11), locality (M12), retries (M13) are the DAGScheduler's.

Deliberate semantic fixes over the reference (SURVEY.md §2.2 quirk):
- a key's values are ALWAYS totally grouped (Spark shuffle guarantees it);
  the reference's filename-hash re-partitioning bug that splits a key
  across reducer outputs is not replicated.
- per-batch packing: the reference ships every ("word","1") pair over
  the network (wordcount.go:32-35); we ship one row per (key, batch),
  folded to one partial when the reducer declares an algebraic
  ``combiner``.

Scale notes: the Python map/reduce path exists for plugin compatibility
(reference M14); it is Arrow-vectorized, not per-row, but 100 TB workloads
should register a ``columnar`` implementation (see registry.py) so the
whole job stays JVM-side.  The plain reduce path groups with
``collect_list``, which assumes one key's value list fits in an executor —
same contract the reference imposes in RAM (storage-node/main.go:
1317-1321).  A reduce fn that declares associativity (the
:func:`associative` decorator, or an explicit ``combiner=``) lifts that
contract: values are partially reduced inside each map batch BEFORE the
shuffle, so the per-key state that crosses the wire and lands in any one
task is one partial per upstream batch — bounded by the partition count,
never by the number of values (the reduceByKey discipline)."""

from __future__ import annotations

import sys
from collections.abc import Callable, Iterable, Iterator
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _ship_by_value(*fns: Callable) -> None:
    """Code shipping (reference M14: nodes download + dlopen the plugin
    ``.so``, storage-node/main.go:603-730).  On Spark user code travels by
    cloudpickle; functions defined in importable modules are pickled *by
    reference*, which breaks when executors' Python workers don't have the
    engine repo on their path (e.g. a driver that only put it on the
    driver's sys.path).  Registering the defining modules for by-value
    pickling makes every shipped UDF self-contained — the Spark analog of
    the reference uploading the whole plugin binary."""
    try:
        from pyspark import cloudpickle
    except ImportError:  # pragma: no cover - very old pyspark
        return
    for fn in fns:
        mod = sys.modules.get(getattr(fn, "__module__", None))
        if mod is not None and not mod.__name__.startswith(("pyspark", "builtins")):
            try:
                cloudpickle.register_pickle_by_value(mod)
            except Exception:
                pass

#: map_fn(filename, contents) -> iterable of (key, value) — reference
#: mapreduce/types/types.go:13 (MapFunc).
MapFn = Callable[[str, str], Iterable[tuple[str, str]]]
#: reduce_fn(key, values) -> value — reference types.go:14 (ReduceFunc).
ReduceFn = Callable[[str, list], str]

DEFAULT_NUM_PARTITIONS = 4  # reference default: manager.go:771-775


def associative(fn: ReduceFn) -> ReduceFn:
    """Declare a reduce fn algebraic: ``fn(k, xs)`` must equal
    ``fn(k, [fn(k, xs1), fn(k, xs2)])`` for any split of ``xs`` (sum, min,
    max, first-of-equal...).  :func:`run_mapreduce` then uses the fn as
    its own map-side combiner and never materializes a full per-key value
    list."""
    fn.associative = True  # type: ignore[attr-defined]
    return fn


def run_mapreduce(
    df: DataFrame,
    map_fn: MapFn,
    reduce_fn: ReduceFn,
    num_partitions: int = DEFAULT_NUM_PARTITIONS,
    aggregate: bool = True,
    key_col: str = "filename",
    value_col: str = "contents",
    combiner: Optional[ReduceFn] = None,
) -> DataFrame:
    """Run one MapReduce job; returns ``DataFrame[key string, value string]``.

    ``aggregate=True`` is the reference's ``-aggregate`` path (M9): a
    single globally key-sorted result.  ``aggregate=False`` mirrors the
    concatenate path (M10): per-partition key-sorted output, no global
    order (Spark still grants total per-key grouping — the intended
    semantics).

    Each map batch is packed by key before the shuffle: one row per
    (key, batch) holding all of the key's values in that batch, so the
    shuffle carries batch vocabularies, not pairs, and ``reduce_fn``
    still sees every value (any reducer works).  Keys and values become
    strings as ``pd.Series(dtype="string")`` makes them; None values are
    dropped, None keys form one group.  The result is key-sorted before
    the reduce, not after, so the reduce runs once per key (a sort above
    it would re-run it in the range-partition sample job).

    ``combiner`` switches to the algebraic fast path: it is applied to
    each key's values inside every map batch (pre-shuffle) and again to
    the collected partials (post-shuffle), REPLACING ``reduce_fn``; a
    None partial is dropped.  So it must satisfy ``combiner(k,
    hierarchical folds of xs) == reduce_fn(k, xs)`` (for count-style
    reducers whose values are "1", an integer-sum combiner is that
    fold).  A ``reduce_fn`` decorated
    :func:`associative` combines with itself automatically.  Per-key
    state on the reduce side is then one partial per upstream batch —
    the skewed hot key that breaks the collect_list contract streams
    through in O(batches), not O(values)."""
    if combiner is None and getattr(reduce_fn, "associative", False):
        combiner = reduce_fn
    _ship_by_value(map_fn, reduce_fn, *( [combiner] if combiner else [] ))
    records = df.select(
        F.col(key_col).cast("string").alias("filename"),
        F.col(value_col).cast("string").alias("contents"),
    )

    def strings(xs: list) -> list:
        # xs coerced as pd.Series(xs, dtype="string") coerces them (str(),
        # bytes decoded, None/NaN null), nulls dropped: what collect_list
        # over the coerced column gives
        if all(type(x) is str for x in xs):
            return xs
        return [x for x in pd.array(xs, dtype="string").tolist() if x is not pd.NA]

    def apply_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # pack: one row per (key, batch), so the shuffle carries the
        # batch's vocabulary, not its tokens.  Without a combiner the
        # list holds every value (lossless); with one, the folded partial.
        # Keys group by their string form (None/NaN keys form one group).
        for pdf in batches:
            acc: dict = {}
            for fname, contents in zip(pdf["filename"], pdf["contents"]):
                for k, v in map_fn(fname if fname is not None else "", contents or ""):
                    if type(k) is not str:
                        k = (strings([k]) or [None])[0]
                    acc.setdefault(k, []).append(v)
            if combiner is not None:
                packed = [strings([combiner(k, vs)]) for k, vs in acc.items()]
            else:
                packed = [strings(vs) for vs in acc.values()]
            yield pd.DataFrame({"key": pd.Series(list(acc), dtype="string"),
                                "values": pd.Series(packed, dtype=object)})

    mapped = records.mapInPandas(apply_map, schema="key string, values array<string>")

    # M3: hash partition on key. Spark's HashPartitioner replaces FNV-1a%R
    # (storage-node/main.go:783-787); results are partition-layout
    # independent so the hash choice is unobservable (tested).
    shuffled = mapped.repartition(num_partitions, "key")

    # M5 group-by-key: concatenate the key's per-batch lists.
    grouped = shuffled.groupBy("key").agg(
        F.flatten(F.collect_list("values")).alias("values")
    )
    # M9: global key sort (manager.go:1128-1132), range-partitioned with
    # no single-node merge; M10/M6: sorted within each output partition.
    # Sorted BEFORE the reduce so the range-partition sample job runs no
    # Python; ArrowEvalPython keeps its child's ordering.
    grouped = grouped.orderBy("key") if aggregate else grouped.sortWithinPartitions("key")

    final_fn = combiner if combiner is not None else reduce_fn

    # M7 reduce, Arrow-batched over many keys at once (NOT one Python
    # call per group — pandas_udf scalar on the grouped aggregate output).
    @F.pandas_udf("string")
    def apply_reduce(keys: pd.Series, values: pd.Series) -> pd.Series:
        return pd.Series(
            [final_fn(k, list(v)) for k, v in zip(keys, values)], dtype="string"
        )

    return grouped.select(
        F.col("key"), apply_reduce(F.col("key"), F.col("values")).alias("value")
    )


def run_mapreduce_by_name(
    df: DataFrame,
    map_id: str,
    reduce_id: str,
    num_partitions: int = DEFAULT_NUM_PARTITIONS,
    aggregate: bool = True,
    registry: Optional["object"] = None,
    **kwargs,
) -> DataFrame:
    """Plugin-id entrypoint — mirrors ``client mapreduce <in> <out> <map_id>
    <reduce_id>`` (reference cmd/client/main.go:400-425).  Functions are
    resolved from the engine registry (M14) instead of downloading ``.so``
    plugins; if the registered pair declares a columnar implementation the
    job never leaves the JVM.
    """
    from p2_mapreduce_spark.registry import default_registry

    reg = registry if registry is not None else default_registry()
    mapper = reg.get_map(map_id)
    reducer = reg.get_reduce(reduce_id)
    if mapper.columnar is not None and reducer.columnar is not None:
        mapped = mapper.columnar(df, **kwargs)
        reduced = reducer.columnar(mapped)
        return reduced.orderBy("key") if aggregate else reduced.sortWithinPartitions("key")
    return run_mapreduce(
        df, mapper.fn, reducer.fn, num_partitions=num_partitions,
        aggregate=aggregate, combiner=reducer.combiner, **kwargs
    )


def fnv1a32_sql(expr: str) -> str:
    """FNV-1a 32-bit of a string expression, as a pure SQL fold —
    bit-exact with Go's ``hash/fnv.New32a()``, the hash the reference
    uses for BOTH its shuffle partitioning (storage-node/main.go:783
    ``reducerIdx = fnv1a(key) % numReducers``) and its reducer-bin
    assignment (controller/manager/manager.go:1673).

    The fold walks the UTF-8 BYTES of the string (via
    ``hex(encode(s, 'UTF-8'))``, one hex pair per byte), exactly the
    ``[]byte`` Go's ``Write`` consumes — so parity holds for the full
    Unicode token domain the M2 tokenizer emits (splitting on
    ``[^\\p{L}\\p{N}]+``), not just ASCII.  Folding ``ascii(substr())``
    codepoints would silently diverge from Go on any accented token.

    Every intermediate stays exact in BIGINT: h < 2^32, the odd FNV
    prime 16777619 < 2^25, so ``(h ^ byte) * prime`` < 2^57 — no
    overflow, no engine divergence; the ``% 2^32`` reduction after each
    step IS the Go uint32 wraparound.
    """
    hx = f"hex(encode({expr}, 'UTF-8'))"
    return (
        f"aggregate(transform(sequence(1, octet_length(encode({expr}, 'UTF-8'))), "
        f"i -> cast(conv(substr({hx}, 2*i-1, 2), 16, 10) as bigint)), "
        f"cast(2166136261 as bigint), "
        f"(h, b) -> ((h ^ b) * 16777619) % 4294967296)"
    )


def fnv_partition_counts(
    docs: DataFrame, num_reducers: int = DEFAULT_NUM_PARTITIONS
) -> DataFrame:
    """Behavioral twin of the reference's shuffle-write partitioning
    (M3): tokenize the corpus, assign every intermediate key to its
    reducer bin by ``fnv1a32(key) % num_reducers`` — the EXACT bin the
    Go implementation computes — and report per-bin load ``(reducer,
    n_tokens, n_words)``.

    This is the skew-visibility face of M3: Spark's own exchanges use
    its internal murmur-based partitioner (``partition_count`` covers
    that plane); this operator reproduces the reference's placement
    decision bit-for-bit so a migrating user can audit that their key
    distribution (and any hot reducer) carries over.  One map pass +
    one num_reducers-grain aggregate; the corpus never shuffles at
    data grain (counts partial-aggregate map-side).
    """
    from p2_mapreduce_spark.functions.text import tokens_array

    toks = docs.select(F.explode(tokens_array(F.col("text"))).alias("w"))
    binned = toks.select(
        "w",
        F.expr(f"{fnv1a32_sql('w')} % {num_reducers}").alias("reducer"),
    )
    return (
        binned.groupBy("reducer")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("w").alias("n_words"),
        )
        .select(
            F.col("reducer").cast("bigint").alias("reducer"),
            "n_tokens",
            F.col("n_words").cast("bigint").alias("n_words"),
        )
    )

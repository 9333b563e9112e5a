"""Plan-hygiene pins: these tests fail when Catalyst stops making the
scale-critical choices the operators are designed around (pushdown,
pruning, broadcast, partial aggregation, no-Python hot paths)."""

import re

import pytest

import __spark_entry__ as entry_mod
from p2_mapreduce_spark.plans import plan_report


@pytest.fixture(autouse=True)
def _clear_cache(spark):
    # plan pins must see the uncached plan: earlier tests persist()
    # fragments (e.g. heavy_hitters' token-count table) that Spark's
    # CacheManager would otherwise substitute into a matching new query
    # (InMemoryTableScan swallows the pinned Exchanges)
    spark.catalog.clearCache()
    yield


def _report(spark, sf_dir, qid):
    return plan_report(entry_mod.queries()[qid](spark, sf_dir))


def test_filter_project_pushdown_and_pruning(spark, sf_dir):
    r = _report(spark, sf_dir, "filter_project")
    assert r["pushed_filters"], "l_shipdate filter must reach the parquet scan"
    cols = r["read_schema_cols"][0]
    assert "l_comment" not in cols
    assert set(cols) <= {
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_shipdate",
    }, f"scan reads more than the projection needs: {cols}"


def test_join_broadcasts_dimension(spark, sf_dir):
    r = _report(spark, sf_dir, "join_orders_customer")
    assert r["n_broadcast_joins"] >= 1
    assert r["n_sortmerge_joins"] == 0, "fact side must not shuffle for this join"


def test_rollup_broadcasts_both_dims(spark, sf_dir):
    r = _report(spark, sf_dir, "rollup_nation")
    assert r["n_broadcast_joins"] == 2
    assert r["n_sortmerge_joins"] == 0


def test_agg_pricing_stays_jvm_side(spark, sf_dir):
    r = _report(spark, sf_dir, "agg_pricing")
    assert not r["has_python_worker"], "pricing agg must not invoke Python"
    # map-side combine (partial_sum/partial_count) + vectorized scan.
    # (WholeStageCodegen spans aren't annotated in pre-execution AQE
    # plans, so codegen isn't assertable here.)
    assert "partial_sum" in r["plan"]
    assert "Batched: true" in r["plan"]
    assert r["n_exchanges"] <= 2  # partial->final shuffle + output sort


def test_union_has_no_shuffle(spark, sf_dir):
    r = _report(spark, sf_dir, "union_parts")
    assert r["n_exchanges"] == 0, "union of filters is shuffle-free"


def test_wordcount_single_shuffle_plus_sort(spark, sf_dir):
    # spread (single-split input fan-out) + groupBy shuffle +
    # rangepartition for the global sort: exactly 3.  On a many-split
    # input spread no-ops and this would be 2.
    r = _report(spark, sf_dir, "wordcount_global")
    assert r["n_exchanges"] == 3
    assert not r["has_python_worker"]


def test_scan_prunes_to_projection(spark, sf_dir):
    r = _report(spark, sf_dir, "sorted_output")
    cols = r["read_schema_cols"][0]
    assert set(cols) == {"l_orderkey", "l_linenumber", "l_quantity"}


def test_bucketed_join_skips_shuffle(spark, sf_dir, tmp_path):
    """Bucketing both sides of a join on the join key pre-materializes the
    co-partitioning: the sort-merge join runs with ZERO Exchange nodes.
    This is the 100 TB pattern for repeatedly-joined fact tables."""
    from p2_mapreduce_spark.session import load_table

    for name in ("orders", "lineitem"):
        (
            load_table(spark, sf_dir, name)
            .write.mode("overwrite")
            .option("path", str(tmp_path / name))
            .bucketBy(8, "o_orderkey" if name == "orders" else "l_orderkey")
            .sortBy("o_orderkey" if name == "orders" else "l_orderkey")
            .saveAsTable(f"b_{name}")
        )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            spark.table("b_orders").o_orderkey
            == spark.table("b_lineitem").l_orderkey,
        )
        r = plan_report(joined)
        assert r["n_sortmerge_joins"] == 1
        assert r["n_exchanges"] == 0, "bucketed join must not shuffle"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_agg_invariant_to_salt_count(spark, sf_dir):
    """The salted two-phase aggregate must be bit-identical for any salt
    count (the decimal partial is never rounded between phases)."""
    from p2_mapreduce_spark.operators.skew import salted_user_stats
    from p2_mapreduce_spark.session import load_table

    events = load_table(spark, sf_dir, "events")
    a = sorted(map(tuple, salted_user_stats(events, n_salts=1).collect()))
    b = sorted(map(tuple, salted_user_stats(events, n_salts=32).collect()))
    assert a == b


def test_partitioned_write_prunes_on_read(spark, sf_dir, tmp_path):
    """Hive-style partitioned layout (sources/writers.write_parquet with
    partition_by): a filter on the partition column must become a
    PartitionFilter — pruned at planning, zero data files of other
    partitions touched.  This is the primary 100 TB scan-cost lever."""
    from pyspark.sql import functions as F

    from p2_mapreduce_spark.session import load_table
    from p2_mapreduce_spark.sources.writers import write_parquet

    events = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    out = str(tmp_path / "events_by_date")
    write_parquet(events, out, partition_by=["event_date"])

    read = spark.read.parquet(out)
    one_day = read.filter(F.col("event_date") == "2024-01-03")
    plan = plan_report(one_day)["plan"]
    m = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert m and "event_date" in m[0], f"no partition filter in scan: {plan[:500]}"
    n_days = events.select("event_date").distinct().count()
    assert one_day.count() * n_days < events.count() * 2  # really pruned rows


def test_shipping_priority_plan(spark, sf_dir):
    """Q3 shape: the segment dim broadcasts; only the orders-lineitem side
    shuffles; date filters reach both fact scans."""
    r = _report(spark, sf_dir, "shipping_priority")
    assert r["n_broadcast_joins"] >= 1
    assert any("l_shipdate" in " ".join(p) for p in r["pushed_filters"]) or any(
        "l_shipdate" in p for p in r["pushed_filters"]
    )


def test_local_supplier_volume_plan(spark, sf_dir):
    """Q5 shape: every dimension path (region→nation, customer, supplier)
    broadcasts; the ONLY shuffle-joined pair is lineitem⋈orders.  If a
    dim ever falls out of broadcast this fails before the cluster bill
    does."""
    r = _report(spark, sf_dir, "local_supplier_volume")
    assert r["n_broadcast_joins"] >= 4
    assert r["n_sortmerge_joins"] <= 1
    assert not r["has_python_worker"]


def test_new_aggregates_stay_jvm_side(spark, sf_dir):
    for qid in ["rank_metrics", "cumulative_revenue", "price_histogram",
                "unpivot_pricing", "edit_distance_pairs", "trailing_revenue",
                "cheapest_supplier", "revenue_share", "global_topk",
                "multiset_ops", "map_ops", "large_volume_orders",
                "bpe_pretoken_stats", "stratified_sample", "grouping_sets",
                "minmax_by", "conditional_agg", "corr_stats", "vector_norms",
                "embedding_quantize"]:
        r = _report(spark, sf_dir, qid)
        assert not r["has_python_worker"], f"{qid} reached Python"


def test_extensions_hot_paths_are_jvm_side(spark, sf_dir):
    for qid in ["dedup_minhash", "dedup_simhash", "knn_embeddings",
                "fingerprint_docs", "quality_score", "lang_id"]:
        r = _report(spark, sf_dir, qid)
        assert not r["has_python_worker"], f"{qid} reached Python"


def test_df_cap_is_broadcast_anti_join(spark, sf_dir):
    """The hot-shingle cap must cost one aggregate + a broadcast
    LEFT ANTI against the (tiny) hot-key set — NOT a shuffled join
    against the full non-hot key set."""
    from p2_mapreduce_spark.operators.dedup import shingle_pairs
    from p2_mapreduce_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = shingle_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti, BuildRight" in plan or (
        "LeftAnti" in plan and "BroadcastHashJoin" in plan
    ), plan[:2000]


@pytest.mark.parametrize(
    "builder", ["hashed_shingles", "winnow_fingerprints", "string_shingles", "top_bigrams"]
)
def test_ngram_builders_tokenize_each_document_once(spark, sf_dir, builder):
    """Catalyst does no common-subexpression elimination inside
    higher-order-function lambdas: an n-gram builder that re-references
    the tokenizer expression in its window lambda re-splits each
    document once per window (quadratic in tokens).  Every builder goes
    through ``token_ngrams``, which binds the token array once, so the
    optimized plan holds the tokenizer's ``split(`` exactly once."""
    from p2_mapreduce_spark.operators import curation, dedup, text_analysis
    from p2_mapreduce_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    df = {
        "hashed_shingles": lambda: dedup.hashed_shingles(docs),
        "winnow_fingerprints": lambda: dedup.winnow_fingerprints(docs),
        "string_shingles": lambda: curation._string_shingles(
            docs, 5, "text", "doc_id"
        ),
        "top_bigrams": lambda: text_analysis.top_bigrams(docs),
    }[builder]()
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan[:2000]


def test_exact_dedup_shuffles_digests_not_documents(spark, sf_dir):
    """exact_dedup's exchange must partition on the 32-byte md5, and the
    document text must be projected away BEFORE the shuffle — at 100 TB
    the wire carries digests, not the corpus."""
    from p2_mapreduce_spark.operators.dedup import exact_dedup
    from p2_mapreduce_spark.session import load_table

    plan = (
        exact_dedup(load_table(spark, sf_dir, "documents"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "hashpartitioning(text_md5" in plan, plan[:2000]
    # no exchange keyed on the raw text column
    assert "hashpartitioning(text#" not in plan and "hashpartitioning(text," not in plan


def test_salted_join_result_is_salt_invariant(spark, sf_dir):
    """salted_join == plain join for any salt count (salting is physical
    redistribution, never semantics), and the salt columns don't leak."""
    from p2_mapreduce_spark.session import load_table
    from p2_mapreduce_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    plain = li.join(orders, li.l_orderkey == orders.o_orderkey)
    want = sorted(map(tuple, plain.collect()))
    for n_salts in (1, 8):
        got = salted_join(
            li, orders, "l_orderkey", "o_orderkey",
            n_salts=n_salts, salt_source="l_linenumber",
        )
        assert "__salt" not in got.columns
        assert sorted(map(tuple, got.collect())) == want


def test_equidepth_histogram_no_global_sort(spark, sf_dir):
    import __spark_entry__ as entry_mod

    from p2_mapreduce_spark.plans import plan_report

    r = plan_report(entry_mod.queries()["equidepth_histogram"](spark, sf_dir))
    # the whole point: equi-depth WITHOUT ntile/global sort
    assert "Window" not in r["plan"]
    assert not r["has_python_worker"]
    # the 1-row boundary table broadcasts (nested-loop: no join keys)
    assert "BroadcastNestedLoopJoin" in r["plan"]
    rows = entry_mod.queries()["equidepth_histogram"](spark, sf_dir).collect()
    counts = [r2["n_orders"] for r2 in rows]
    # equal-population within interpolation slack
    assert max(counts) - min(counts) <= max(2, sum(counts) // 100)


def test_fk_integrity_detects_injected_orphans(spark, sf_dir):
    import pyspark.sql.functions as F

    from p2_mapreduce_spark.operators.relational import fk_integrity
    from p2_mapreduce_spark.session import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    clean = {
        r["relation"]: r["n_orphans"]
        for r in fk_integrity(li, orders, customer, part, supplier).collect()
    }
    assert set(clean.values()) == {0}  # the fixture FKs are intact
    # break one FK: drop half the suppliers (sf0.001 has 10 of them)
    broken = fk_integrity(
        li, orders, customer, part, supplier.filter(F.col("s_suppkey") < 5)
    )
    got = {r["relation"]: r["n_orphans"] for r in broken.collect()}
    assert got["lineitem->supplier"] > 0
    assert got["lineitem->orders"] == 0


#: queries whose plans legitimately reach Python: the MapReduce Python
#: API (by-value-shipped plugin fns) and the Arrow-batched kernels
#: (numpy knn, multimodal decode).  EVERYTHING else must stay JVM-side.
PYTHON_ALLOWED = {
    "partition_count",
    "udf_roundtrip",
    "knn_np",
    "media_decode",
    "media_resize",
    "media_mixed",
    "media_frames",
    # round 4: the digest stand-in under its own id and the baseline-JPEG
    # pixel codec — both Arrow-batched mapInPandas payload kernels, the
    # same by-design Python stage as media_decode/media_pixels
    "media_digest",
    "media_jpeg",
    # per-channel histogram over the real BMP decode — same Arrow kernel
    "media_histogram",
    # the registry's UDTF path IS the Python escape hatch (row-generating
    # plugins); the built-ins (explode/sequence) stay the hot path
    "udtf_sentences",
    # Arrow-batched mapInPandas media kernel (multimodal.media_phash) —
    # the payload-touching stage is Python by design, like media_decode
    "media_phash",
    # banded near-dup over media_phash fingerprints: the fingerprint
    # stage is the same Arrow kernel; the banding/self-join stays JVM
    "phash_near_dup",
    # the 2nd canonical plugin: a closure-factory Python map fn shipped
    # by value through run_mapreduce — the plugin plane IS the Python
    # escape hatch (same justification as udf_roundtrip)
    "grep_mapreduce",
    # the 3rd canonical plugin (inverted index) — same registry/plugin
    # plane justification; the DataFrame twin (postings) is the hot path
    "index_mapreduce",
    # real PNG-header codec over the same Arrow-batched mapInPandas
    # plumbing as media_decode — the payload-touching stage is Python
    # by design
    "media_headers",
    # real full PNG decode (chunk walk + CRC verify + zlib inflate +
    # five-filter reconstruction) — same payload-touching justification
    "media_png",
    # real uncompressed-BMP pixel codec (decode + box resize + re-encode)
    # over the same Arrow-batched mapInPandas plumbing — genuine pixel
    # work is Python by design in this container
    "media_pixels",
    # real demux/parse kernels (MJPEG EOI walk + per-frame JPEG decode,
    # concatenated-BMP frame walk, RIFF/WAVE PCM chunk walk) —
    # payload-touching stages, Python by design
    "video_frames",
    "video_bmpstream",
    "audio_wav",
    # round 5: 4:2:0 chroma-subsampled baseline JPEG — the interleaved
    # MCU walk + replicate upsample run in the same Arrow-batched
    # jpeg_pixel_sums kernel as media_jpeg (payload-touching by design)
    "media_jpeg420",
    # round 5: IMA-ADPCM compressed-audio decode — the stateful nibble
    # recurrence is the payload-touching Arrow kernel, like audio_wav
    "audio_adpcm",
    # round 5: grayscale progressive JPEG (SOF2 multi-scan coefficient
    # accumulation) through the same jpeg_pixel_sums Arrow kernel
    "media_jpeg_prog",
    # round 6: color progressive JPEG (AC successive-approximation
    # refinement) through the jpeg_pixel_stats Arrow kernel — the
    # sums-of-squares sibling of jpeg_pixel_sums, payload-touching by
    # design
    "media_jpeg_prog_color",
    # round 6: FLAC lossless-predictive audio decode (CRC-verified
    # frames, fixed predictors, partitioned Rice) — the stateful
    # bit-level recurrence is the payload-touching Arrow kernel, like
    # audio_adpcm
    "audio_flac",
    # round 6: progressive JPEG with restart intervals through the
    # same jpeg_pixel_sums Arrow kernel (payload-touching by design)
    "media_jpeg_prog_dri",
    # round 6: 4:2:0 chroma-subsampled progressive JPEG — same kernel
    "media_jpeg420_prog",
    # round 7: stereo FLAC with LPC subframes + decorrelation modes —
    # the flac_stereo_stats Arrow kernel, like audio_flac
    "audio_flac_lpc",
    # round 7: MPEG-1 Layer I subband decode (header/bit-allocation/
    # scalefactor/requantization half of the perceptual-audio gate) —
    # Arrow-batched payload kernel like audio_adpcm
    "audio_mp1",
    # round 7: G.711 mu-law/A-law telephony decode — same Arrow-batched
    # payload kernel justification
    "audio_g711",
    # round 7: RLE8-compressed BMP decode — same Arrow-batched payload
    # kernel justification (bmp_rle_pixel_stats)
    "media_bmp_rle",
    # round 7: GIF LZW decode — same Arrow-batched payload kernel
    # justification (gif_pixel_stats)
    "media_gif",
    # round 7: YUV4MPEG2 raw-video parse — same Arrow-batched payload
    # kernel justification (y4m_frame_stats)
    "video_y4m",
    # round 8: baseline TIFF (II/MM tag-directory walk) — same
    # Arrow-batched payload kernel justification (tiff_pixel_stats)
    "media_tiff",
    # round 8: binary PGM (netpbm ASCII-grammar header) — same
    # Arrow-batched payload kernel justification (pgm_pixel_stats)
    "media_pgm",
    # round 9: MJPEG-in-AVI — RIFF/AVI container walk + per-frame JPEG
    # decode (avi_frame_stats), same Arrow-batched payload kernel
    # justification as video_frames
    "video_avi_mjpeg",
    # round 9: multiplexed A/V AVI demux (avi_av_stats) — two-stream
    # RIFF walk + JPEG/PCM decode, same payload-kernel justification
    "avi_demux_av",
}


def test_every_query_plan_is_jvm_side_unless_allowlisted(spark, sf_dir):
    """Blanket hot-path audit: no query may silently grow a Python
    worker.  A new Arrow kernel is a deliberate decision — add it to
    PYTHON_ALLOWED with a justification, or the suite fails."""
    import __spark_entry__ as entry_mod

    from p2_mapreduce_spark.plans import plan_report

    offenders, missing = [], []
    for name, fn in sorted(entry_mod.queries().items()):
        has_py = plan_report(fn(spark, sf_dir))["has_python_worker"]
        if has_py and name not in PYTHON_ALLOWED:
            offenders.append(name)
        if not has_py and name in PYTHON_ALLOWED:
            missing.append(name)
    assert not offenders, f"unexpected Python workers: {offenders}"
    assert not missing, f"stale PYTHON_ALLOWED entries: {missing}"


#: The DECLARED Python-stage shape per allowlist family (r08 verdict
#: item 6): an allowlist entry is not a blank check — each id's plan
#: must contain exactly the Python node kinds its justification names,
#: and every MapInPandas stage must consume the payload column the
#: kernel was written for.  A refactor that swaps an Arrow kernel for a
#: row-at-a-time UDF (BatchEvalPython) — or routes it off the payload
#: column — now fails here even though the id is still allowlisted.
_PLUGIN_PLANE = {
    # run_mapreduce plugin plane: mapInPandas over (filename, contents)
    # plus the Arrow-batched shuffle-key eval — both by design
    "partition_count",
    "udf_roundtrip",
    "grep_mapreduce",
    "index_mapreduce",
}
_UDTF_PLANE = {
    # the registry's row-generating UDTF path IS the declared
    # row-Python escape hatch — the ONLY id allowed BatchEvalPython
    "udtf_sentences",
}
#: payload columns an Arrow kernel may consume, by plane
_KERNEL_PAYLOAD_COLS = ("payload", "contents", "embedding")

_PY_NODE_KINDS = (
    "MapInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandasWithState",
)


def _python_node_df(spark, kind):
    """One tiny DataFrame whose physical plan holds the exec node ``kind``."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, 1.0), (1, 2.0), (2, 3.0)], "k long, v double")

    @F.pandas_udf("double")
    def mean(v: pd.Series) -> float:
        return v.mean()

    build = {
        "MapInPandas": lambda: df.mapInPandas(lambda it: it, df.schema),
        "MapInArrow": lambda: df.mapInArrow(lambda it: it, df.schema),
        "ArrowEvalPython": lambda: df.select(
            F.pandas_udf(lambda v: v + 1, "double")("v")
        ),
        "BatchEvalPython": lambda: df.select(F.udf(lambda v: v + 1, "double")("v")),
        "FlatMapGroupsInPandas": lambda: df.groupBy("k").applyInPandas(
            lambda pdf: pdf, df.schema
        ),
        "FlatMapGroupsInArrow": lambda: df.groupBy("k").applyInArrow(
            lambda t: t, df.schema
        ),
        "FlatMapCoGroupsInPandas": lambda: df.groupBy("k")
        .cogroup(df.groupBy("k"))
        .applyInPandas(lambda a, b: a, df.schema),
        "ArrowWindowPython": lambda: df.select(
            mean("v").over(Window.partitionBy("k"))
        ),
        "ArrowAggregatePython": lambda: df.groupBy("k").agg(mean("v")),
    }
    return build[kind]()


@pytest.mark.parametrize(
    "kind",
    [
        "MapInPandas",
        "MapInArrow",
        "ArrowEvalPython",
        "BatchEvalPython",
        "FlatMapGroupsInPandas",
        "FlatMapGroupsInArrow",
        "FlatMapCoGroupsInPandas",
        "ArrowWindowPython",
        "ArrowAggregatePython",
    ],
)
def test_has_python_worker_sees_every_python_node(spark, kind):
    """``has_python_worker`` backs the "hot paths never invoke Python"
    pins, so it must flag every Python exec node Spark plans — not only
    the four the Arrow-eval and map paths use."""
    r = plan_report(_python_node_df(spark, kind))
    assert re.search(rf"^\(\d+\) {kind}\b", r["plan"], re.M), r["plan"]
    assert r["has_python_worker"]


def test_allowlisted_python_stages_have_declared_shape(spark, sf_dir):
    """Self-audit of PYTHON_ALLOWED: every allowlisted query's Python
    stages must match the declared shape — Arrow-batched MapInPandas on
    a payload/contents/embedding column for kernel ids, the plugin
    plane's MapInPandas+ArrowEval pair, BatchEvalPython only for the
    declared UDTF id.  Guards against a stale allowlist entry hiding an
    accidental row-UDF."""
    import re as _re

    import __spark_entry__ as entry_mod

    from p2_mapreduce_spark.plans import physical_plan

    qs = entry_mod.queries()
    bad = []
    for name in sorted(PYTHON_ALLOWED):
        plan = physical_plan(qs[name](spark, sf_dir))
        kinds = {k for k in _PY_NODE_KINDS if k in plan}
        mip_inputs = _re.findall(
            r"\(\d+\) MapInPandas.*?Input \[\d+\]: \[([^\]]*)\]",
            plan,
            _re.S,
        )
        if name in _UDTF_PLANE:
            ok = kinds == {"BatchEvalPython"}
        elif name in _PLUGIN_PLANE:
            ok = kinds <= {"MapInPandas", "ArrowEvalPython"} and all(
                any(c in inp for c in _KERNEL_PAYLOAD_COLS)
                for inp in mip_inputs
            ) and mip_inputs
        else:
            # Arrow payload kernels: MapInPandas ONLY, every such stage
            # fed by a declared payload column
            ok = (
                kinds == {"MapInPandas"}
                and mip_inputs
                and all(
                    any(c in inp for c in _KERNEL_PAYLOAD_COLS)
                    for inp in mip_inputs
                )
            )
        if not ok:
            bad.append((name, sorted(kinds), mip_inputs))
    assert not bad, f"allowlisted ids off their declared shape: {bad}"


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE's skew-join handling is part of the engine's 100 TB story:
    with skew thresholds lowered, a join against a 90%-one-key table
    must come back with the skewed partition SPLIT (SortMergeJoin
    marked skew=true in the adaptive final plan) — the runtime answer
    to the same problem salted_join solves statically."""
    from pyspark.sql import functions as F

    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        # 200k rows, 90% on key 0 — one shuffle partition dwarfs the rest
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.concat(F.lit("padpadpadpadpadpad-"), F.col("id")).alias("pl"),
        )
        right = spark.range(0, 20_001).select(
            F.col("id").alias("k"), F.lit("r").alias("pr")
        )
        j = left.join(right, "k")
        # execute THIS dataframe's own plan (count()/write build separate
        # trees) so the adaptive final plan materializes on it
        assert len(j.collect()) == 182_001
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """Dynamic partition pruning — the other half of the 100 TB join
    story next to AQE skew handling: a fact table partitioned on the
    join key must be pruned at RUNTIME by the dim side's filter (the
    scan carries a dynamicpruning subquery), and the result must match
    the unpartitioned join."""
    from pyspark.sql import functions as F

    from p2_mapreduce_spark.session import load_table

    orders = load_table(spark, sf_dir, "orders")
    fact_dir = str(tmp_path / "fact_part")
    orders.write.partitionBy("o_orderpriority").parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    dim = spark.createDataFrame(
        [("1-URGENT", "keep"), ("3-MEDIUM", "keep")], ["prio", "tag"]
    ).filter(F.col("tag") == "keep")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    j = fact.join(dim, fact.o_orderpriority == dim.prio)
    plan = j._jdf.queryExecution().executedPlan().toString().lower()
    assert "dynamicpruning" in plan, plan[:1500]
    want = orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "3-MEDIUM")
    ).count()
    assert j.count() == want

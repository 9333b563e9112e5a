"""SparkSession factory + testdata catalog.

Replaces the reference's controller/storage-node/DFS plane (cmd/controller,
cmd/storage-node — chunk placement, replication, heartbeats, MD5 scrubbing;
see SURVEY.md §2.1 S1-S7): on Spark all of that is the platform's job
(input splits, locality, task retry, parquet checksums).

Scale notes (100 TB design):
- AQE on: runtime partition coalescing, skew-join splitting, dynamic
  broadcast decisions survive a 1000x scale-up where static plans don't.
- ``spark.sql.shuffle.partitions`` here is sized for local[32] test runs;
  on a real cluster set it ~2-3x total executor cores or rely on AQE
  coalescing from a high initial value.
- ``maxPartitionBytes`` 128m keeps scan partitions executor-memory-sized;
  the reference's 4 MiB chunk (cmd/controller/main.go:23) is the same knob
  at teaching scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Tables the driver materializes under /root/testdata/sf*/ (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(app_name: str = "p2_mapreduce_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    local[N] for tests/bench; on a cluster the master/memory settings come
    from spark-submit and everything below still applies.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce CACHED plans too: off (the default) a persisted
        # intermediate keeps one partition per static shuffle task, so
        # every iteration over it (the graph/dedup loops) pays full
        # task-scheduling overhead on near-empty partitions — measured
        # 4.6 s → 3.3 s on bfs_trade at sf0.1.  Byte-targeted, so it is
        # the same scale-safe coalescing AQE applies everywhere else.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Joins (optimization guide §3.1/§9): let the planner pick a
        # shuffled-hash join when its per-partition size conditions are
        # met, and let AQE rewrite sort-merge -> shuffled-hash at runtime
        # when every post-shuffle partition is under the threshold —
        # SHJ skips both sort passes and spills if the build side grows.
        # Byte-bounded per PARTITION, so it scales: at 100 TB the
        # threshold still only admits partitions that fit a task's
        # execution memory (64m << task memory on any sane executor).
        # Measured on the 30-query join subset at sf0.1: 28.3 s -> 26.0 s
        # (salted_join 2.98->2.10, lm_bigram_score 3.09->2.36,
        # dominant_suppliers 2.00->1.49; two sub-0.4 s counter-moves).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m"
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spread(df: DataFrame, min_parallelism: int | None = None) -> DataFrame:
    """Spread a CPU-dense input across all cores before heavy per-row work.

    A small table often arrives as ONE scan partition (it fits in a single
    parquet split), which serializes expensive per-row compute (tokenize,
    shingle, hash) on one core.  Shuffling the raw rows first is cheap by
    comparison — measured 8× on the local dedup bench.  When the scan
    already has >= defaultParallelism partitions (the 100 TB case) this is
    a no-op: no shuffle is added at scale."""
    if df.isStreaming:
        # micro-batch partitioning is the source's business (and .rdd is
        # illegal on a streaming plan) — pass through untouched so every
        # stateless operator built on spread() runs on readStream as-is
        return df
    target = min_parallelism or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


#: DataFrame memo per (application, sf_dir, table).  A DataFrame is an
#: immutable logical plan; rebuilding it per query re-runs file listing
#: and parquet footer/schema reads (InMemoryFileIndex construction —
#: measured ~40-120 ms per call on local[32]), and one query or test
#: typically loads the same table several times.  Reusing the object
#: also guarantees plan-fragment equality, so a ``df.persist()`` by one
#: caller is picked up by every later query over the same table.  The
#: testdata dirs are immutable, so the memo can never serve stale
#: listings; it is evicted per application.
_TABLE_MEMO: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table (SURVEY.md S1: chunked scan → parquet scan).

    Column pruning + predicate pushdown happen automatically downstream;
    callers must NOT ``.cache()`` here — at 100 TB the scan must stream.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects ([PARQUET_TYPE_ILLEGAL]); we read it as raw nanos
    (legacy conf) and truncate to Spark's native microseconds with
    integer division — float division of ns-epochs (~1.7e18 > 2^53)
    silently drifts by ±1 µs.
    """
    key = (
        spark.sparkContext.applicationId,
        os.path.abspath(sf_dir),
        name,
    )
    hit = _TABLE_MEMO.get(key)
    if hit is not None:
        return hit
    for k in [k for k in _TABLE_MEMO if k[0] != key[0]]:
        del _TABLE_MEMO[k]  # dead application: drop its plan objects
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = spark.read.parquet(path)
    _TABLE_MEMO[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every catalog table and register temp views for the SQL API."""
    out = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = load_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out

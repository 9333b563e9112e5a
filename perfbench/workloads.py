"""The benchmark workloads.

Each workload calls the engine's public functions directly - the CLI verbs,
the catalog, the readers and writers and the operators - never
``__spark_entry__.queries()``, whose shared-stage memo makes one query's
time depend on the query before it.  Every iteration uses fresh catalog
keys and ends with ``spark.catalog.clearCache()``, so no iteration reuses
another's work.

Every call into a layer is one operation: it runs inside a span named
``<layer>.<call>`` and counts as attempted; it counts as failed, once, when
it raises or when any output check of it fails.
"""

from __future__ import annotations

import functools
import hashlib
import os
import sys
import traceback

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
PLUGIN = os.path.join(HERE, "plugin_wordcount.py")


class Context:
    """What a workload needs from the run: the session, the tracer, its
    inputs and ground truth, a scratch directory, and the op ledger."""

    def __init__(self, spark, tracer, inputs: str, truth: dict, work: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs
        self.truth = truth
        self.work = work
        self.attempted = 0
        #: ids (1-based attempt numbers) of the operations that failed
        self.failed_ops: set[int] = set()
        self.iteration: int | None = None
        #: per-iteration data-derived values (pair counts, recalls)
        self.values: dict[int, dict[str, float]] = {}

    @property
    def failed(self) -> int:
        return len(self.failed_ops)

    def op(self, span: str, fn):
        """Run one layer call inside its span; an exception (``SystemExit``
        included, which the CLI verbs raise to refuse a request) counts the
        operation as failed and aborts the iteration."""
        self.attempted += 1
        try:
            with self.tracer.span(span, self.iteration):
                return fn()
        except (Exception, SystemExit):
            self.failed_ops.add(self.attempted)
            traceback.print_exc(file=sys.stderr)
            raise IterationFailed(span) from None

    def verify(self, ok: bool, what: str) -> None:
        """Output check of the operation just run."""
        if not ok:
            self.failed_ops.add(self.attempted)
            print(f"perfbench: output check failed: {what}", file=sys.stderr)

    def record(self, name: str, value: float) -> None:
        self.values.setdefault(self.iteration, {})[name] = value


def du(path: str) -> int:
    """Bytes of the regular files under ``path`` (a file or a directory)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class IterationFailed(Exception):
    """An operation of the iteration raised; it is already counted."""


def trace_calls(tracer, owner, attr: str, span) -> None:
    """Run every call of ``owner.attr`` inside a span, so that the layers the
    CLI verbs go through get times of their own.  ``span`` is the span's
    name, or a function of the enclosing span's name that returns it.  A
    call made right inside a span of the same name is that span."""
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        parent = tracer.current_name()
        name = span(parent) if callable(span) else span
        if name == parent:
            return fn(*args, **kwargs)
        with tracer.span(name):
            return fn(*args, **kwargs)

    setattr(owner, attr, traced)


class Workload:
    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx

    def register(self) -> None:
        """Set-up: make the inputs known to the session."""

    def iteration(self, it: int) -> None:
        raise NotImplementedError

    def finish(self) -> None:
        """Checks that run once, after the timed iterations."""


class CliWarehouse(Workload):
    """The reference's own traffic through the CLI verbs - upload a corpus,
    word-count it on the registry's columnar path and with a user-shipped
    plugin, download both results - beside warehouse ETL and interactive
    SQL: store and load the fact table through the catalog, exact-decimal
    aggregates and joins, sessionize and tumbling windows over events, a
    partitioned parquet write read back, then short ``cli sql`` queries by
    one client.  Every warehouse answer must equal DuckDB's over the same
    files."""

    name = "cli_warehouse"

    def register(self) -> None:
        from p2_mapreduce_spark.catalog import DatasetCatalog
        from p2_mapreduce_spark.session import load_table
        from p2_mapreduce_spark.sources import writers

        ctx = self.ctx
        self.root = os.path.join(ctx.work, "dfs")
        self.corpus = os.path.join(ctx.inputs, "corpus.txt")
        os.makedirs(self.root, exist_ok=True)
        self.tables = {t: load_table(ctx.spark, ctx.inputs, t) for t in gen.WAREHOUSE_TABLES}
        # cli sql registers every catalog dataset as a view: its own,
        # empty root keeps the per-query cost from growing with iterations
        self.sql_root = os.path.join(ctx.work, "sql-dfs")
        os.makedirs(self.sql_root, exist_ok=True)
        # Spark is lazy: storing a job's output is what runs the job, so
        # that store is the mapreduce layer's time, not the catalog's
        trace_calls(ctx.tracer, DatasetCatalog, "store", lambda parent: (
            "mapreduce.job" if parent.startswith("cli.mapreduce") else "catalog.store"))
        trace_calls(ctx.tracer, DatasetCatalog, "load", "catalog.load")
        trace_calls(ctx.tracer, writers, "write_tsv", "sources.write_tsv")

    def iteration(self, it: int) -> None:
        self.word_count(it)
        self.warehouse(it)
        stored = [os.path.join(self.root, f"{k}_{it}") for k in ("corpus", "lineitem")]
        read = [self.corpus, os.path.join(self.ctx.inputs, "lineitem.parquet")]
        self.ctx.record("catalog.bytes_per_input_byte",
                        sum(map(du, stored)) / sum(map(du, read)))

    def word_count(self, it: int) -> None:
        from p2_mapreduce_spark import cli

        ctx, spark, root = self.ctx, self.ctx.spark, self.root
        src, col, plug = f"corpus_{it}", f"wc_columnar_{it}", f"wc_plugin_{it}"
        ctx.op("cli.upload", lambda: cli.cmd_upload(spark, root, self.corpus, src))
        ctx.op("cli.mapreduce_columnar", lambda: cli.cmd_mapreduce(
            spark, root, src, col, "wordcount", "wordcount"))
        ctx.op("cli.upload_plugin", lambda: cli.cmd_upload_plugin(spark, root, PLUGIN, "pwc"))
        ctx.op("cli.mapreduce_plugin", lambda: cli.cmd_mapreduce(
            spark, root, src, plug, "pwc", "pwc"))
        got, truth = {}, ctx.truth
        for key in (col, plug):
            path = os.path.join(ctx.work, f"{key}.tsv")
            ctx.op("cli.download", lambda k=key, p=path: cli.cmd_download(spark, root, k, p))
            with open(path, "rb") as f:
                got[key] = f.read()
            total = sum(int(line.split(b"\t")[1]) for line in got[key].splitlines())
            ctx.verify(total == truth["token_total"],
                       f"{key}: token total {total} != {truth['token_total']}")
            ctx.verify(hashlib.sha256(got[key]).hexdigest() == truth["expected_tsv_sha256"],
                       f"{key}: word counts differ from the generator's")
        ctx.verify(got[col] == got[plug], "columnar and plugin downloads differ")

    def check(self, name: str, rows) -> None:
        want = self.ctx.truth["answers"][name]
        n, digest = gen.digest_rows(rows)
        self.ctx.verify((n, digest) == (want["rows"], want["sha256"]),
                        f"{name}: {n} rows differ from DuckDB's {want['rows']}")

    def warehouse(self, it: int) -> None:
        from pyspark.sql import functions as F

        from p2_mapreduce_spark import cli
        from p2_mapreduce_spark.catalog import DatasetCatalog
        from p2_mapreduce_spark.operators import relational, tpch
        from p2_mapreduce_spark.sources import writers
        from p2_mapreduce_spark.streaming import events

        ctx, spark, t = self.ctx, self.ctx.spark, self.tables
        cat = DatasetCatalog(spark, self.root)
        ctx.op("catalog.store", lambda: cat.store(t["lineitem"], f"lineitem_{it}"))
        li = ctx.op("catalog.load", lambda: cat.load(f"lineitem_{it}"))
        od = t["orders"]

        self.check("agg_pricing", ctx.op(
            "relational.agg", lambda: relational.agg_pricing(li).collect()))
        self.check("join_orders_customer", ctx.op(
            "relational.join",
            lambda: relational.join_orders_customer(od, t["customer"]).collect()))
        self.check("volume_shipping", ctx.op(
            "tpch.volume_shipping", lambda: tpch.volume_shipping(
                li, od, t["customer"], t["supplier"], t["nation"]).collect()))
        sessions = events.sessionize(t["events"])
        self.check("sessionize", ctx.op("streaming.sessionize", sessions.collect))
        self.check("tumbling", ctx.op(
            "streaming.tumbling", lambda: events.tumbling_window_agg(t["events"]).collect()))

        out = os.path.join(ctx.work, f"sessions_{it}")
        ctx.op("sources.write_parquet", lambda: writers.write_parquet(
            sessions.withColumn("day", F.to_date("session_start")), out, partition_by=["day"]))
        self.check("sessionize", ctx.op("sources.read_parquet", lambda: spark.read.parquet(
            out).select(*sessions.columns).collect()))

        for query, want in zip(gen.SQL_QUERIES, ctx.truth["sql_pages"]):
            page = ctx.op("cli.sql", lambda q=query: cli.cmd_sql(
                spark, self.sql_root, q, tables_dir=ctx.inputs))
            ctx.verify(page == want, f"cli sql page differs from DuckDB's: {query}")

    def finish(self) -> None:
        """The reference's golden pair through the CLI: word count of
        ``smallt.txt`` must reproduce ``smallt_out.txt`` byte for byte."""
        from p2_mapreduce_spark import cli

        ctx, spark = self.ctx, self.ctx.spark
        fixtures = os.path.join(os.path.dirname(HERE), "tests", "fixtures")
        root, out = os.path.join(ctx.work, "golden"), os.path.join(ctx.work, "golden_out.txt")
        ctx.op("cli.upload", lambda: cli.cmd_upload(
            spark, root, os.path.join(fixtures, "smallt.txt"), "smallt"))
        ctx.op("cli.mapreduce_columnar", lambda: cli.cmd_mapreduce(
            spark, root, "smallt", "smallt_out", "wordcount", "wordcount"))
        ctx.op("cli.download", lambda: cli.cmd_download(spark, root, "smallt_out", out))
        with open(out, "rb") as f, open(os.path.join(fixtures, "smallt_out.txt"), "rb") as g:
            ctx.verify(f.read() == g.read(), "golden smallt word count differs")


def sequential_cosines(vectors, n_queries: int):
    """Cosines of the first ``n_queries`` vectors against all, computed as
    the engine does (a sequential fold of double products, then
    ``dot / (|q| * |n|)``), so they match its values bit for bit."""
    import numpy as np

    v = np.asarray(vectors, dtype=np.float64)
    q = v[:n_queries]
    dot = np.zeros((n_queries, len(v)))
    qq = np.zeros(n_queries)
    nn = np.zeros(len(v))
    for d in range(v.shape[1]):
        dot = dot + q[:, d:d + 1] * v[:, d]
        qq = qq + q[:, d] * q[:, d]
        nn = nn + v[:, d] * v[:, d]
    return dot / (np.sqrt(qq)[:, None] * np.sqrt(nn)[None, :])


class CorpusDedup(Workload):
    """LLM-data curation: exact and MinHash-LSH near-duplicate detection over
    a corpus with planted copies, then exact and LSH nearest-neighbour search
    over embeddings with planted neighbours."""

    name = "corpus_dedup"

    def register(self) -> None:
        import pyarrow.parquet as pq

        spark, inputs = self.ctx.spark, self.ctx.inputs
        self.docs = spark.read.parquet(os.path.join(inputs, "documents.parquet"))
        self.emb = spark.read.parquet(os.path.join(inputs, "embeddings.parquet"))
        table = pq.read_table(os.path.join(inputs, "embeddings.parquet"))
        assert table.column("vec_id").to_pylist() == list(range(table.num_rows))
        q, k = self.ctx.truth["queries"], self.ctx.truth["knn_k"]
        self.cos = sequential_cosines(table.column("embedding").to_pylist(), q)
        #: the exact top-k of every query, (n_id, cosine) in rank order
        self.best = {}
        for qid, row in enumerate(self.cos):
            order = sorted((n for n in range(len(row)) if n != qid), key=lambda n: (-row[n], n))
            self.best[qid] = [(n, float(row[n])) for n in order[:k]]

    def iteration(self, it: int) -> None:
        from p2_mapreduce_spark.operators import dedup, similarity

        ctx, truth = self.ctx, self.ctx.truth
        exact = ctx.op("dedup.exact", lambda: dedup.exact_dedup(self.docs)
                       .filter("n_copies > 1").collect())
        got_groups = sorted((r["doc_id"], r["n_copies"]) for r in exact)
        want_groups = sorted((g[0], len(g)) for g in truth["exact_groups"])
        ctx.verify(got_groups == want_groups, "planted exact copies not all found")

        thr = truth["threshold"]

        def minhash():
            with ctx.tracer.span("dedup.minhash_build"):
                df = dedup.minhash_lsh_pairs(self.docs, threshold=thr)
            return df.collect()

        pairs = ctx.op("dedup.minhash", minhash)
        found = {(r["doc_a"], r["doc_b"]) for r in pairs}
        planted = {(a, b) for a, b, j in truth["pairs"] if j >= thr}
        recall = len(found & planted) / len(planted)
        ctx.record("dedup.pairs", len(found))
        ctx.record("dedup.planted_recall", recall)
        ctx.verify(recall == 1.0, f"planted near-duplicate recall {recall}")
        ctx.verify(found == planted, f"{len(found - planted)} unplanted pairs found")

        q, k = truth["queries"], truth["knn_k"]
        exact_knn = ctx.op("similarity.knn_exact", lambda: similarity.knn_bruteforce(
            self.emb, n_queries=q, k=k).collect())
        ranked = self.ranked(exact_knn)
        for qid in range(q):
            ctx.verify(ranked.get(qid) == self.best[qid], f"query {qid}: exact top-{k} differs")
        for qid, mine in truth["planted_neighbours"].items():
            top = [n for n, _ in ranked.get(int(qid), [])[:len(mine)]]
            ctx.verify(sorted(top) == mine,
                       f"query {qid}: planted neighbours are not the top {len(mine)}")

        lsh = ctx.op("similarity.knn_lsh", lambda: similarity.knn_lsh(
            self.emb, n_queries=q, k=k).collect())
        lsh_ranked = self.ranked(lsh)
        for qid, got in lsh_ranked.items():
            ctx.verify(
                0 <= qid < q and len(got) <= k
                and all(cos == self.cos[qid][n] and n != qid for n, cos in got)
                and all(cos <= self.best[qid][r][1] for r, (_, cos) in enumerate(got))
                and got == sorted(got, key=lambda nc: (-nc[1], nc[0])),
                f"query {qid}: LSH neighbours are not ranked by their exact cosines",
            )
        exact_set = {(qid, n) for qid, got in ranked.items() for n, _ in got}
        lsh_set = {(qid, n) for qid, got in lsh_ranked.items() for n, _ in got}
        ctx.verify(bool(exact_set), "exact kNN returned nothing")
        ctx.record("similarity.lsh_recall_at_k",
                   len(exact_set & lsh_set) / len(exact_set) if exact_set else 0.0)

    def ranked(self, rows) -> dict[int, list[tuple[int, float]]]:
        """``{q_id: [(n_id, cosine), ...]}`` in rank order; ranks must run
        1, 2, 3, ... per query."""
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r["q_id"], []).append((r["rnk"], r["n_id"], r["cosine"]))
        out = {}
        for qid, got in by_q.items():
            got.sort()
            self.ctx.verify([r for r, _, _ in got] == list(range(1, len(got) + 1)),
                            f"query {qid}: ranks are not 1..{len(got)}")
            out[qid] = [(n, c) for _, n, c in got]
        return out


WORKLOADS = {w.name: w for w in (CliWarehouse, CorpusDedup)}


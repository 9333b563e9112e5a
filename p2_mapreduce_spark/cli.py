"""Client CLI — the reference client's command surface on the Spark engine.

Commands mirror ``cmd/client/main.go`` one-for-one:

=============================  ============================================
reference command              this CLI
=============================  ============================================
``upload <file> <key>``        text-sniff + ingest to the catalog (S2/S6)
``download <key> <file>``      export a dataset to a local TSV file (S1)
``list [prefix]``              prefix listing (S5)
``delete <key>``               remove a dataset (S4)
``mapreduce <in> <out>         run a registered map/reduce pair
  <map_id> <reduce_id>         (M1-M10 + M14); ``--reducers`` and
  [--reducers N]               ``--aggregate`` mirror the reference flags
  [--no-aggregate]``           (client main.go:60-63, 122-123)
``upload_plugin <file> <id>``  ship user map/reduce code (M14: the ``.so``
                               upload, client main.go:428-461) — a Python
                               file defining ``<id>_map``/``<id>_reduce``,
                               stored as a blob and lazily loaded at job
                               time (the node's download+symbol-lookup)
``node``                       cluster status (executor memory ledger —
                               the reference's storage-node listing)
``funcs``                      list registered plugin pairs (M14 registry)
``sql "<query>"``              extension verb: ad-hoc Catalyst SQL over the
                               star-schema tables (``--tables-dir``) and
                               every catalog dataset (no reference analog —
                               the reference answers one-off questions by
                               writing a plugin)
=============================  ============================================

A user of the reference can run the same workflows verbatim:
``python -m p2_mapreduce_spark.cli upload smallt.txt smallt &&
python -m p2_mapreduce_spark.cli mapreduce smallt out wordcount wordcount``.
"""

from __future__ import annotations

import argparse
import glob
import os
import re
import shutil
import sys
import tempfile

from pyspark.sql import SparkSession

DEFAULT_ROOT = os.environ.get("SPARK_GRAFT_WAREHOUSE", "spark-warehouse/dfs")


def _catalog(spark: SparkSession, root: str):
    from p2_mapreduce_spark.catalog import DatasetCatalog

    return DatasetCatalog(spark, root)


def cmd_upload(spark, root: str, local_path: str, key: str) -> str:
    """Ingest path (reference §3.2): sniff text-ness client-side, then one
    line-record dataset per key.  Non-text inputs are refused exactly like
    the reference MapReduce gate (manager.go:748-752)."""
    from p2_mapreduce_spark.sources.readers import read_text_records

    df = read_text_records(spark, local_path, require_text=True)
    _catalog(spark, root).store(df, key)
    return f"stored {key}"


def cmd_download(spark, root: str, key: str, local_path: str) -> str:
    """Export path (reference §3.3) to ONE local file.  The dataset is
    written as TSV by the executors into a temp dir (distributed, same as
    any sink), then the single part file is moved to the target — the
    analog of the client reassembling chunks locally."""
    from p2_mapreduce_spark.sources.writers import write_tsv

    df = _catalog(spark, root).load(key)
    tmp = tempfile.mkdtemp(prefix="p2dl_")
    try:
        write_tsv(df, f"{tmp}/out", single_file=True)
        part = glob.glob(f"{tmp}/out/part-*")[0]
        shutil.move(part, local_path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return f"downloaded {key} -> {local_path}"


def cmd_list(spark, root: str, prefix: str = "") -> str:
    return "\n".join(_catalog(spark, root).list(prefix))


def cmd_delete(spark, root: str, key: str) -> str:
    removed = _catalog(spark, root).delete(key)
    return f"deleted {key}" if removed else f"{key} not found"


#: catalog key prefix of uploaded plugin sources (blobs, not datasets)
PLUGIN_PREFIX = "_plugins/"


def _plugin_blob_key(plugin_id: str) -> str:
    return f"{PLUGIN_PREFIX}{plugin_id}.py"


def cmd_upload_plugin(spark, root: str, local_path: str, plugin_id: str) -> str:
    """Plugin upload (reference M14: client ships the compiled ``.so`` to
    the controller's registry, cmd/client/main.go:428-461).  Here the
    plugin is a Python source file defining ``<plugin_id>_map(filename,
    contents)`` and/or ``<plugin_id>_reduce(key, values)``; it is
    validated by executing it once locally (the symbol lookup the storage
    node does at plugin.Open time, storage-node/main.go:698-730), then
    stored as a blob in the same namespace as data — exactly the
    reference's layout."""
    with open(local_path, "rb") as f:
        src = f.read()
    ns = _exec_plugin(src, local_path)
    if f"{plugin_id}_map" not in ns and f"{plugin_id}_reduce" not in ns:
        raise SystemExit(
            f"plugin {local_path} defines neither {plugin_id}_map nor "
            f"{plugin_id}_reduce (symbol lookup failed, cf. storage-node/main.go:698-730)"
        )
    _catalog(spark, root).store_blob(_plugin_blob_key(plugin_id), src)
    return f"plugin {plugin_id} registered"


def _exec_plugin(src: bytes, origin: str) -> dict:
    ns: dict = {}
    code = compile(src, origin, "exec")
    exec(code, ns)  # user's own code on the user's own machine — the
    # same trust model as the reference dlopen'ing a user .so
    return ns


def _resolve_plugin_pair(spark, root: str, map_id: str, reduce_id: str, reg) -> None:
    """Lazily pull uploaded plugins into the registry (the storage node's
    download+cache+lookup path, storage-node/main.go:603-730)."""
    cat = _catalog(spark, root)
    for pid, kind in ((map_id, "map"), (reduce_id, "reduce")):
        have = pid in reg.list()[kind]
        if have:
            continue
        key = _plugin_blob_key(pid)
        if not cat.exists(key):
            continue  # registry will raise its own KeyError with context
        ns = _exec_plugin(cat.load_blob(key), key)
        fn = ns.get(f"{pid}_{kind}")
        if fn is not None:
            (reg.register_map if kind == "map" else reg.register_reduce)(pid, fn)


def cmd_mapreduce(
    spark,
    root: str,
    in_key: str,
    out_key: str,
    map_id: str,
    reduce_id: str,
    reducers: int = 4,
    aggregate: bool = True,
) -> str:
    """The query path (reference §3.1): validate input exists and output is
    unused (manager.go:742-762), resolve the plugin pair from the registry
    (M14) — including lazily-fetched uploaded plugins — run the dataflow,
    store the result under the output key."""
    from p2_mapreduce_spark.mapreduce import run_mapreduce_by_name
    from p2_mapreduce_spark.registry import default_registry

    cat = _catalog(spark, root)
    if cat.exists(out_key):
        raise SystemExit(f"output key {out_key!r} already exists (manager.go:755-762)")
    df = cat.load(in_key)
    for col in ("filename", "contents"):
        if col not in df.columns:
            raise SystemExit(
                f"dataset {in_key!r} is not a MapReduce input "
                f"(needs filename/contents line records; has {df.columns})"
            )
    reg = default_registry()
    _resolve_plugin_pair(spark, root, map_id, reduce_id, reg)
    out = run_mapreduce_by_name(
        df, map_id, reduce_id, num_partitions=reducers, aggregate=aggregate,
        registry=reg,
    )
    cat.store(out, out_key)
    return f"mapreduce {in_key} -> {out_key} done"


def cmd_node(spark, root: str) -> str:
    """Cluster status (reference `node` command: storage-node listing with
    free space, manager.go heartbeat ledger).  The Spark analogs: executor
    memory ledger + parallelism."""
    sc = spark.sparkContext
    mem = sc._jsc.sc().getExecutorMemoryStatus()  # type: ignore[attr-defined]
    it = mem.iterator()
    lines = []
    while it.hasNext():
        e = it.next()
        total, free = e._2()._1(), e._2()._2()
        lines.append(f"{e._1()}  total={total} free={free}")
    lines.append(f"defaultParallelism={sc.defaultParallelism}")
    return "\n".join(lines)


def cmd_sql(
    spark, root: str, query: str, tables_dir: str | None = None, limit: int = 100
) -> str:
    """Ad-hoc SQL front door (extension verb — the reference has no query
    language; this is the Spark-native replacement for writing a plugin
    for every one-off question).

    Registers the star-schema parquet tables from ``tables_dir`` (if
    given) and every catalog text dataset as temp views, runs the query
    through ``spark.sql`` (full Catalyst: pushdown, broadcast, AQE), and
    prints a TSV page of at most ``limit`` rows — the *print* is
    driver-side paged, the query itself is unrestricted."""
    if tables_dir:
        from p2_mapreduce_spark.session import TABLES, load_table

        for t in TABLES:
            if os.path.exists(os.path.join(tables_dir, f"{t}.parquet")):
                load_table(spark, tables_dir, t).createOrReplaceTempView(t)
    cat = _catalog(spark, root)
    for key in cat.list():
        if key.startswith(PLUGIN_PREFIX):
            continue
        safe = re.sub(r"[^A-Za-z0-9_]", "_", key)
        cat.load(key).createOrReplaceTempView(safe)
    df = spark.sql(query)
    rows = df.limit(limit).collect()
    header = "\t".join(df.columns)
    body = "\n".join("\t".join(str(v) for v in r) for r in rows)
    return f"{header}\n{body}" if body else header


def cmd_funcs(spark, root: str) -> str:
    from p2_mapreduce_spark.registry import default_registry

    reg = default_registry().list()
    return f"map: {', '.join(reg['map'])}\nreduce: {', '.join(reg['reduce'])}"


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="p2_mapreduce_spark", description=__doc__)
    p.add_argument("--root", default=DEFAULT_ROOT, help="catalog root URI")
    sub = p.add_subparsers(dest="cmd", required=True)
    up = sub.add_parser("upload")
    up.add_argument("local_path")
    up.add_argument("key")
    dl = sub.add_parser("download")
    dl.add_argument("key")
    dl.add_argument("local_path")
    ls = sub.add_parser("list")
    ls.add_argument("prefix", nargs="?", default="")
    rm = sub.add_parser("delete")
    rm.add_argument("key")
    mr = sub.add_parser("mapreduce")
    mr.add_argument("in_key")
    mr.add_argument("out_key")
    mr.add_argument("map_id")
    mr.add_argument("reduce_id")
    mr.add_argument("--reducers", type=int, default=4)
    mr.add_argument("--no-aggregate", dest="aggregate", action="store_false")
    up_pl = sub.add_parser("upload_plugin")
    up_pl.add_argument("local_path")
    up_pl.add_argument("plugin_id")
    sub.add_parser("node")
    sub.add_parser("funcs")
    sq = sub.add_parser("sql")
    sq.add_argument("query")
    sq.add_argument("--tables-dir", default=None,
                    help="register star-schema parquet tables from this dir")
    sq.add_argument("--limit", type=int, default=100)
    return p


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> str:
    args = _build_parser().parse_args(argv)
    if spark is None:
        from p2_mapreduce_spark.session import get_spark

        spark = get_spark("p2-cli")
    root = args.root
    if args.cmd == "upload":
        out = cmd_upload(spark, root, args.local_path, args.key)
    elif args.cmd == "download":
        out = cmd_download(spark, root, args.key, args.local_path)
    elif args.cmd == "list":
        out = cmd_list(spark, root, args.prefix)
    elif args.cmd == "delete":
        out = cmd_delete(spark, root, args.key)
    elif args.cmd == "mapreduce":
        out = cmd_mapreduce(
            spark, root, args.in_key, args.out_key, args.map_id, args.reduce_id,
            reducers=args.reducers, aggregate=args.aggregate,
        )
    elif args.cmd == "upload_plugin":
        out = cmd_upload_plugin(spark, root, args.local_path, args.plugin_id)
    elif args.cmd == "node":
        out = cmd_node(spark, root)
    elif args.cmd == "sql":
        out = cmd_sql(spark, root, args.query,
                      tables_dir=args.tables_dir, limit=args.limit)
    else:
        out = cmd_funcs(spark, root)
    print(out)
    return out


if __name__ == "__main__":
    main(sys.argv[1:])

"""Benchmark launcher: one workload, one seed, one run.

    python3 perfbench/run.py --workload cli_warehouse --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  The run generates (or reuses, after a
checksum check) the seeded inputs, starts one Spark session on
``local[nproc]``, runs the workload's batch - a fixed number of
iterations, the first of them cold - and more iterations until
``--seconds`` have passed since the first began (when traced, at least a
cold one and three warm ones), checks every output, runs the workload's
closing checks (for ``cli_warehouse``, the reference's golden word count
through the CLI), and prints as its last line one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced warm iterations and reports the per-layer metrics, the
traced-minus-untraced overhead among them.  Spans are written to
``.perfbench/spans-<workload>-<seed>-trace<n>.json`` when the run ends.

Everything the run writes stays under ``.perfbench/`` in the checkout.  It
exits non-zero, printing no result, when the engine is not beside it.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

T_FIRST_LINE = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURES = os.path.join(ROOT, "tests", "fixtures")

sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

#: iterations that ``batch_s`` times, the first of them cold
BATCH = 2

#: end-to-end metrics, printed with --trace 0
END_TO_END = {
    "setup_s": "s",
    "batch_s": "s",
}

#: span name -> per-layer time metric; spans of one name add up within
#: an iteration, and the metric is the median over traced iterations
SPAN_TIMES = {
    "cli.upload": "cli.upload_s",
    "cli.upload_plugin": "cli.upload_s",
    "cli.mapreduce_columnar": "cli.mapreduce_columnar_s",
    "cli.mapreduce_plugin": "cli.mapreduce_plugin_s",
    "cli.download": "cli.download_s",
    "catalog.store": "catalog.store_s",
    "catalog.load": "catalog.load_s",
    "sources.write_tsv": "sources.write_tsv_s",
    "sources.write_parquet": "sources.write_parquet_s",
    "sources.read_parquet": "sources.read_parquet_s",
    "dedup.exact": "dedup.exact_s",
    "dedup.minhash": "dedup.minhash_s",
    "dedup.minhash_build": "dedup.minhash_build_s",
    "similarity.knn_exact": "similarity.knn_exact_s",
    "similarity.knn_lsh": "similarity.knn_lsh_s",
    "relational.agg": "relational.agg_s",
    "relational.join": "relational.join_s",
    "tpch.volume_shipping": "tpch.volume_shipping_s",
    "streaming.sessionize": "streaming.sessionize_s",
    "streaming.tumbling": "streaming.tumbling_s",
}

#: layers whose self time is reported; ``bench`` is the iteration span's
#: own time - output checks and the harness
SELF_LAYERS = (
    "cli", "catalog", "sources", "mapreduce", "dedup", "similarity", "relational",
    "tpch", "streaming", "bench",
)

#: data-derived per-layer values the workloads record
RECORDED = (
    "catalog.bytes_per_input_byte", "dedup.pairs", "dedup.planted_recall",
    "similarity.lsh_recall_at_k",
)


def _units(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("tasks", "jobs", ".pairs")):
        return "count"
    return "ratio"


def per_layer_names() -> list[str]:
    return [
        "session.start_s", "session.first_job_s", "session.job_s",
        "session.peak_rss_mb", "session.task_s",
        "session.cpu_util", "session.gc_s", "session.shuffle_write_mb",
        "session.spill_mb", "session.tasks", "session.jobs", "session.failed_tasks",
        *dict.fromkeys(SPAN_TIMES.values()),
        "sources.input_mb", "sources.output_mb",
        "mapreduce.shuffle_write_mb", "mapreduce.shuffle_records_per_token",
        "mapreduce.columnar_shuffle_write_mb",
        "mapreduce.columnar_shuffle_records_per_token",
        "dedup.shuffle_write_mb", "dedup.spill_mb", *RECORDED,
        "cli.sql_ms", "cli.sql_p90_ms", "cli.sql_tasks", "cli.sql_jobs",
        *(f"{layer}.self_s" for layer in SELF_LAYERS),
        "trace.overhead_job_s", "trace.overhead_query_ms",
    ]


# --- environment ------------------------------------------------------------


def process_age() -> float:
    """Seconds since this process started (from /proc, 1/CLK_TCK grain)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_environment(work: str) -> dict:
    """Pin the engine's environment from here, not from the program:
    ``local[nproc]``, a driver heap well under the machine's RAM, and every
    scratch directory inside the run's own directory."""
    nproc = len(os.sched_getaffinity(0))
    ram = mem_total_bytes()
    heap_gb = max(1, min(4, ram // (4 << 30)))
    dirs = {k: os.path.join(work, k) for k in ("spark-local", "tmp")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "TMPDIR": dirs["tmp"],
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        # keep the JVM's temp files (and its perf-data file) in the checkout
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
    })
    time.tzset()
    import tempfile

    tempfile.tempdir = None
    return {"nproc": nproc, "ram_gb": round(ram / (1 << 30), 1), "driver_mem": f"{heap_gb}g"}


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except FileNotFoundError:
        pass
    return 0.0


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(entry))
            except (FileNotFoundError, ProcessLookupError):
                continue
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


# --- session ------------------------------------------------------------------


def start_session(app: str):
    from p2_mapreduce_spark.session import get_spark

    spark = get_spark(app)
    spark.range(4).count()  # the first, trivial job
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM and wait for it and for the Python
    workers it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)


def versions(spark) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "java": jvm.java.lang.System.getProperty("java.version"),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


# --- statistics -----------------------------------------------------------------


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


# --- the run ----------------------------------------------------------------------


def ensure_inputs(workload: str, seed: int) -> str:
    import gen

    out = gen.cache_dir(workload, seed)
    if not gen.verified(out):
        os.makedirs(os.path.dirname(out), exist_ok=True)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"),
             "--workload", workload, "--seed", str(seed), "--out", out],
            check=True,
        )
        if not gen.verified(out):
            raise RuntimeError(f"generated inputs in {out} fail their checksums")
    return out


def run(args) -> dict:
    from spans import Tracer
    from workloads import WORKLOADS, Context, IterationFailed

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(work)

    t_gen = time.perf_counter()
    inputs = ensure_inputs(args.workload, args.seed)
    gen_s = time.perf_counter() - t_gen
    with open(os.path.join(inputs, "truth.json")) as f:
        truth = json.load(f)

    # setup: process start to a session that ran its first job with the
    # inputs registered; input generation is not part of it
    age_at_first_line = process_age() - (time.perf_counter() - T_FIRST_LINE)
    tracer = Tracer()
    spark = start_session(f"perfbench-{args.workload}")
    ctx = Context(spark, tracer, inputs, truth, work)
    workload = WORKLOADS[args.workload](ctx)
    workload.register()
    setup_s = age_at_first_line + (time.perf_counter() - T_FIRST_LINE) - gen_s
    tracer.attach(spark)
    env.update(versions(spark))

    iterations: list[dict] = []

    def one(it: int, traced: bool) -> None:
        tracer.counters = traced
        ctx.iteration = it
        with tracer.span("bench.iteration", it) as root:
            try:
                workload.iteration(it)
            except IterationFailed:
                pass
            finally:
                spark.catalog.clearCache()
        iterations.append({"it": it, "traced": traced, "seconds": root.seconds})
        tracer.counters = False

    # the batch is the first BATCH iterations, the first of them cold (the
    # JIT has not warmed up yet); more follow until --seconds have
    # passed.  A traced run makes at least cold, then U T U: the first
    # untraced one finishes warming up, and the traced one is compared with
    # the untraced one after it
    least = 4 if args.trace else BATCH
    t_window = time.perf_counter()
    it = 0
    while it < least or time.perf_counter() - t_window < args.seconds:
        one(it, traced=bool(args.trace) and it > 0 and it % 2 == 0)
        it += 1

    ctx.iteration = None
    try:
        workload.finish()
    except IterationFailed:
        pass

    java_pids = [p for p in _descendants(os.getpid()) if _comm(p) == "java"]
    peak_rss_mb = _vm_hwm_mb(os.getpid()) + sum(_vm_hwm_mb(p) for p in java_pids)
    stop_session(spark)

    spans_path = os.path.join(
        ROOT, ".perfbench", f"spans-{args.workload}-{args.seed}-trace{args.trace}.json")
    with open(spans_path, "w") as f:
        json.dump({"env": env, "iterations": iterations, "spans": tracer.to_records()}, f)
    shutil.rmtree(work, ignore_errors=True)

    return {
        "ctx": ctx, "tracer": tracer, "iterations": iterations, "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb, "env": env, "truth": truth,
    }


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except FileNotFoundError:
        return ""


def end_to_end(res: dict) -> dict:
    batch = res["iterations"][:BATCH]
    return {
        "setup_s": res["setup_s"],
        "batch_s": sum(r["seconds"] for r in batch),
    }


def job_times(res: dict) -> tuple[float, float]:
    """The cold first iteration, and the median untraced warm one."""
    its = res["iterations"]
    return its[0]["seconds"], median(r["seconds"] for r in its[1:] if not r["traced"])


def per_layer(res: dict) -> dict:
    tracer, ctx, env = res["tracer"], res["ctx"], res["env"]
    spans = tracer.spans
    traced = [r["it"] for r in res["iterations"] if r["traced"]]
    nproc = env["nproc"]
    out = dict.fromkeys(per_layer_names(), 0.0)
    out["session.start_s"] = res["setup_s"]
    out["session.first_job_s"], out["session.job_s"] = job_times(res)
    out["session.peak_rss_mb"] = res["peak_rss_mb"]
    roots = {s.iteration: i for i, s in enumerate(spans)
             if s.name == "bench.iteration" and s.iteration in traced}

    def per_it(fn) -> float:
        return median(fn(it) for it in traced)

    def under(it: int, pred) -> list[int]:
        return [i for i, s in enumerate(spans) if s.iteration == it and pred(s)]

    def root_counter(key: str):
        return lambda it: spans[roots[it]].counters.get(key, 0)

    out["session.task_s"] = per_it(root_counter("task_ms")) / 1000
    out["session.cpu_util"] = per_it(
        lambda it: spans[roots[it]].counters["task_ms"] / 1000
        / (spans[roots[it]].seconds * nproc))
    out["session.gc_s"] = per_it(root_counter("gc_ms")) / 1000
    out["session.shuffle_write_mb"] = per_it(root_counter("shuffle_write_bytes")) / 1e6
    out["session.spill_mb"] = per_it(root_counter("spill_bytes")) / 1e6
    out["session.tasks"] = per_it(
        lambda it: root_counter("completed_tasks")(it) + root_counter("failed_tasks")(it))
    out["session.jobs"] = per_it(root_counter("jobs"))
    out["session.failed_tasks"] = sum(root_counter("failed_tasks")(it) for it in traced)
    out["sources.input_mb"] = per_it(root_counter("input_bytes")) / 1e6
    out["sources.output_mb"] = per_it(root_counter("output_bytes")) / 1e6

    for span_name, metric in SPAN_TIMES.items():
        if any(s.name == span_name for s in spans):
            out[metric] = per_it(lambda it, m=metric: sum(
                spans[i].seconds for i in under(
                    it, lambda s: SPAN_TIMES.get(s.name) == m)))

    tokens = res["truth"].get("token_total")
    for span_name, prefix in (("cli.mapreduce_plugin", "mapreduce."),
                              ("cli.mapreduce_columnar", "mapreduce.columnar_")):
        jobs = [s for s in spans if s.name == span_name and s.iteration in traced]
        if jobs and tokens:
            out[f"{prefix}shuffle_write_mb"] = median(
                s.counters["shuffle_write_bytes"] for s in jobs) / 1e6
            out[f"{prefix}shuffle_records_per_token"] = median(
                s.counters["shuffle_write_records"] for s in jobs) / tokens

    def top_level(layer: str):
        return lambda s: s.layer == layer and spans[s.parent].layer != layer

    for key, field in (("shuffle_write_mb", "shuffle_write_bytes"), ("spill_mb", "spill_bytes")):
        out[f"dedup.{key}"] = per_it(lambda it, f=field: sum(
            spans[i].counters[f] for i in under(it, top_level("dedup")))) / 1e6

    for name in RECORDED:
        vals = [v[name] for it, v in ctx.values.items() if it in traced and name in v]
        if vals:
            out[name] = median(vals)

    for layer in SELF_LAYERS:
        out[f"{layer}.self_s"] = per_it(lambda it, lay=layer: sum(
            tracer.self_seconds(i) for i in under(it, lambda s: s.layer == lay)))

    # each traced iteration against the untraced one right after it
    after = {r["it"] - 1: r for r in res["iterations"] if not r["traced"]}
    pairs = [(t, after[t]["it"]) for t in traced if t in after]
    sql = [s for s in spans if s.name == "cli.sql" and s.iteration in traced]
    if sql:
        ms = [s.seconds * 1000 for s in sql]
        out["cli.sql_ms"] = median(ms)
        out["cli.sql_p90_ms"] = statistics.quantiles(ms, n=10)[-1]
        out["cli.sql_tasks"] = median(
            s.counters["completed_tasks"] + s.counters["failed_tasks"] for s in sql)
        out["cli.sql_jobs"] = median(s.counters["jobs"] for s in sql)
        out["trace.overhead_query_ms"] = out["cli.sql_ms"] - median(
            s.seconds * 1000 for s in spans
            if s.name == "cli.sql" and s.iteration in {u for _, u in pairs})

    seconds = {r["it"]: r["seconds"] for r in res["iterations"]}
    out["trace.overhead_job_s"] = median(seconds[t] - seconds[u] for t, u in pairs)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="perfbench: one run of one workload")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "p2_mapreduce_spark", "__init__.py")) \
            or not os.path.isfile(os.path.join(FIXTURES, "smallt_out.txt")):
        print("perfbench: the engine (p2_mapreduce_spark/, tests/fixtures/) is not "
              "beside perfbench/ - run from the root of a checkout", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    res = run(args)
    ctx = res["ctx"]
    if args.trace:
        values = per_layer(res)
        metrics = {k: {"value": v, "unit": _units(k)} for k, v in values.items()}
    else:
        e2e = end_to_end(res)
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    failed_ratio = ctx.failed / ctx.attempted
    warm = sum(1 for r in res["iterations"][1:] if not r["traced"])
    first_job_s, job_s = job_times(res)
    print(f"perfbench {args.workload} seed={args.seed} env={json.dumps(res['env'])}")
    print(f"perfbench iterations: cold=1 warm_untraced={warm} "
          f"warm_traced={sum(1 for r in res['iterations'] if r['traced'])} "
          f"first_job_s={first_job_s:.3f} job_s={job_s:.3f} "
          f"failed_ratio={failed_ratio} ({ctx.failed}/{ctx.attempted})")
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Seeded input generator for the perfbench workloads.

Every input a workload reads is made here from ``--seed`` (numpy PCG64), so
the same seed gives byte-identical files.  Each workload directory also gets
``truth.json``: the ground truth the benchmark checks outputs against
(token totals and the expected word-count file digest, DuckDB's answers
over the generated tables, planted duplicate pairs with their Jaccard, and
planted nearest neighbours).

Outputs are cached under ``.perfbench/cache/<workload>-<seed>-<size key>``
inside the checkout and verified by SHA-256 before reuse; a directory whose
checksums do not match is regenerated.

Run as a program (the benchmark launcher does, so that generation memory
never shows in the measured process)::

    python3 perfbench/gen.py --workload cli_warehouse --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SMALLT = os.path.join(ROOT, "tests", "fixtures", "smallt.txt")

#: Input sizes.  A warm iteration takes 6-13 s on a 4-core machine, where
#: set-up and the cold iteration already cost 30-45 s, so that a run stays
#: near a minute.
SIZES = {
    "cli_warehouse": {
        "corpus": {
            "tokens": 600_000,
            "line_tokens": [6, 18],
            "zipf_s": 1.0,
            "rare_share": 0.03,
            "rare_types": 4_000,
        },
        "warehouse": {
            "customers": 3_000,
            "suppliers": 200,
            "orders": 15_000,
            "lines_per_order": [1, 7],
            "events": 20_000,
            "users": 100,
            "event_days": 3,
        },
    },
    "corpus_dedup": {
        "docs": 2_000,
        "doc_tokens": [50, 110],
        "vocab": 30_000,
        "zipf_s": 0.9,
        "exact_groups": 20,
        "exact_copies": 3,
        "near_pairs": 40,
        "near_low_pairs": 20,
        "vectors": 2_000,
        "dim": 64,
        "queries": 8,
        "planted_neighbours": 3,
        "knn_k": 10,
        "threshold": 0.8,
    },
}

#: Short ``cli sql`` queries of the ``cli_warehouse`` workload (filters,
#: small group-bys, top-k, 2-way joins).  Each is written so that Spark and
#: DuckDB give the same page: every output column is named, every order is
#: total, and exact sums go through a decimal cast and back to double.
SQL_QUERIES = [
    "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem"
    " WHERE l_quantity > 48 AND l_discount < 0.02"
    " ORDER BY l_orderkey, l_linenumber LIMIT 20",
    "SELECT l_returnflag AS flag, COUNT(*) AS n,"
    " CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue"
    " FROM lineitem GROUP BY l_returnflag ORDER BY flag",
    "SELECT c_custkey, c_name, c_acctbal FROM customer"
    " ORDER BY c_acctbal DESC, c_custkey LIMIT 10",
    "SELECT c_mktsegment AS seg, COUNT(*) AS n_orders FROM orders"
    " JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment ORDER BY seg",
]


def size_key(workload: str) -> str:
    """Key of the sizes and of this generator's own source, so that a
    changed generator (or query list) never reuses old inputs."""
    with open(os.path.abspath(__file__), "rb") as f:
        blob = f.read() + json.dumps(SIZES[workload], sort_keys=True).encode()
    return hashlib.sha256(blob).hexdigest()[:10]


def cache_dir(workload: str, seed: int) -> str:
    return os.path.join(
        ROOT, ".perfbench", "cache", f"{workload}-{seed}-{size_key(workload)}"
    )


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _files(out: str) -> list[str]:
    found = []
    for dirpath, _dirs, names in os.walk(out):
        for name in names:
            if name != "MANIFEST.json":
                found.append(os.path.relpath(os.path.join(dirpath, name), out))
    return sorted(found)


def verified(out: str) -> bool:
    """True when ``out`` holds a complete generation whose files all match
    the SHA-256 digests its manifest recorded."""
    manifest = os.path.join(out, "MANIFEST.json")
    if not os.path.isfile(manifest):
        return False
    with open(manifest) as f:
        digests = json.load(f)
    if sorted(digests) != _files(out):
        return False
    return all(_sha256(os.path.join(out, rel)) == d for rel, d in digests.items())


# --- cli_warehouse: the word-count corpus ----------------------------------


def _smallt_vocab() -> list[str]:
    """Distinct ASCII-alphanumeric tokens of the reference fixture, most
    frequent first (ties by word) - the Zipf rank order."""
    with open(SMALLT, encoding="utf-8") as f:
        toks = [t for t in re.split(r"[^a-z0-9]+", f.read().lower()) if t]
    counts: dict[str, int] = {}
    for t in toks:
        counts[t] = counts.get(t, 0) + 1
    return sorted(counts, key=lambda w: (-counts[w], w))


def _zipf_p(n: int, s: float):
    import numpy as np

    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def _rand_words(rng, n: int, lo: int = 4, hi: int = 9) -> list[str]:
    """``n`` distinct seeded lower-case words of ``lo``-``hi`` letters."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        k = int(rng.integers(lo, hi + 1))
        w = "".join(letters[i] for i in rng.integers(0, 26, size=k))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def gen_corpus(rng, out: str, cfg: dict) -> dict:
    import numpy as np

    vocab = _smallt_vocab()
    rare = ["zq" + w for w in _rand_words(rng, cfg["rare_types"])]
    words = vocab + rare
    n = cfg["tokens"]
    ids = rng.choice(len(vocab), size=n, p=_zipf_p(len(vocab), cfg["zipf_s"]))
    is_rare = rng.random(n) < cfg["rare_share"]
    ids[is_rare] = len(vocab) + rng.integers(0, len(rare), size=int(is_rare.sum()))
    lo, hi = cfg["line_tokens"]
    lines = []
    pos = 0
    while pos < n:
        k = min(int(rng.integers(lo, hi + 1)), n - pos)
        line = [words[i] for i in ids[pos:pos + k]]
        # sentence case and punctuation: both tokenizers must lower-case
        # and split on non-alphanumerics to agree
        line[0] = line[0].capitalize()
        lines.append(" ".join(line) + (", and" if rng.random() < 0.1 else "."))
        pos += k
    # ", and" adds one "and" token per such line
    n_and = sum(1 for ln in lines if ln.endswith(", and"))
    counts = np.bincount(ids, minlength=len(words))
    expected = {words[i]: int(c) for i, c in enumerate(counts) if c}
    expected["and"] = expected.get("and", 0) + n_and
    with open(os.path.join(out, "corpus.txt"), "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    tsv = "".join(f"{w}\t{expected[w]}\n" for w in sorted(expected))
    return {
        "token_total": n + n_and,
        "distinct_words": len(expected),
        "expected_tsv_sha256": hashlib.sha256(tsv.encode()).hexdigest(),
        "vocab_size": len(vocab),
        "rare_types": len(rare),
    }


# --- corpus_dedup ---------------------------------------------------------


def _shingles(tokens: list[str], n: int = 3) -> set:
    return {tuple(tokens[i:i + n]) for i in range(len(tokens) - n + 1)}


def _jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = _shingles(a), _shingles(b)
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


def _variant(rng, base: list[str], vocab: list[str], p, lo: float, hi: float):
    """A copy of ``base`` with a few tokens replaced, whose 3-shingle
    Jaccard with ``base`` lies in [lo, hi]."""
    for _ in range(200):
        m = int(rng.integers(1, 8))
        toks = list(base)
        for pos in rng.choice(len(toks), size=m, replace=False):
            toks[pos] = vocab[int(rng.choice(len(vocab), p=p))]
        j = _jaccard(base, toks)
        if lo <= j <= hi:
            return toks, j
    raise RuntimeError("could not plant a near-duplicate in range")


def gen_corpus_dedup(rng, out: str, cfg: dict) -> dict:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    vocab = _rand_words(rng, cfg["vocab"])
    p = _zipf_p(len(vocab), cfg["zipf_s"])
    lo, hi = cfg["doc_tokens"]

    def doc() -> list[str]:
        k = int(rng.integers(lo, hi + 1))
        return [vocab[i] for i in rng.choice(len(vocab), size=k, p=p)]

    texts: list[list[str]] = []
    groups: list[list[int]] = []  # slots of exact copies
    for _ in range(cfg["exact_groups"]):
        base = doc()
        groups.append(list(range(len(texts), len(texts) + cfg["exact_copies"])))
        texts.extend([base] * cfg["exact_copies"])
    near: list[tuple[int, int, float]] = []
    for count, (jlo, jhi) in (
        (cfg["near_pairs"], (0.85, 0.97)),
        (cfg["near_low_pairs"], (0.45, 0.72)),
    ):
        for _ in range(count):
            base = doc()
            var, j = _variant(rng, base, vocab, p, jlo, jhi)
            near.append((len(texts), len(texts) + 1, j))
            texts.extend([base, var])
    while len(texts) < cfg["docs"]:
        texts.append(doc())
    # doc ids are a seeded permutation, so planted copies are not adjacent
    ids = rng.permutation(len(texts)).astype(np.int64)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array([" ".join(t) for t in texts], pa.string()),
        }),
        os.path.join(out, "documents.parquet"),
    )

    thr = cfg["threshold"]
    pairs = []
    for g in groups:
        gid = sorted(int(ids[s]) for s in g)
        pairs += [[a, b, 1.0] for i, a in enumerate(gid) for b in gid[i + 1:]]
    for sa, sb, j in near:
        a, b = sorted((int(ids[sa]), int(ids[sb])))
        pairs.append([a, b, j])

    # embeddings: random directions plus, for every query, a few planted
    # neighbours within a small angle - far closer than any random vector
    n, dim, q = cfg["vectors"], cfg["dim"], cfg["queries"]
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    planted: dict[str, list[int]] = {}
    others = rng.permutation(np.arange(q, n))
    slot = 0
    for qid in range(q):
        mine = sorted(int(x) for x in others[slot:slot + cfg["planted_neighbours"]])
        slot += cfg["planted_neighbours"]
        for m in mine:
            vecs[m] = vecs[qid] + 0.15 * rng.standard_normal(dim).astype(np.float32)
        planted[str(qid)] = mine
    unit = vecs.astype(np.float64)
    unit /= np.linalg.norm(unit, axis=1, keepdims=True)
    cos = unit[:q] @ unit.T
    for qid in range(q):
        row = cos[qid].copy()
        row[qid] = -2.0
        mine = planted[str(qid)]
        rest = np.delete(row, mine + [qid])
        if row[mine].min() - rest.max() < 0.05:
            raise RuntimeError("planted neighbours are not separated")
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        }),
        os.path.join(out, "embeddings.parquet"),
    )
    return {
        "docs": len(texts),
        "vocab_size": len(vocab),
        "exact_groups": [sorted(int(ids[s]) for s in g) for g in groups],
        "pairs": pairs,
        "threshold": thr,
        "near_dup_share": round(2 * len(near) / len(texts), 4),
        "planted_neighbours": planted,
        "queries": q,
        "knn_k": cfg["knn_k"],
    }


# --- cli_warehouse: the star schema and events ------------------------------


def digest_rows(rows) -> tuple[int, str]:
    """Row count and an order-free SHA-256 of ``rows`` (each value as
    ``str``), the form in which Spark and DuckDB answers are compared."""
    lines = sorted("\t".join(str(v) for v in r) for r in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()


def sql_page(columns, rows) -> str:
    """The page ``cli sql`` prints: a TSV header, then one line per row."""
    body = "\n".join("\t".join(str(v) for v in r) for r in rows)
    header = "\t".join(columns)
    return f"{header}\n{body}" if body else header


def _dsum(expr: str, precision: int = 18, scale: int = 2) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL({precision},{scale}))) AS DOUBLE)"


_REV = "l_extendedprice * (1.0 - l_discount)"

#: DuckDB twins of the engine calls ``cli_warehouse`` makes, column for column
WAREHOUSE_ORACLE = {
    "agg_pricing": f"""
        SELECT l_returnflag, l_linestatus,
               {_dsum('l_quantity')} AS sum_qty,
               {_dsum('l_extendedprice')} AS sum_base_price,
               {_dsum(_REV, 24, 4)} AS sum_disc_price,
               {_dsum('l_quantity')} / COUNT(l_quantity) AS avg_qty,
               {_dsum('l_extendedprice')} / COUNT(l_extendedprice) AS avg_price,
               COUNT(*) AS count_order
        FROM lineitem GROUP BY 1, 2""",
    "join_orders_customer": f"""
        SELECT c_mktsegment, COUNT(*) AS n_orders,
               {_dsum('o_totalprice')} AS sum_totalprice,
               COUNT(DISTINCT c_custkey) AS n_customers
        FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1""",
    "volume_shipping": f"""
        SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
               year(l_shipdate) AS l_year, {_dsum(_REV, 24, 4)} AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        WHERE sn.n_name IN ('NATION_1', 'NATION_2')
          AND cn.n_name IN ('NATION_1', 'NATION_2')
          AND sn.n_name <> cn.n_name
        GROUP BY 1, 2, 3""",
    "sessionize": f"""
        WITH g AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN ts - LAG(ts) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id)
                        > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS is_break
            FROM events
        ), s AS (
            SELECT user_id, ts, value,
                   SUM(is_break) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_seq
            FROM g
        )
        SELECT user_id, session_seq, COUNT(*) AS n_events,
               MIN(ts) AS session_start, MAX(ts) AS session_end,
               {_dsum('value')} AS sum_value
        FROM s GROUP BY 1, 2""",
    "tumbling": f"""
        SELECT date_trunc('hour', ts) AS bucket_start, event_type,
               COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
               {_dsum('value')} AS sum_value
        FROM events GROUP BY 1, 2""",
}

WAREHOUSE_TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem", "events")


def _cents(rng, n: int, lo: int, hi: int):
    """``n`` seeded doubles with two decimals in [lo, hi) cents."""
    return rng.integers(lo, hi, size=n) / 100.0


def gen_warehouse(rng, out: str, cfg: dict) -> dict:
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    def pick(values, n):
        return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), size=n)])

    def stamps(start: str, n: int, span_us: int):
        base = np.datetime64(start, "us").astype(np.int64)
        us = base + rng.integers(0, span_us, size=n)
        return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))

    day_us = 86_400_000_000
    write("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    write("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    nc, ns, no = cfg["customers"], cfg["suppliers"], cfg["orders"]
    write("customer", {
        "c_custkey": pa.array(np.arange(1, nc + 1, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(1, nc + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, size=nc).astype(np.int32)),
        "c_acctbal": _cents(rng, nc, -99_999, 999_999),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc),
    })
    write("supplier", {
        "s_suppkey": pa.array(np.arange(1, ns + 1, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, ns + 1)],
        "s_nationkey": pa.array(rng.integers(0, 25, size=ns).astype(np.int32)),
        "s_acctbal": _cents(rng, ns, -99_999, 999_999),
    })
    okeys = np.arange(1, no + 1, dtype=np.int64)
    odate = np.datetime64("1992-01-01", "D") + rng.integers(0, 2_400, size=no)
    write("orders", {
        "o_orderkey": okeys,
        "o_custkey": rng.integers(1, nc + 1, size=no).astype(np.int64),
        "o_orderstatus": pick(["F", "O", "P"], no),
        "o_totalprice": _cents(rng, no, 100_000, 50_000_000),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no),
    })
    lo, hi = cfg["lines_per_order"]
    per = rng.integers(lo, hi + 1, size=no)
    nl = int(per.sum())
    l_order = np.repeat(okeys, per)
    l_line = (np.arange(nl) - np.repeat(np.cumsum(per) - per, per) + 1).astype(np.int32)
    ship = np.repeat(odate, per) + rng.integers(1, 122, size=nl)
    write("lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(1, 20_001, size=nl).astype(np.int64),
        "l_suppkey": rng.integers(1, ns + 1, size=nl).astype(np.int64),
        "l_linenumber": pa.array(l_line),
        "l_quantity": rng.integers(1, 51, size=nl).astype(np.float64),
        "l_extendedprice": _cents(rng, nl, 90_000, 10_500_000),
        "l_discount": rng.integers(0, 11, size=nl) / 100.0,
        "l_tax": rng.integers(0, 9, size=nl) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], nl),
        "l_linestatus": pick(["F", "O"], nl),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })
    ne = cfg["events"]
    write("events", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": stamps("2024-03-01", ne, cfg["event_days"] * day_us),
        "user_id": rng.integers(1, cfg["users"] + 1, size=ne).astype(np.int64),
        "event_type": pick(["click", "view", "cart", "purchase", "signup"], ne),
        "value": _cents(rng, ne, 0, 100_000),
    })

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in WAREHOUSE_TABLES:
        path = os.path.join(out, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    answers = {}
    for name, sql in WAREHOUSE_ORACLE.items():
        n, digest = digest_rows(con.execute(sql).fetchall())
        answers[name] = {"rows": n, "sha256": digest}
    pages = []
    for sql in SQL_QUERIES:
        cur = con.execute(sql)
        pages.append(sql_page([d[0] for d in cur.description], cur.fetchall()))
    con.close()
    return {
        "rows": {"lineitem": nl, "orders": no, "customer": nc, "supplier": ns, "events": ne},
        "answers": answers,
        "sql_pages": pages,
    }


def gen_cli_warehouse(rng, out: str, cfg: dict) -> dict:
    return {**gen_corpus(rng, out, cfg["corpus"]), **gen_warehouse(rng, out, cfg["warehouse"])}


GENERATORS = {
    "cli_warehouse": gen_cli_warehouse,
    "corpus_dedup": gen_corpus_dedup,
}


def generate(workload: str, seed: int, out: str) -> None:
    """Write the inputs and ``truth.json`` of ``workload`` for ``seed`` into
    ``out`` atomically (a sibling temp dir renamed into place)."""
    import numpy as np

    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.Generator(np.random.PCG64(seed))
    truth = GENERATORS[workload](rng, tmp, SIZES[workload])
    truth.update({"workload": workload, "seed": seed, "sizes": SIZES[workload]})
    with open(os.path.join(tmp, "truth.json"), "w") as f:
        json.dump(truth, f)
    digests = {rel: _sha256(os.path.join(tmp, rel)) for rel in _files(tmp)}
    with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
        json.dump(digests, f, indent=1)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    generate(args.workload, args.seed, args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())

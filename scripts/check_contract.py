"""Driver mimic: import __spark_entry__ as the driver does and exercise the
full contract at sf0.01 (the driver's t2 scale)."""
import sys, os, json
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as E
print("contract:", E.__file__)
import duckdb
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[8]").appName("driver-mimic")
         .config("spark.sql.shuffle.partitions", "8")
         # default 1g driver heap OOMs the heavy graph queries when this
         # mimic is pointed at sf0.1 (SF=... env); the grading harness
         # runs with a real heap, so match that
         .config("spark.driver.memory", "8g")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

# t1 smoke: entry()
df = E.entry(spark)
rows = df.collect()
print("entry(): rows=%d schema=%s first=%s last=%s" % (
    len(rows), df.schema.simpleString(), tuple(rows[0]), tuple(rows[-1])))

# t2: every queries() entry vs oracle at sf0.01
SF = os.environ.get("SF", "/root/testdata/sf0.01")
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    p = f"{SF}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

qs, oracles = E.queries(), E.oracle_sql()
only = set(sys.argv[1:])  # optional: check just the named queries
n_err = 0
for name, fn in sorted(qs.items()):
    if only and name not in only:
        continue
    try:
        sdf = fn(spark, SF)
        spdf = sdf.toPandas()
    except Exception as exc:  # keep going — the driver records per-query errs
        n_err += 1
        print(f"{name}: ERROR {type(exc).__name__}: {str(exc).splitlines()[0][:200]}")
        continue
    if name not in oracles:
        print(f"{name}: rows-only rows={len(spdf)} cols={sorted(spdf.columns)}")
        continue
    try:
        dpdf = con.sql(oracles[name]).df()
    except Exception as exc:
        n_err += 1
        print(f"{name}: ORACLE ERROR {type(exc).__name__}: {str(exc).splitlines()[0][:200]}")
        continue
    cols_ok = sorted(spdf.columns) == sorted(dpdf.columns)
    n_ok = len(spdf) == len(dpdf)
    cols = sorted(spdf.columns)
    canon = lambda pdf: sorted(tuple(repr(v) for v in r) for r in pdf[cols].itertuples(index=False))
    vals_ok = cols_ok and n_ok and canon(spdf) == canon(dpdf)
    print(f"{name}: rows spark={len(spdf)} duck={len(dpdf)} cols_ok={cols_ok} hash_ok={vals_ok}")
    if not vals_ok and cols_ok and n_ok:
        a, b = canon(spdf), canon(dpdf)
        print("  first diff:", next(((x, y) for x, y in zip(a, b) if x != y), None))
print(f"SUMMARY: errors={n_err}")
spark.stop()

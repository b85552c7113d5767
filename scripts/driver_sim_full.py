"""Full driver simulation: EVERY queries() entry on a vanilla
SparkSession (no tuned confs), compared to its oracle_sql() via DuckDB,
at the sf dir given as argv[1] (default /root/testdata/sf0.01)
with the driver-style exact comparator. Rows-only queries are executed
and schema-checked. This is the strongest local approximation of the
round driver's t2 gate."""
import importlib.util, os, sys, time
# the checkout this script lives in, not whichever one is installed
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
spec = importlib.util.spec_from_file_location("__spark_entry__", os.path.join(REPO, "__spark_entry__.py"))
mod = importlib.util.module_from_spec(spec); spec.loader.exec_module(mod)
from pyspark.sql import SparkSession
# vanilla SQL confs; the JVM size alone is pinned (local-mode default is a
# 1g driver heap, which OOMs on the sf0.1 fact tables — the round driver's
# own session is not heap-starved, so emulating 1g would test the wrong thing)
spark = (SparkSession.builder.master("local[8]")
         .config("spark.driver.memory", "8g").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
df = mod.entry(spark); assert len(df.collect()) > 0
q = mod.queries(); oracles = mod.oracle_sql()
import duckdb
sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
duck = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
from tests.parity import assert_frames_match
n_match = n_rowsonly = 0
fails = []
timings = {}
t0 = time.time()
for name in sorted(q):
    tq = time.time()
    t_spark = t_oracle = t_cmp = t_other = 0.0
    try:
        spdf = q[name](spark, sf).toPandas()
        t_spark = time.time() - tq
        if name in oracles and oracles[name]:
            odf = duck.execute(oracles[name]).df()
            t_oracle = time.time() - tq - t_spark
            assert_frames_match(spdf, odf, name)
            t_cmp = time.time() - tq - t_spark - t_oracle
            n_match += 1
        else:
            assert len(spdf.columns) > 0
            n_rowsonly += 1
    except Exception as e:
        fails.append((name, str(e)[:200]))
        # t_spark was captured right after toPandas() (0.0 if the
        # failure was inside it); the residual is oracle/compare/
        # traceback time, recorded as "other" so engine cost is never
        # conflated with harness cost even on a failing entry
        t_other = time.time() - tq - t_spark - t_oracle - t_cmp
    timings[name] = {
        "total": round(time.time() - tq, 3),
        "spark": round(t_spark, 3),
        "oracle": round(t_oracle, 3),
        "compare": round(t_cmp, 3),
        "other": round(t_other, 3),
    }
print(f"FULL DRIVER-SIM: {n_match} hash-match + {n_rowsonly} rows-only "
      f"of {len(q)} | fails={len(fails)} | {round(time.time()-t0,1)}s")
for f in fails: print("FAIL:", f)

# per-query cost artifact, split into Spark execution vs DuckDB oracle vs
# compare (so engine cost is never conflated with harness cost; first-touch
# entries also pay one-time fixture staging inside their spark share). Top
# offenders drive the optimization loop the round verdicts ask for.
import json
with open(os.path.join(REPO, "TIMINGS.json"), "w") as fh:
    json.dump({"sf": sf, "total_sec": round(time.time() - t0, 1),
               "per_query_sec": timings}, fh, indent=1, sort_keys=True)
top = sorted(timings.items(), key=lambda kv: -kv[1]["total"])[:20]
print("TOP-20 SLOWEST:", ", ".join(
    f"{k}={v['total']}s (spark {v['spark']}/oracle {v['oracle']})"
    for k, v in top))

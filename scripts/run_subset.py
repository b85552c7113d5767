"""Run a subset of registered queries against their DuckDB oracles.

Usage: python scripts/run_subset.py [--sf DIR] name [name ...]
The dev loop for new operators — same comparator as the driver sim.
"""
import os
import sys
import time

# the checkout this script lives in, not whichever one is installed
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

args = sys.argv[1:]
sf = "/root/testdata/sf0.001"
if args and args[0] == "--sf":
    sf = args[1]
    args = args[2:]

import duckdb
from pyspark.sql import SparkSession

from hadoop_deliver_spark.registry import load_all
from hadoop_deliver_spark.tables import prepare_session
from tests.parity import assert_frames_match

REG = load_all()
names = args or sorted(REG)

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.driver.memory", "8g")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
prepare_session(spark)

duck = duckdb.connect()
for t in [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]:
    duck.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
    )

fails = []
for name in names:
    q = REG[name]
    t0 = time.time()
    try:
        spdf = q.fn(spark, sf).toPandas()
        if q.oracle:
            assert_frames_match(spdf, duck.execute(q.oracle).df(), name)
            status = f"hash-match ({spdf.shape[0]} rows)"
        else:
            assert len(spdf.columns) > 0
            status = f"rows-only ({spdf.shape[0]} rows)"
    except Exception as e:
        status = f"FAIL: {str(e)[:300]}"
        fails.append(name)
    print(f"{name}: {status} [{round(time.time() - t0, 1)}s]")

print(f"\n{len(names) - len(fails)}/{len(names)} ok; fails={fails}")
sys.exit(1 if fails else 0)

"""Optimization-round measurement harness.

Usage: python scripts/opt_measure.py [--sf DIR] [--plan before|after|none]
                                     [--reps N] name [name ...]

For each named registry query: build the DataFrame, time N full
materializations (noop-equivalent: .toPandas(), the driver-sim action,
so numbers line up with TIMINGS*.json), print the median, and (when
--plan is given) write .explain('formatted') to
plans/r12/<name>_<tag>.txt. Vanilla local[8] session — the same
environment the driver sim and TIMINGS files use.
"""
import os
import statistics
import sys
import time

# the checkout this script lives in, not whichever one is installed
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PLANS = os.path.join(REPO, "plans", "r12")
sys.path.insert(0, REPO)

args = sys.argv[1:]
sf = "/root/testdata/sf0.1"
plan_tag = None
reps = 3
while args and args[0].startswith("--"):
    if args[0] == "--sf":
        sf = args[1]
    elif args[0] == "--plan":
        plan_tag = None if args[1] == "none" else args[1]
    elif args[0] == "--reps":
        reps = int(args[1])
    args = args[2:]

from pyspark.sql import SparkSession  # noqa: E402

from hadoop_deliver_spark.registry import load_all  # noqa: E402

REG = load_all()
spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.driver.memory", "8g")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

os.makedirs(PLANS, exist_ok=True)

for name in args:
    q = REG[name]
    runs = []
    for i in range(reps):
        spark.sparkContext.setJobDescription(f"{name} rep{i}")
        t0 = time.perf_counter()
        df = q.fn(spark, sf)
        n = df.toPandas().shape[0]
        runs.append(time.perf_counter() - t0)
    spark.sparkContext.setJobDescription(None)
    if plan_tag:
        df = q.fn(spark, sf)
        with open(os.path.join(PLANS, f"{name}_{plan_tag}.txt"), "w") as fh:
            fh.write(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted")))
    print(
        f"{name}: median {statistics.median(runs):.2f}s "
        f"min {min(runs):.2f}s runs={[round(r, 2) for r in runs]} rows={n}"
    )

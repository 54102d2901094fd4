"""Time individual registry queries at sf0.1 with the bench action
(noop-format write = full materialization). Usage:
  python tools/qbench.py corpus_decontaminate dedup_simhash [--explain]
"""
import os, sys, time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

from iceberg_geospatial_api_server_spark.session import get_spark

spark = get_spark(app_name="qbench", master=f"local[{CPUS}]",
                  shuffle_partitions=CPUS)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as E

qs = E.queries()
# same warmup as bench.py: one JVM query + the FULL Arrow/python worker
# pool (CPUS partitions so all worker slots pre-fork, not just one)
qs["q1_pricing_summary"](spark, SF_DIR).collect()
from pyspark.sql.functions import pandas_udf

spark.range(0, CPUS, 1, CPUS).mapInPandas(lambda it: it, "id long").collect()


@pandas_udf("double")
def _warm_udf(s):
    return s


_warm = spark.range(0, CPUS, 1, CPUS).selectExpr("CAST(id AS DOUBLE) x")
_warm.select(_warm_udf("x")).collect()

names = [a for a in sys.argv[1:] if not a.startswith("--")]
explain = "--explain" in sys.argv
reps = int(os.environ.get("QBENCH_REPS", "2"))
for name in names:
    best = None
    for _ in range(reps):
        t0 = time.perf_counter()
        df = qs[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
        spark.catalog.clearCache()  # same hygiene as bench.py
    print(f"{name:30s} {best:6.2f}s")
    if explain:
        qs[name](spark, SF_DIR).explain("formatted")

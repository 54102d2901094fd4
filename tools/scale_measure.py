"""Scaling experiment: per-query time at sf0.1 vs the 10x proxy.

Build the proxy first with tools/build_scale_proxy.py; results are the
SCALE_r04.json artifact discussed in SURVEY §6. Warms BOTH pandas-UDF
execution kinds before timing (see the geo_pip warmup artifact note).
"""
import json, os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from iceberg_geospatial_api_server_spark.session import get_spark

QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q9_product_type_profit", "q21_waiting_suppliers",
    "orders_brand_affinity", "top3_orders_per_priority",
    "events_windowed_agg", "events_sessionize", "asof_join_events_orders",
    "events_outliers", "geo_extent", "geo_knn", "geo_pip_join_count",
    "geo_grid_aggregate", "text_profile", "doc_chunks", "corpus_split",
    "pack_sequences", "text_tfidf_topk", "corpus_epoch_order",
    "embed_quantize_int8", "ann_bruteforce_topk", "corpus_source_stats",
]
spark = get_spark(app_name="scale", master="local[32]", shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as E
qs = E.queries()
# warm pools like bench.py
qs["q1_pricing_summary"](spark, "/root/testdata/sf0.1").collect()
from pyspark.sql.functions import pandas_udf
spark.range(0, 32, 1, 32).mapInPandas(lambda it: it, "id long").collect()


# warm the SCALAR pandas-UDF worker kind too — omitting it produced the
# geo_pip 8.4s artifact recorded in SURVEY §6
@pandas_udf("double")
def _warm_udf(s):
    return s


spark.range(0, 32, 1, 32).selectExpr("CAST(id AS DOUBLE) x").select(
    _warm_udf("x")
).collect()

def t(name, sf_dir):
    run = lambda: qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    samples = []
    for _ in range(2):
        t0 = time.perf_counter(); run(); samples.append(time.perf_counter() - t0)
        spark.catalog.clearCache()
    if max(samples) > 1.5 * min(samples):
        t0 = time.perf_counter(); run(); samples.append(time.perf_counter() - t0)
        spark.catalog.clearCache()
    return round(min(samples), 3)

names = [a for a in sys.argv[1:] if not a.startswith("-")] or QUERIES
out = {}
for name in names:
    a = t(name, "/root/testdata/sf0.1")
    b = t(name, "/tmp/sfx")
    out[name] = {"sf01": a, "sf1": b, "ratio": round(b / a, 2)}
    print(f"# {name}: {a:.2f}s -> {b:.2f}s ({b/a:.1f}x)", file=sys.stderr)
print(json.dumps(out))

"""Build a ~sf1 proxy (SCALE_r04.json provenance — run me, then tools/scale_measure.py): 10x sf0.1 with referentially-consistent key
offsets per replica (joins stay valid; dims and facts grow together).
Writes /tmp/sfx/*.parquet. Timestamps/payloads untouched."""
import os
import sys
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import functions as F
from iceberg_geospatial_api_server_spark.session import get_spark

R = 10
OFF = {  # per-replica key strides (>= max key + 1, round)
    "l_orderkey": 200000, "o_orderkey": 200000,
    "l_partkey": 20000, "p_partkey": 20000,
    "l_suppkey": 1000, "s_suppkey": 1000,
    "o_custkey": 20000, "c_custkey": 20000,
    # user_id ≡ custkey in this testdata (the as-of join's key), so it
    # MUST stride with o_custkey/c_custkey — an independent stride sends
    # replica i's events at replica 0's customers and leaves most orders
    # eventless (the r4-continuation review caught exactly that)
    "event_id": 100000, "user_id": 20000,
    "doc_id": 5000, "vec_id": 2000,
}
spark = get_spark(app_name="sfx", master="local[32]", shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")
SRC = "/root/testdata/sf0.1"
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    df = spark.read.parquet(f"{SRC}/{t}.parquet")
    if t in ("region", "nation"):
        out = df  # shared dims: keys referenced as-is by every replica
    else:
        parts = []
        for i in range(R):
            p = df
            for c in df.columns:
                if c in OFF:
                    p = p.withColumn(c, F.col(c) + F.lit(i * OFF[c]))
            parts.append(p)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
    out.write.mode("overwrite").parquet(f"/tmp/sfx/{t}.parquet")
    print(t, out.count())
spark.stop()

"""Partition-scoped CoW write-cost proxy (VERDICT r9 directive 2's
10x bar): measure overwrite_partitions at sf0.1 vs the 10x proxy
(/tmp/sfx — build with tools/build_scale_proxy.py) and show that the
per-batch write cost tracks the TOUCHED-PARTITION FRACTION, not the
dimension.

Two claims, both measured:
* fixed n_buckets (64): a 4-bucket rewrite costs ~4/64 of the full
  dimension write AT BOTH SCALES (the fraction is scale-invariant);
* scaled n_buckets (64 -> 640, bucket size held constant, the way a
  real deployment sizes buckets): the 4-bucket rewrite cost is ~FLAT
  across the 10x growth — the dimension grew, the batch write didn't.

The dimension and the change batch are MATERIALIZED to parquet outside
the timers (a stored dim and an arriving batch are inputs at merge
time, not recomputed from the fact table). Timed sections, best-of-2:
* full write = read dim parquet + partitionBy write of ALL buckets +
  manifest commit (a fresh table per rep);
* touched write = partition-pruned read of the TOUCHED buckets (from
  v1 each rep — merging onto the merged head would trip the order
  guard) + batch-scoped merge + partitionBy write of the touched
  buckets + manifest commit.
"""
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from iceberg_geospatial_api_server_spark.operators.relational import (
    scd2_from_changelog,
    scd2_merge,
)
from iceberg_geospatial_api_server_spark.session import get_spark
from iceberg_geospatial_api_server_spark.sources.fs_versioned import (
    VersionedTable,
)
from iceberg_geospatial_api_server_spark.util import epoch_of

TOUCHED = 4


def run(spark, sf_dir: str, n_buckets: int) -> dict:
    events = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    sec = epoch_of(events, "ts")
    cl = (
        events.select(
            "user_id",
            sec("ts", "MICROSECOND").alias("ts_us"),
            "event_type",
        )
        .groupBy("user_id", "ts_us")
        .agg(F.max("event_type").alias("attr"))
    )
    day = (F.col("ts_us") / F.lit(86_400_000_000)).cast("long")
    lo, hi = cl.agg(F.min(day), F.max(day)).first()
    cutoff_us = ((lo + hi) // 2 + 1) * 86_400_000_000
    bucket = F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)).cast("int")
    touch = list(range(TOUCHED))

    base = tempfile.mkdtemp(prefix="cow_proxy_")
    out: dict = {"n_buckets": n_buckets, "touched": TOUCHED}
    try:
        # materialize the inputs OUTSIDE the timers
        scd2_from_changelog(
            cl.filter(F.col("ts_us") < F.lit(cutoff_us))
        ).withColumn("b", bucket).write.parquet(f"{base}/dim")
        cl.filter(
            (F.col("ts_us") >= F.lit(cutoff_us)) & bucket.isin(touch)
        ).write.parquet(f"{base}/batch")
        dim = spark.read.parquet(f"{base}/dim")
        batch = spark.read.parquet(f"{base}/batch")

        full_samples = []
        for i in range(2):
            vt_full = VersionedTable(spark, f"{base}/full{i}")
            t0 = time.perf_counter()
            vt_full.overwrite_partitions(dim, "b")
            full_samples.append(time.perf_counter() - t0)
        out["full_write_sec"] = round(min(full_samples), 3)
        vt = VersionedTable(spark, f"{base}/full0")
        out["dim_rows"] = sum(
            b["n_rows"] for b in vt.buckets().values()
        )
        samples = []
        for _ in range(2):
            # each rep re-applies the batch to the PRE-merge snapshot
            # (v1) — merging onto the already-merged head would trip
            # the append-order guard, correctly
            part = vt.read_buckets(
                touch, version=1, with_bucket_col=False
            )
            merged = scd2_merge(part, batch).withColumn("b", bucket)
            t0 = time.perf_counter()
            vt.overwrite_partitions(merged, "b")
            samples.append(time.perf_counter() - t0)
        out["touched_write_sec"] = round(min(samples), 3)
        out["touched_rows"] = sum(
            vt.buckets()[str(t)]["n_rows"]
            for t in touch
            if str(t) in vt.buckets()
        )
        out["fraction_expected"] = round(TOUCHED / n_buckets, 4)
        out["fraction_measured"] = round(
            out["touched_write_sec"] / out["full_write_sec"], 4
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


def main() -> None:
    spark = get_spark(
        app_name="cow_proxy", master="local[32]", shuffle_partitions=32
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet("/root/testdata/sf0.1/events.parquet").count()
    res = {
        "fixed_buckets": {
            "sf01": run(spark, "/root/testdata/sf0.1", 64),
            "sf1": run(spark, "/tmp/sfx", 64),
        },
        "scaled_buckets": {
            "sf01": run(spark, "/root/testdata/sf0.1", 64),
            "sf1": run(spark, "/tmp/sfx", 640),
        },
    }
    print(json.dumps(res, indent=1))


if __name__ == "__main__":
    main()

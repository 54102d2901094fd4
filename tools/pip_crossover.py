"""Time a polygon-filtered count on the persisted lineitem point layer by
both point-in-polygon paths of `engine.query_features`, per filter edge
count, to place `geo.functions._PIP_SQL_MAX_EDGES`.

- "sql": the layer as served (declares ["Point"]), so the filter is tested
  by `geo.functions.point_in_polygon_sql`; the cap is lifted for the run.
- "udf": the same layer with the declaration cleared, so the filter runs
  through `st_contains_point` | `st_point_on_edge` (pandas UDFs).

Every trial counts a fresh regular n-gon (random centre, radius, rotation),
so each request carries new constants and pays its code generation as a
served request does. The two paths run back to back on the same filter,
in alternating order, and must return the same count.

Usage: python tools/pip_crossover.py [--edges 8,16,32,64,128] [--reps 5]
           [--slots 2] [--seed 1] [--out result.json]
The source is $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.01).
"""

import argparse
import json
import math
import os
import random
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def ngon_params(rng: random.Random, n: int) -> dict:
    """Count-only `intersects` params for a fresh regular n-gon."""
    cx, cy = rng.uniform(-120, 120), rng.uniform(-50, 50)
    r, rot = rng.uniform(15, 30), rng.uniform(0, 2 * math.pi)
    ring = [
        [cx + r * math.cos(rot + 2 * math.pi * i / n),
         cy + r * math.sin(rot + 2 * math.pi * i / n)]
        for i in range(n)
    ]
    return {"f": "json", "returnCountOnly": "true",
            "where": f"l_quantity > {rng.randrange(5, 45)}",
            "geometryType": "esriGeometryPolygon",
            "geometry": json.dumps({"rings": [ring + ring[:1]]})}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--edges", default="8,16,32,64,128")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--slots", type=int, default=2)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out")
    args = ap.parse_args()
    edges = [int(e) for e in args.edges.split(",")]

    from iceberg_geospatial_api_server_spark import api
    from iceberg_geospatial_api_server_spark.geo import functions as G
    from iceberg_geospatial_api_server_spark.session import get_spark
    from iceberg_geospatial_api_server_spark.sources.geo_layer import (
        lineitem_bbox_layer,
    )
    from iceberg_geospatial_api_server_spark.sources.tables import (
        ensure_workers_can_import,
    )

    spark = get_spark(app_name="pip_crossover", master=f"local[{args.slots}]",
                      shuffle_partitions=args.slots)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_workers_can_import(spark)
    G._PIP_SQL_MAX_EDGES = max(edges)
    layers = {"sql": lineitem_bbox_layer(spark, SF_DIR)}
    layers["udf"] = G.declare_geometry_types(layers["sql"], [])
    assert G.declared_geometry_types(layers["sql"]) == ["Point"]
    assert G.declared_geometry_types(layers["udf"]) == []

    rng = random.Random(args.seed)
    # warm the JVM and the whole Python worker pool outside the timings
    for side in ("sql", "udf", "sql", "udf"):
        api.query_layer(layers[side], ngon_params(rng, 4))

    trials = []
    for n in edges:
        for rep in range(args.reps):
            params = ngon_params(rng, n)
            order = ("sql", "udf") if rep % 2 == 0 else ("udf", "sql")
            trial = {"edges": n, "rep": rep, "first": order[0]}
            for side in order:
                t0 = time.perf_counter()
                trial[f"{side}_count"] = api.query_layer(layers[side], params)[0]["count"]
                trial[f"{side}_ms"] = round(1000 * (time.perf_counter() - t0), 1)
            assert trial["sql_count"] == trial["udf_count"], trial
            print(json.dumps(trial), flush=True)
            trials.append(trial)

    summary = {
        n: {side: statistics.median(t[f"{side}_ms"] for t in trials
                                    if t["edges"] == n)
            for side in ("sql", "udf")}
        for n in edges
    }
    for n, m in summary.items():
        print(f"edges={n:4d}  sql p50 {m['sql']:7.1f} ms  udf p50 {m['udf']:7.1f} ms")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"sf_dir": SF_DIR, "slots": args.slots, "seed": args.seed,
                       "reps": args.reps, "median_ms": summary,
                       "trials": trials}, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()

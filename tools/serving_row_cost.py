"""Time served requests on the persisted lineitem point layer in the
serving session (interpreted evaluation) and in the caller's session
(whole-stage codegen), to measure what interpreted evaluation costs per row.

Request kinds, each with fresh constants per trial:
- "page": a 50-feature Esri JSON page inside a 30x20 degree box;
- "count": a count inside a 60x40 degree box with an attribute filter;
- "export": an unbounded export (resultRecordCount=0) of two attributes
  inside a 90x60 degree box.

- "serving": `api.query_layer` as shipped, re-binding the layer to
  `session.serving_session`.
- "codegen": the same handler with `session.served` replaced by the
  identity, so the request runs in the caller's session, which keeps
  whole-stage codegen and compiles each request's new constants.

The two sides run back to back on the same request, in alternating order,
and must return the same payload.

Usage: python tools/serving_row_cost.py SF_DIR [--reps 6] [--slots 2]
           [--seed 1] [--out result.json]
SF_DIR holds the source lineitem.parquet; the sf0.1 testdata gives the
600k-point layer.
"""

import argparse
import json
import os
import random
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _box(rng: random.Random, w: float, h: float) -> str:
    x, y = rng.uniform(-180.0, 180.0 - w), rng.uniform(-85.0, 85.0 - h)
    return f"{x},{y},{x + w},{y + h}"


def request(rng: random.Random, kind: str) -> dict:
    """Esri query params of one `kind` request with fresh constants."""
    if kind == "page":
        return {"f": "json", "resultRecordCount": 50, "geometry": _box(rng, 30, 20)}
    if kind == "count":
        return {"f": "json", "returnCountOnly": "true",
                "where": f"l_quantity > {rng.randrange(5, 45)}",
                "geometry": _box(rng, 60, 40)}
    return {"f": "json", "resultRecordCount": 0, "returnGeometry": "false",
            "outFields": "l_orderkey,l_quantity", "geometry": _box(rng, 90, 60)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("--reps", type=int, default=6)
    ap.add_argument("--slots", type=int, default=2)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out")
    args = ap.parse_args()

    from iceberg_geospatial_api_server_spark import api, session
    from iceberg_geospatial_api_server_spark.sources.geo_layer import (
        lineitem_bbox_layer,
    )

    spark = session.get_spark(app_name="serving_row_cost",
                              master=f"local[{args.slots}]",
                              shuffle_partitions=args.slots)
    spark.sparkContext.setLogLevel("ERROR")
    layer = lineitem_bbox_layer(spark, args.sf_dir)
    n_rows = layer.count()
    rebind = session.served

    def run(side: str, params: dict):
        session.served = rebind if side == "serving" else (lambda df: df)
        try:
            t0 = time.perf_counter()
            payload = api.query_layer(layer, dict(params))[0]
            return payload, round(1000 * (time.perf_counter() - t0), 1)
        finally:
            session.served = rebind

    rng = random.Random(args.seed)
    kinds = ("page", "count", "export")
    for kind in kinds:  # warm both sides outside the timings
        for side in ("serving", "codegen"):
            run(side, request(rng, kind))

    trials = []
    for rep in range(args.reps):
        for kind in kinds:
            params = request(rng, kind)
            order = ("serving", "codegen") if rep % 2 == 0 else ("codegen", "serving")
            trial = {"kind": kind, "rep": rep, "first": order[0]}
            got = {}
            for side in order:
                got[side], trial[f"{side}_ms"] = run(side, params)
            assert got["serving"] == got["codegen"], trial
            p = got["serving"]
            trial["rows"] = p["count"] if kind == "count" else len(p["features"])
            print(json.dumps(trial), flush=True)
            trials.append(trial)

    summary = {}
    for kind in kinds:
        ts = [t for t in trials if t["kind"] == kind]
        m = {side: statistics.median(t[f"{side}_ms"] for t in ts)
             for side in ("serving", "codegen")}
        m["serving_over_codegen"] = round(m["serving"] / m["codegen"], 3)
        m["rows_median"] = statistics.median(t["rows"] for t in ts)
        summary[kind] = m
        print(f"{kind:7s} serving p50 {m['serving']:8.1f} ms  codegen p50 "
              f"{m['codegen']:8.1f} ms  ratio {m['serving_over_codegen']:.3f}  "
              f"rows {m['rows_median']}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"sf_dir": args.sf_dir, "layer_rows": n_rows,
                       "slots": args.slots, "seed": args.seed,
                       "reps": args.reps, "median_ms": summary,
                       "trials": trials}, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
